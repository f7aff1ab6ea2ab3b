"""Persisted IVF index — the production ANN serving path.

``operators.similarity.ivf_topk`` trains its coarse quantizer per
query call; a real deployment trains ONCE, lays the corpus out as a
cluster-partitioned vector lake, and serves every query from the
persisted artifact. This module is that path:

* ``build_ivf_index``: train the quantizer on a bounded driver-side
  sample, assign every vector JVM-side (centroid literals folded into
  the plan), and write

      <dir>/centroids/            k rows: (list_id, centroid)
      <dir>/vectors/list_id=K/    the corpus, partitioned by list

  The partitioned layout is the point: probing n lists becomes a
  PARTITION-PRUNED scan — at 100 TB a 2-probe query reads 2/k of the
  corpus bytes, enforced by the storage layout rather than a runtime
  filter.

* ``ivf_index_topk``: read the k centroid rows (bounded), fold them
  back to plan-time literals for query assignment, restrict the
  vector lake to the probed partitions with a LITERAL IN filter (so
  the parquet source prunes partitions — asserted in tests), and
  score per-list exactly like the in-memory path.

Index build is one corpus scan + one partitioned write; queries touch
only probed partitions. Rebuilds go through a fresh directory +
atomic swap (see sources.maintenance for the rename discipline).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.session import local_rows_df

from dww_data_pipeline_spark.functions.vectors import cosine
from dww_data_pipeline_spark.operators.similarity import (
    _centroid_probe_col,
    _kmeans_centroids,
    _nearest_centroid_col,
    _topk,
)


# The store's own schema: reads pin it, so a load infers nothing from
# the files.
IVF_CENTROIDS_SCHEMA = "list_id int, centroid array<double>"


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    n_lists: int = 16,
    sample_size: int = 2000,
    seed: int = 42,
) -> int:
    """Train + assign + persist. Returns the number of lists written."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_size).collect()],
        dtype="float64",
    )
    centroids = _kmeans_centroids(sample, k=n_lists, seed=seed)
    spark = corpus.sparkSession
    cent_df = local_rows_df(
        spark,
        [(int(j), [float(x) for x in c]) for j, c in enumerate(centroids)],
        IVF_CENTROIDS_SCHEMA,
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_centroid_col(vec_col, centroids).alias("list_id"),
    )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        os.path.join(out_dir, "vectors")
    )
    return len(centroids)


def load_ivf_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    """The persisted IVF quantizer, list_id-ordered, as a (k, dim)
    float array.  Bounded collect: n_lists rows."""
    rows = sorted(
        spark.read.schema(IVF_CENTROIDS_SCHEMA)
        .parquet(os.path.join(index_dir, "centroids"))
        .collect(),
        key=lambda r: r["list_id"],
    )
    if not rows:
        raise ValueError(f"empty centroid table under {index_dir}")
    return np.array([r["centroid"] for r in rows], dtype="float64")


def ivf_index_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 1,
    query_id: str = "query_id",
) -> DataFrame:
    """Approximate top-k served from the persisted index.

    The probed list ids are collected up front (bounded by n_lists)
    and pushed as a LITERAL IN filter so the parquet source prunes
    non-probed partitions — the scan is nprobe/n_lists of the lake
    by layout, not by luck.
    """
    centroids = load_ivf_centroids(spark, index_dir)
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(f"nprobe must be in [1, {len(centroids)}], got {nprobe}")

    q_assigned = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qv")
    ).withColumn("_list", F.explode(_centroid_probe_col("_qv", centroids, nprobe)))
    # bounded collect: at most n_lists distinct probed ids
    probed = sorted(
        r["_list"] for r in q_assigned.select("_list").distinct().collect()
    )
    vectors = spark.read.parquet(os.path.join(index_dir, "vectors")).filter(
        F.col("list_id").isin(probed)
    )
    pairs = vectors.withColumnRenamed("list_id", "_list").join(
        F.broadcast(q_assigned), "_list"
    )
    scored = pairs.select(
        query_id,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos"),
    )
    return _topk(scored, query_id, id_col, k)


# ---------------------------------------------------------------------------
# Exact-integer coarse-quantizer store + lifecycle (c8's artifact).
#
# build_ivf_index above is the float/numpy serving index; the pieces
# below persist the EXACT-INTEGER coarse quantizer the s2/s11/s19
# family trains (plans.pipeline_ext2._train_coarse — bit-identical to
# the oracles' unrolled CTE recurrence), so the index lifecycle can
# be closed the way c6 closes the tokenizer's: s19's staleness gate
# runs against the PERSISTED quantizer, and a rebuild verdict
# triggers train-fresh + atomic directory swap
# (sources.maintenance.swap_dir).  The artifact is k x 64 integers —
# KB-scale at any corpus size.  Training and the gate each have two
# legs: while the vector table fits under the session's driver-collect
# cap (64 cells a vector, so 16,384 vectors) it is collected once and
# the exact integers run in the driver; above the cap the distributed
# plans run unchanged.  The store write, swap and read-backs are the
# same on both legs.
# ---------------------------------------------------------------------------

COARSE_CENTROIDS_SCHEMA = "j int, cv array<long>"


def build_coarse_store(vq: DataFrame, out_dir: str) -> int:
    """Train the exact-integer coarse quantizer on ``vq`` (vec_id,
    vq array<long>) and persist it under <out_dir>/centroids.
    Returns k."""
    from dww_data_pipeline_spark.plans.pipeline_ext2 import _train_coarse

    cents = _train_coarse(vq)
    spark = vq.sparkSession
    local_rows_df(
        spark,
        [(j, [int(x) for x in cv]) for j, cv in enumerate(cents)],
        COARSE_CENTROIDS_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )
    return len(cents)


def load_coarse_centroids(spark: SparkSession, store_dir: str) -> list[list[int]]:
    """The persisted quantizer, j-ordered.  Bounded collect: k x 64
    integers."""
    rows = sorted(
        spark.read.schema(COARSE_CENTROIDS_SCHEMA)
        .parquet(os.path.join(store_dir, "centroids"))
        .collect(),
        key=lambda r: r["j"],
    )
    if not rows:
        raise ValueError(f"empty centroid table under {store_dir}")
    return [list(r["cv"]) for r in rows]


def coarse_centroid_fingerprint(cents: list[list[int]]) -> int:
    """Order-independent exact fingerprint of a quantizer: sum of
    32-bit md5 prefixes of 'j|c0,c1,...' (the t36 merge-hash recipe;
    bounded — k rows)."""
    import hashlib

    return sum(
        int(
            hashlib.md5(
                f"{j}|{','.join(str(int(x)) for x in cv)}".encode()
            ).hexdigest()[:8],
            16,
        )
        for j, cv in enumerate(cents)
    )


def coarse_index_lifecycle_tick(
    spark: SparkSession,
    store_dir: str,
    q: DataFrame,
    retrain_vq: DataFrame,
    n_steps: int,
) -> dict:
    """Close the ANN-index lifecycle: gate -> (on a rebuild verdict)
    retrain -> swap — the c6 composition discipline applied to
    s19 + the persisted quantizer.  ``q``: (vec_id, vq, step) with
    step 0 = the base corpus the stored quantizer was trained on and
    1..n_steps the arrival order; ``retrain_vq``: the corpus a
    rebuild retrains on (vec_id, vq).  Runs s19's factored gate with
    the LOADED centroids (assignment + frozen probe panel both from
    the artifact, never an in-query retrain); on the final cumulative
    step's rebuild verdict, trains a fresh quantizer over
    ``retrain_vq`` into a sibling temp dir and swaps it in atomically.
    Returns {"rebuild", "swapped", "gate"} (gate = the bounded
    (n_steps + 1)-row decision table as Rows).

    Two legs, chosen by the measured size of ``q``: under the
    session's driver-collect cap at 64 cells a row (16,384 vectors)
    one collect of (vec_id, vq, step) feeds the assignment, the probe
    panel and ``index_staleness_gate_driver`` in the driver; above it
    the assignment folds the centroids into the plan and the
    DataFrame ``index_staleness_gate`` runs distributed.  Both emit
    the same rows (pinned by tests/test_ann_index.py)."""
    import shutil
    import tempfile

    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _PQ_QUERIES,
        _PQ_TOPK,
        _coarse_probe_panel,
        _coarse_rank,
        _ivfpq_coarse_expr,
        _query_rows,
    )
    from dww_data_pipeline_spark.plans.selection_plans import (
        index_staleness_gate,
        index_staleness_gate_driver,
    )
    from dww_data_pipeline_spark.session import collect_under_cap
    from dww_data_pipeline_spark.sources.maintenance import swap_dir

    ccents = load_coarse_centroids(spark, store_dir)
    gate_args = dict(n_steps=n_steps, k=_PQ_TOPK, n_queries=len(_PQ_QUERIES))
    rows = collect_under_cap(q.select("vec_id", "vq", "step"), row_cells=64)
    if rows is not None:
        # driver leg: assignment, probe panel and gate from one collect
        qrows = {r[0]: list(r[1]) for r in rows if r[0] in _PQ_QUERIES}
        assigned = [
            (r[0], r[2], list(r[1]), _coarse_rank(r[1], ccents)[0])
            for r in rows
        ]
        gate = index_staleness_gate_driver(
            assigned, _coarse_probe_panel(qrows, ccents), **gate_args
        )
    else:
        # frozen probe panel: 3 x 64 integer collect (e7 discipline)
        qrows = _query_rows(q)
        assigned = q.select(
            "vec_id",
            "step",
            "vq",
            F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster"),
        )
        queries = local_rows_df(
            spark,
            _coarse_probe_panel(qrows, ccents),
            "query_id long, qv array<long>, cells array<int>",
        )
        gate = index_staleness_gate(
            assigned, queries, **gate_args
        ).collect()  # bounded: n_steps + 1 rows
    final = max(gate, key=lambda r: r["step"])
    swapped = False
    if final["rebuild"]:
        tmp = tempfile.mkdtemp(prefix="dww_coarse_rebuild_")
        try:
            build_coarse_store(retrain_vq, tmp)
            swap_dir(store_dir, tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        swapped = True
    return {"rebuild": bool(final["rebuild"]), "swapped": swapped, "gate": gate}
