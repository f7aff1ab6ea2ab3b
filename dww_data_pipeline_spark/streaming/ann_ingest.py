"""Streaming maintenance of the persisted IVF index.

New vectors arrive continuously; each micro-batch is assigned to its
nearest list with the SAME plan-time centroid literals the batch
builder used (the quantizer is frozen — re-training is a rebuild, not
an ingest concern) and lands as an idempotent delta segment:

    <index>/delta/batch=B/list_id=K/   (overwritten per batch id)

Readers union base + delta with last-write-wins on the vector id, so
at-least-once foreachBatch replay and even a crash between compaction
steps can only converge, never duplicate. ``compact_ann_delta`` folds
the accumulated deltas into the partitioned base lake through the
staged-rename swap (sources.maintenance discipline) and then clears
them — the delta-segment + periodic-merge lifecycle every production
ANN service runs.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.operators.similarity import _nearest_centroid_col
from dww_data_pipeline_spark.sources.ann_index import load_ivf_centroids


def ann_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch: assign to lists, overwrite this batch's delta
    segment (idempotent under replay)."""
    assigned = batch_df.select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_centroid_col(vec_col, centroids).alias("list_id"),
    )
    out = os.path.join(index_dir, "delta", f"batch={batch_id}")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(out)


def stream_ann_ingest(
    stream_vectors: DataFrame,
    index_dir: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the ingest flow to a streaming vector DataFrame; returns
    the started query (availableNow — drain then stop; swap the
    trigger for always-on mode). Centroids load once per run."""
    spark = stream_vectors.sparkSession
    centroids = load_ivf_centroids(spark, index_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ann_ingest_batch(
            batch_df, batch_id, index_dir, centroids, id_col, vec_col
        )

    return (
        stream_vectors.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_indexed_vectors(
    spark: SparkSession, index_dir: str, id_col: str = "vec_id"
) -> DataFrame:
    """Base lake + delta segments, deduped on the vector id (vectors
    are immutable per id, so keep-any is correct) — the read view a
    query path uses between compactions."""
    base = spark.read.parquet(os.path.join(index_dir, "vectors"))
    delta_dirs = sorted(glob.glob(os.path.join(index_dir, "delta", "batch=*")))
    if not delta_dirs:
        return base
    delta = spark.read.option(
        "basePath", os.path.join(index_dir, "delta")
    ).parquet(*delta_dirs)
    merged = base.unionByName(delta.select(*base.columns))
    return merged.dropDuplicates([id_col])


def compact_ann_delta(
    spark: SparkSession, index_dir: str, id_col: str = "vec_id"
) -> int:
    """Fold delta segments into the partitioned base lake via the
    staged-rename swap; clears the folded deltas. Convergent: the
    merged view dedups on id, so replaying compaction after any crash
    (including one between the swap and the delta cleanup) yields the
    same lake. Returns the number of delta segments folded."""
    delta_root = os.path.join(index_dir, "delta")
    delta_dirs = sorted(glob.glob(os.path.join(delta_root, "batch=*")))
    if not delta_dirs:
        return 0
    vectors_dir = os.path.join(index_dir, "vectors")
    merged = read_indexed_vectors(spark, index_dir, id_col)
    tmp = f"{vectors_dir}.__compact_{uuid.uuid4().hex[:8]}"
    old = f"{vectors_dir}.__old_{uuid.uuid4().hex[:8]}"
    try:
        merged.write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.rename(vectors_dir, old)
    try:
        os.rename(tmp, vectors_dir)
    except OSError:
        os.rename(old, vectors_dir)
        raise
    shutil.rmtree(old)
    shutil.rmtree(delta_root)
    return len(delta_dirs)


def coarse_assign_batch(
    batch_df: DataFrame,
    batch_id: int,
    ccents: list[list[int]],
    out_path: str,
    id_col: str = "vec_id",
) -> None:
    """One micro-batch of the st20 drift monitor: assign each arriving
    (vec_id, vq) row — ``vq`` is the exact-integer embedding, the
    column _ivfpq_coarse_expr folds over — to its cell under the
    vector to its cell under the FROZEN persisted exact-integer
    quantizer (sources/ann_index.py's store — never an in-stream
    retrain) and overwrite this batch's assignment segment.  Each
    row's cell depends only on the frozen centroids and the vector
    itself (the st13 contract), so the union of per-batch rows equals
    the one-shot batch assignment for ANY stream chopping — the
    parity test asserts it, and the registered st20 query aggregates
    the identical per-row core into per-batch drift metrics."""
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _ivfpq_coarse_expr,
    )

    assigned = batch_df.select(
        F.col(id_col),
        F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster"),
    )
    assigned.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch={batch_id}")
    )


def stream_coarse_drift_monitor(
    stream_vq: DataFrame,
    store_dir: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
):
    """Attach frozen-quantizer cell assignment to a streaming
    (vec_id, vq) DataFrame — the ANN analog of
    tokenizer_ingest.stream_tokenizer_oov (the st19 pattern applied
    to the s19/c8 lifecycle).  The monitor ASSIGNS; the staleness
    thresholds and the rebuild decision stay outside the stream
    (s19's gate / c8's lifecycle): ingest monitors, the lifecycle
    decides.  Returns the started query (availableNow — drain then
    stop).  Centroids load once per run (k x 64 integers, bounded).

    Per-batch cost: one narrow projection per arriving vector (the
    argmin over k literal centroids folds into whole-stage codegen);
    zero corpus re-reads, zero store mutation, per-batch overwrite
    segments so crash-replays converge."""
    from dww_data_pipeline_spark.sources.ann_index import (
        load_coarse_centroids,
    )

    spark = stream_vq.sparkSession
    ccents = load_coarse_centroids(spark, store_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        coarse_assign_batch(batch_df, batch_id, ccents, out_path, id_col)

    return (
        stream_vq.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
