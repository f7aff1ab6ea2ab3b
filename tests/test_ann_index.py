"""Persisted IVF index (sources/ann_index.py): build/query round
trip, partition-pruned probe scans, parity with the in-memory path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dww_data_pipeline_spark.sources.ann_index import (
    build_ivf_index,
    ivf_index_topk,
    load_ivf_centroids,
)
from dww_data_pipeline_spark.sources.catalog import load_table


N_LISTS = 8


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivf") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    n = build_ivf_index(
        emb, "vec_id", "embedding", out, n_lists=N_LISTS, sample_size=500
    )
    assert n == N_LISTS
    return out


def _queries(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


class TestIvfIndex:
    def test_layout_on_disk(self, index_dir, spark):
        assert os.path.isdir(os.path.join(index_dir, "centroids"))
        vec_dir = os.path.join(index_dir, "vectors")
        lists = [d for d in os.listdir(vec_dir) if d.startswith("list_id=")]
        assert 1 <= len(lists) <= N_LISTS
        cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
        assert cents.count() == N_LISTS

    def test_index_preserves_every_vector(self, index_dir, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = spark.read.parquet(os.path.join(index_dir, "vectors"))
        assert vecs.count() == emb.count()
        assert vecs.select("vec_id").distinct().count() == emb.count()

    def test_probe_scan_is_partition_pruned(self, index_dir, spark, sf_dir):
        q = _queries(spark, sf_dir)
        df = ivf_index_topk(
            spark, index_dir, q, "vec_id", "embedding", k=3, nprobe=2
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the literal IN filter must reach the parquet source as a
        # partition filter — the layout, not a runtime filter, bounds
        # the scan
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "list_id" in pf

    def test_matches_in_memory_ivf(self, index_dir, spark, sf_dir):
        """Same quantizer seed + sample => identical results to the
        per-call in-memory ivf_topk."""
        from dww_data_pipeline_spark.operators.similarity import ivf_topk

        emb = load_table(spark, sf_dir, "embeddings")
        q = _queries(spark, sf_dir)
        a = {
            (r["query_id"], r["vec_id"], r["rank"])
            for r in ivf_index_topk(
                spark, index_dir, q, "vec_id", "embedding", k=3, nprobe=2
            ).collect()
        }
        b = {
            (r["query_id"], r["vec_id"], r["rank"])
            for r in ivf_topk(
                emb,
                q,
                "vec_id",
                "embedding",
                k=3,
                n_lists=N_LISTS,
                sample_size=500,
                nprobe=2,
            ).collect()
        }
        assert a == b

    def test_results_ranked_and_bounded(self, index_dir, spark, sf_dir):
        q = _queries(spark, sf_dir)
        rows = ivf_index_topk(
            spark, index_dir, q, "vec_id", "embedding", k=3, nprobe=1
        ).collect()
        assert rows
        per_q: dict[int, list] = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r)
        for qid, grp in per_q.items():
            assert len(grp) <= 3
            ranks = sorted(r["rank"] for r in grp)
            assert ranks == list(range(1, len(grp) + 1))

    def test_bad_nprobe_rejected(self, index_dir, spark, sf_dir):
        q = _queries(spark, sf_dir)
        with pytest.raises(ValueError):
            ivf_index_topk(
                spark, index_dir, q, "vec_id", "embedding", k=3, nprobe=99
            )


class TestStreamingAnnIngest:
    def test_stream_delta_then_compact(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.streaming.ann_ingest import (
            ann_ingest_batch,
            compact_ann_delta,
            read_indexed_vectors,
            stream_ann_ingest,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") < 300)
        incoming = emb.filter(F.col("vec_id") >= 300)
        idx = str(tmp_path / "index")
        build_ivf_index(base, "vec_id", "embedding", idx, n_lists=4, sample_size=200)

        # two source files -> two micro-batches
        src = str(tmp_path / "src")
        incoming.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
            f"{src}/f0"
        )
        incoming.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
            f"{src}/f1"
        )
        sdf = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = stream_ann_ingest(sdf, idx, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        total = emb.count()
        view = read_indexed_vectors(spark, idx)
        assert view.count() == total
        # streamed vectors landed under the SAME list the batch
        # assigner would pick (frozen quantizer)
        cents = load_ivf_centroids(spark, idx)
        from dww_data_pipeline_spark.operators.similarity import (
            _nearest_centroid_col,
        )

        expected = {
            (r["vec_id"], r["j"])
            for r in incoming.select(
                "vec_id", _nearest_centroid_col("embedding", cents).alias("j")
            ).collect()
        }
        got = {
            (r["vec_id"], int(r["list_id"]))
            for r in view.filter(F.col("vec_id") >= 300)
            .select("vec_id", "list_id")
            .collect()
        }
        assert got == expected

        # replaying a batch converges (idempotent overwrite)
        replay = incoming.filter(F.col("vec_id") % 2 == 0)
        ann_ingest_batch(replay, 0, idx, cents)
        assert read_indexed_vectors(spark, idx).count() == total

        # compaction folds deltas into the base lake and clears them
        n = compact_ann_delta(spark, idx)
        assert n >= 2
        import os as _os

        assert not _os.path.exists(_os.path.join(idx, "delta"))
        lake = spark.read.parquet(_os.path.join(idx, "vectors"))
        assert lake.count() == total
        # compaction is a no-op when there is nothing to fold
        assert compact_ann_delta(spark, idx) == 0

        # the persisted-index query path serves the merged lake
        qdf = (
            emb.filter(F.col("vec_id") % 100 == 0)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        rows = ivf_index_topk(
            spark, idx, qdf, "vec_id", "embedding", k=3, nprobe=2
        ).collect()
        assert rows
        # a post-ingest vector must be findable: query with its own
        # embedding -> rank-1 hit on itself (cos = 1.0)
        probe_id = 300
        self_q = emb.filter(F.col("vec_id") == probe_id).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        top = ivf_index_topk(
            spark, idx, self_q, "vec_id", "embedding", k=1, nprobe=1
        ).collect()
        assert top and top[0]["vec_id"] == probe_id


class TestIndexStalenessGate:
    def test_stream_batch_parity(self, spark, sf_dir, tmp_path):
        """The s19 gate over ann_ingest's streamed lake (persisted base
        + delta segments, cluster = on-disk list_id) must equal the
        gate over the batch-assembled corpus with the same frozen
        centroids — the streaming twin of the registered query."""
        import numpy as np

        from dww_data_pipeline_spark.operators.similarity import (
            _nearest_centroid_col,
        )
        from dww_data_pipeline_spark.plans.pipeline_ext2 import _PQ_VQ_SPARK
        from dww_data_pipeline_spark.plans.selection_plans import (
            _S19_STEPS,
            index_staleness_gate,
        )
        from dww_data_pipeline_spark.streaming.ann_ingest import (
            read_indexed_vectors,
            stream_ann_ingest,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        step = F.expr(
            "CASE WHEN vec_id % 4 = 3 "
            "THEN CAST((vec_id % 16) div 4 AS INT) + 1 ELSE 0 END"
        )
        base = emb.withColumn("step", step).filter("step = 0").drop("step")
        idx = str(tmp_path / "index")
        build_ivf_index(
            base, "vec_id", "embedding", idx, n_lists=4, sample_size=200
        )
        # arrivals stream in step order, one file -> one micro-batch
        src = str(tmp_path / "src")
        arrivals = emb.withColumn("step", step).filter("step >= 1")
        for s in range(1, _S19_STEPS + 1):
            arrivals.filter(F.col("step") == s).drop("step").coalesce(
                1
            ).write.parquet(f"{src}/f{s}")
        q = stream_ann_ingest(
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            idx,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

        cents = load_ivf_centroids(spark, idx)
        vq = F.expr(_PQ_VQ_SPARK)
        # fixed query panel with probe cells frozen against the
        # PERSISTED centroids (shared by both sides)
        qids = [0, 1, 2]
        qrows = {
            int(r["vec_id"]): (list(r["vq"]), np.array(r["embedding"], "float64"))
            for r in emb.filter(F.col("vec_id").isin(qids))
            .select("vec_id", "embedding", vq.alias("vq"))
            .collect()
        }
        qdata = []
        for qid in qids:
            qvq, qemb = qrows[qid]
            d = ((cents - qemb) ** 2).sum(axis=1)
            ranked = sorted(range(len(cents)), key=lambda j: (d[j], j))
            qdata.append((qid, qvq, ranked[:2]))
        queries = spark.createDataFrame(
            qdata, "query_id long, qv array<long>, cells array<int>"
        )

        streamed = read_indexed_vectors(spark, idx).select(
            "vec_id",
            step.alias("step"),
            vq.alias("vq"),
            F.col("list_id").cast("int").alias("cluster"),
        )
        batch = emb.select(
            "vec_id",
            step.alias("step"),
            vq.alias("vq"),
            _nearest_centroid_col("embedding", cents).cast("int").alias("cluster"),
        )
        got = sorted(
            tuple(r)
            for r in index_staleness_gate(
                streamed, queries, _S19_STEPS, k=5, n_queries=3
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in index_staleness_gate(
                batch, queries, _S19_STEPS, k=5, n_queries=3
            ).collect()
        )
        assert got == want
        assert len(got) == _S19_STEPS + 1
        by_step = {r[0]: r for r in got}
        # step 0: no arrivals yet -> zero drift, full-probe-set recall
        # is whatever the frozen index gives, corpus = base only
        assert by_step[0][2] == 0 and by_step[0][6] == 0.0
        # corpus grows monotonically across steps
        ns = [by_step[s][1] for s in range(_S19_STEPS + 1)]
        assert ns == sorted(ns) and ns[-1] == emb.count()

    def test_planted_drift_forces_rebuild(self, spark):
        """Arrivals landing entirely in one cell must push the L1
        assignment drift past 1/2 and flip the decision to rebuild,
        even when recall stays perfect (full probe coverage)."""
        from dww_data_pipeline_spark.plans.selection_plans import (
            index_staleness_gate,
        )

        # base: 8 vectors split 4/4 over cells 0/1; arrivals: 4 vectors
        # all in cell 1 (the planted shift), one per step
        rows = []
        for i in range(8):
            rows.append((i, 0, [i * 10, 0], i % 2))
        for s in range(1, 5):
            rows.append((100 + s, s, [1000 + s, 0], 1))
        assigned = spark.createDataFrame(
            rows, "vec_id long, step int, vq array<long>, cluster int"
        )
        queries = spark.createDataFrame(
            [(0, [0, 0], [0, 1])], "query_id long, qv array<long>, cells array<int>"
        )
        out = {
            r["step"]: r
            for r in index_staleness_gate(
                assigned, queries, n_steps=4, k=2, n_queries=1
            ).collect()
        }
        # both cells probed -> recall is 1.0 at every step
        assert all(r["recall_at_k"] == 1.0 for r in out.values())
        # base split 4/4 vs arrivals all-in-cell-1: L1 = |0.5 - 0| +
        # |0.5 - 1| = 1.0 > 0.5 at every arrival step
        assert out[0]["l1_assign_drift"] == 0.0 and not out[0]["rebuild"]
        for s in range(1, 5):
            assert out[s]["l1_assign_drift"] == 1.0
            assert out[s]["rebuild"]

    def test_zero_recall_steps_still_emit_rows(self, spark):
        """Adversarial probe set: the frozen cells never contain any
        assigned cluster, so every step has ZERO recall hits.  The
        gate must still emit one row per step with hits_at_k = 0 and
        rebuild = true (recall floor), matching the oracle's LEFT
        JOIN (round-9 advice)."""
        from dww_data_pipeline_spark.plans.selection_plans import (
            index_staleness_gate,
        )

        rows = [(i, 0, [i, 0], 5) for i in range(6)]
        rows += [(100 + s, s, [50 + s, 0], 5) for s in range(1, 4)]
        assigned = spark.createDataFrame(
            rows, "vec_id long, step int, vq array<long>, cluster int"
        )
        queries = spark.createDataFrame(
            [(0, [0, 0], [1, 2])], "query_id long, qv array<long>, cells array<int>"
        )
        out = {
            r["step"]: r
            for r in index_staleness_gate(
                assigned, queries, n_steps=3, k=2, n_queries=1
            ).collect()
        }
        assert sorted(out) == [0, 1, 2, 3]
        for s in range(4):
            assert out[s]["hits_at_k"] == 0
            assert out[s]["recall_at_k"] == 0.0
            assert out[s]["rebuild"]


class TestCoarseIndexLifecycle:
    """c8's core: gate -> rebuild -> swap on the persisted
    exact-integer quantizer, each verdict forced on a planted corpus."""

    def _q(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, vq array<long>, step int"
        )

    def _fingerprint(self, spark, store):
        from dww_data_pipeline_spark.sources.ann_index import (
            coarse_centroid_fingerprint,
            load_coarse_centroids,
        )

        return coarse_centroid_fingerprint(
            load_coarse_centroids(spark, store)
        )

    def test_planted_drift_forces_rebuild_and_swap(self, spark, tmp_path):
        """Base spread over four clear cells; every arrival lands in
        one cell -> assignment drift > 1/2 -> rebuild. The swapped
        store must be the full-corpus trainer's state."""
        from dww_data_pipeline_spark.sources.ann_index import (
            build_coarse_store,
            coarse_index_lifecycle_tick,
        )

        base = [
            (i, [100 * (i % 4)] * 64, 0) for i in range(16)
        ]
        # a NEW pattern (500), nearest to cell 3 (300): drift
        # concentrates there AND the full-corpus retrain moves that
        # centroid, so the swap is observable in the fingerprint
        arrivals = [
            (100 + i, [500] * 64, 1 + (i % 2)) for i in range(8)
        ]
        q = self._q(spark, base + arrivals)
        store = str(tmp_path / "coarse")
        build_coarse_store(
            q.filter("step = 0").select("vec_id", "vq"), store
        )
        pre = self._fingerprint(spark, store)
        res = coarse_index_lifecycle_tick(
            spark, store, q,
            retrain_vq=q.select("vec_id", "vq"), n_steps=2,
        )
        assert res["rebuild"] and res["swapped"]
        post = self._fingerprint(spark, store)
        assert post != pre
        ref = str(tmp_path / "ref")
        build_coarse_store(q.select("vec_id", "vq"), ref)
        assert post == self._fingerprint(spark, ref)

    def test_in_distribution_arrivals_keep(self, spark, tmp_path):
        """Arrivals mirroring the base distribution: drift stays low,
        probe-limited recall stays perfect (clear clusters), so the
        verdict is keep and the store is untouched."""
        from dww_data_pipeline_spark.sources.ann_index import (
            build_coarse_store,
            coarse_index_lifecycle_tick,
        )

        base = [(i, [100 * (i % 4)] * 64, 0) for i in range(16)]
        arrivals = [
            (100 + i, [100 * (i % 4)] * 64, 1 + (i % 2)) for i in range(8)
        ]
        q = self._q(spark, base + arrivals)
        store = str(tmp_path / "coarse")
        build_coarse_store(
            q.filter("step = 0").select("vec_id", "vq"), store
        )
        pre = self._fingerprint(spark, store)
        res = coarse_index_lifecycle_tick(
            spark, store, q,
            retrain_vq=q.select("vec_id", "vq"), n_steps=2,
        )
        assert not res["rebuild"] and not res["swapped"]
        assert self._fingerprint(spark, store) == pre


def _planted_drift_corpus() -> tuple[list, int]:
    """TestCoarseIndexLifecycle's rebuild corpus: base over four clear
    cells, every arrival in a new pattern nearest cell 3."""
    base = [(i, [100 * (i % 4)] * 64, 0) for i in range(16)]
    arrivals = [(100 + i, [500] * 64, 1 + (i % 2)) for i in range(8)]
    return base + arrivals, 2


def _seeded_random_corpus() -> tuple[list, int]:
    """60 vectors with vq cells in 0..49 (many distance ties), half the
    base and the rest arriving over 3 steps."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.randrange(50) for _ in range(64)], 0 if i < 30 else 1 + i % 3)
        for i in range(60)
    ]
    return rows, 3


class TestCoarseLifecycleLegs:
    """c8's lifecycle tick runs in the driver under the session's
    driver-collect cap and as the distributed plans above it (cap 0).
    The cap only picks the execution strategy: the gate rows, the
    verdict and the swapped store must be identical."""

    @staticmethod
    def _tick(spark, tmp_path, rows, n_steps, tag):
        from dww_data_pipeline_spark.session import local_rows_df
        from dww_data_pipeline_spark.sources.ann_index import (
            build_coarse_store,
            coarse_index_lifecycle_tick,
            load_coarse_centroids,
        )

        q = local_rows_df(spark, rows, "vec_id long, vq array<long>, step int")
        store = str(tmp_path / tag)
        build_coarse_store(q.filter("step = 0").select("vec_id", "vq"), store)
        res = coarse_index_lifecycle_tick(
            spark, store, q, retrain_vq=q.select("vec_id", "vq"),
            n_steps=n_steps,
        )
        gate = sorted(res["gate"], key=lambda r: r["step"])
        return (
            [r.asDict() for r in gate],
            [tuple(type(v) for v in r) for r in gate],
            (res["rebuild"], res["swapped"]),
            load_coarse_centroids(spark, store),
        )

    @pytest.mark.parametrize(
        "corpus", [_planted_drift_corpus, _seeded_random_corpus],
        ids=["planted_drift", "seeded_random"],
    )
    def test_driver_and_distributed_legs_agree(
        self, spark, tmp_path, monkeypatch, corpus
    ):
        from dww_data_pipeline_spark import session
        from dww_data_pipeline_spark.plans import pipeline_ext2 as pe2
        from dww_data_pipeline_spark.plans import selection_plans as sp

        calls: list[str] = []
        for mod, name in (
            (sp, "index_staleness_gate"),
            (sp, "index_staleness_gate_driver"),
            (pe2, "_train_coarse_driver"),
        ):
            real = getattr(mod, name)

            def spy(*a, _real=real, _name=name, **kw):
                calls.append(_name)
                return _real(*a, **kw)

            monkeypatch.setattr(mod, name, spy)

        rows, n_steps = corpus()
        drv = self._tick(spark, tmp_path, rows, n_steps, "driver")
        assert "index_staleness_gate_driver" in calls
        assert "_train_coarse_driver" in calls
        assert "index_staleness_gate" not in calls
        calls.clear()
        monkeypatch.setattr(session, "_DRIVER_CELL_CAP", 0)
        dist = self._tick(spark, tmp_path, rows, n_steps, "distributed")
        assert calls == ["index_staleness_gate"]

        assert len(drv[0]) == n_steps + 1
        assert drv == dist
