"""Tests for the scale-path operators: stateful streaming jumps,
skew salting, IVF similarity search.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dww_data_pipeline_spark.operators import similarity, skew
from dww_data_pipeline_spark.sources.catalog import load_table
from dww_data_pipeline_spark.streaming.events import read_events_stream
from dww_data_pipeline_spark.streaming.stateful import streaming_jumps


class TestStreamingJumps:
    def test_stateful_stream_matches_batch_window(self, spark, sf_dir):
        """The applyInPandasWithState stream must emit exactly the
        change-points the batch window operator finds."""
        stream = read_events_stream(spark, sf_dir)
        q = (
            streaming_jumps(stream)
            .writeStream.format("memory")
            .queryName("sjumps")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        try:
            got = {
                (r["entity_id"], r["ts_ms"], r["value"])
                for r in spark.sql("SELECT * FROM sjumps").collect()
            }
        finally:
            q.stop()

        # batch oracle: window lag over the same events; tie-break must
        # match the stream's stable sort on ts_ms (event order for equal
        # second-truncated ts follows the file order within a batch, so
        # compare on second-truncated timestamps, unique per user here)
        from pyspark.sql import Window

        ev = load_table(spark, sf_dir, "events").select(
            F.col("user_id").cast("long").alias("entity_id"),
            F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
            F.col("event_type").alias("value"),
        )
        w = Window.partitionBy("entity_id").orderBy("ts_ms")
        batch = (
            ev.withColumn("prev", F.lag("value").over(w))
            .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
            .select("entity_id", "ts_ms", "value")
        )
        want = {(r["entity_id"], r["ts_ms"], r["value"]) for r in batch.collect()}
        assert got == want  # ms precision: no ordering ties, exact match

    def test_batch_mode_runs_without_stream(self, spark, sf_dir):
        ev = load_table(spark, sf_dir, "events")
        out = streaming_jumps(ev)
        assert out.count() > 0
        first = out.filter(F.col("is_first")).count()
        assert first == ev.select("user_id").distinct().count()


class TestSkew:
    def test_salted_join_matches_plain(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        plain = li.join(o, "l_orderkey").count()
        salted = skew.salted_join_skewed_fact(li, o, "l_orderkey").count()
        assert salted == plain


class TestRollup:
    def test_coarsen_equals_direct(self, spark, sf_dir):
        from dww_data_pipeline_spark.streaming.rollup import coarsen, rollup_time

        ev = load_table(spark, sf_dir, "events")
        via_partials = coarsen(rollup_time(ev, "1 minute"), "1 minute", "1 hour")
        direct = rollup_time(ev, "1 hour")
        a = {
            (str(r["bucket_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in via_partials.collect()
        }
        b = {
            (str(r["bucket_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in direct.collect()
        }
        assert a == b  # decimal partials re-aggregate exactly

    def test_non_nesting_width_rejected(self, spark, sf_dir):
        from dww_data_pipeline_spark.streaming.rollup import coarsen, rollup_time

        ev = load_table(spark, sf_dir, "events")
        fine = rollup_time(ev, "7 minutes")
        with pytest.raises(ValueError, match="nest"):
            coarsen(fine, "7 minutes", "1 hour")

    def test_wrong_width_claim_rejected(self, spark, sf_dir):
        from dww_data_pipeline_spark.streaming.rollup import coarsen, rollup_time

        ev = load_table(spark, sf_dir, "events")
        fine = rollup_time(ev, "7 minutes")
        # claiming 1-minute buckets would pass divisibility and silently
        # miscount — the stamped metadata must catch the lie
        with pytest.raises(ValueError, match="materialized"):
            coarsen(fine, "1 minute", "1 hour")


class TestIVF:
    def test_ivf_topk_self_hit_and_recall(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        ivf = similarity.ivf_topk(
            emb, queries, "vec_id", "embedding", k=5, n_lists=8, sample_size=500
        )
        bf = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
        ivf_sets: dict = {}
        for r in ivf.collect():
            ivf_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        bf_sets: dict = {}
        for r in bf.collect():
            bf_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        # the query's own vector shares its centroid list → always found
        assert all(q in ivf_sets.get(q, set()) for q in bf_sets)
        recall = sum(
            len(bf_sets[q] & ivf_sets.get(q, set())) / 5 for q in bf_sets
        ) / len(bf_sets)
        assert recall > 0.3  # nprobe=1 coarse recall floor


class TestIvfMultiProbe:
    def test_nprobe_monotone_recall(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        bf = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
        bf_sets = {}
        for r in bf.collect():
            bf_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

        def recall(nprobe):
            out = similarity.ivf_topk(
                emb, queries, "vec_id", "embedding", k=5, n_lists=8, nprobe=nprobe
            )
            s = {}
            for r in out.collect():
                s.setdefault(r["query_id"], set()).add(r["vec_id"])
            return sum(
                len(bf_sets[q] & s.get(q, set())) / 5 for q in bf_sets
            ) / len(bf_sets)

        r1, r4 = recall(1), recall(4)
        assert r4 >= r1
        assert r4 >= 0.5, f"ivf nprobe=4 recall {r4} too low (nprobe=1 {r1})"

    def test_nprobe_validation(self, spark, sf_dir):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
        with _pytest.raises(ValueError):
            similarity.ivf_topk(emb, q, "vec_id", "embedding", n_lists=8, nprobe=9)


class TestPcaProjection:
    def test_components_orthonormal_and_sorted(self, spark, sf_dir):
        import numpy as np

        from dww_data_pipeline_spark.operators.similarity import pca_quality
        from dww_data_pipeline_spark.sources.catalog import load_table

        e = load_table(spark, str(sf_dir), "embeddings")
        q = pca_quality(e, "embedding", k=8, dim=64)
        comps, vals = q["components"], q["eigenvalues"]
        m = np.array(comps)
        assert np.allclose(m @ m.T, np.eye(8), atol=1e-8)
        assert vals == sorted(vals, reverse=True)
        # deterministic: a second run reproduces the components exactly
        q2 = pca_quality(e, "embedding", k=8, dim=64)
        comps2, vals2 = q2["components"], q2["eigenvalues"]
        assert comps == comps2 and vals == vals2

    def test_projection_variance_descends(self, spark, sf_dir):
        import numpy as np

        from dww_data_pipeline_spark.operators.similarity import (
            pca_project,
            pca_quality,
        )
        from dww_data_pipeline_spark.sources.catalog import load_table

        e = load_table(spark, str(sf_dir), "embeddings")
        comps = pca_quality(e, "embedding", k=4, dim=64)["components"]
        rows = pca_project(e, comps, "embedding").select("pc0", "pc1", "pc2", "pc3").collect()
        arr = np.array([[r[f"pc{i}"] for i in range(4)] for r in rows])
        second_moments = (arr * arr).mean(axis=0)
        assert all(
            second_moments[i] >= second_moments[i + 1] - 1e-9 for i in range(3)
        ), second_moments


class TestLshHubKeyGuard:
    """VERDICT r4 item 8 — make the SCALE.md claim a test: even with a
    deliberately adversarial hub SHINGLE (90% of the corpus sharing
    one 3-gram), banded-MinHash candidate volume stays Σ C(bucket,2)
    and far below corpus². The structural reason: sharing a shingle
    is not sharing a BUCKET — a band collides only when both minhash
    chunks agree, which tracks pairwise Jaccard (~1/35 here), so the
    hub key cannot collapse the corpus into one bucket the way a
    naive shared-shingle blocking scheme would."""

    N = 15_000          # sf0.1-documents scale
    HUB_SHARE = 0.9
    N_PLANTED = 20      # identical-text pairs the funnel must find

    @pytest.fixture(scope="class")
    def hub_docs(self, spark):
        import random

        rng = random.Random(0xD2D8)
        vocab = [f"w{j:04d}" for j in range(5_000)]
        rows = []
        for i in range(self.N):
            words = [vocab[rng.randrange(len(vocab))] for _ in range(20)]
            if i < self.N * self.HUB_SHARE:
                p = rng.randrange(len(words) - 2)
                words[p : p + 3] = ["hub", "hub", "hub"]
            rows.append((i, " ".join(words)))
        # planted exact duplicates: doc N+k clones doc k
        for k in range(self.N_PLANTED):
            rows.append((self.N + k, rows[k][1]))
        return spark.createDataFrame(rows, ["doc_id", "text"]).repartition(32)

    def test_candidates_stay_sum_bucket_sq(self, spark, hub_docs):
        from dww_data_pipeline_spark.plans.dedup_plans import (
            _banded_signatures,
        )

        banded = _banded_signatures(hub_docs).localCheckpoint()
        sizes = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
        stats = sizes.agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
            F.max("n").alias("max_bucket"),
        ).collect()[0]
        sum_bucket_pairs = int(stats["pairs"] or 0)
        corpus_pairs = (self.N + self.N_PLANTED) * (self.N + self.N_PLANTED - 1) // 2
        # the guard: candidate work is a small fraction of corpus²
        assert sum_bucket_pairs < 0.01 * corpus_pairs, (
            sum_bucket_pairs,
            corpus_pairs,
        )
        # and no degenerate hub bucket (0.9N docs sharing the shingle
        # must NOT share a bucket)
        assert stats["max_bucket"] < 0.01 * self.N

        # distinct candidate pairs are bounded by Σ C(bucket,2) — the
        # exact quantity the per-bucket expansion emits pre-distinct
        ids = F.sort_array(F.collect_list("doc_id"))
        pair_structs = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
        cand = (
            banded.groupBy("band", "bucket")
            .agg(ids.alias("ids"))
            .filter(F.size("ids") > 1)
            .select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b")
        )
        emitted = cand.count()
        assert emitted == sum_bucket_pairs
        distinct_cand = cand.distinct().localCheckpoint()
        assert distinct_cand.count() <= sum_bucket_pairs

        # funnel end: verify + components still find every planted
        # identical pair (identical text ⇒ identical signature ⇒
        # shared bucket in every band)
        planted = {
            (k, self.N + k) for k in range(self.N_PLANTED)
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in distinct_cand.join(
                spark.createDataFrame(
                    sorted(planted), ["id_a", "id_b"]
                ),
                ["id_a", "id_b"],
            ).collect()
        }
        assert got == planted
