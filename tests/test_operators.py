"""Operator-level tests on small handcrafted timelines.

The fixtures mirror the reference's own data shapes (FIXTURES.md §1
distribution notes): runs of consecutive same-company credits, ties
on release within a person, a first-credit jump, etc.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dww_data_pipeline_spark.operators import dedup, density, sequence, similarity

# person, movie, company, release — release strings padded (lexicographic
# order == chronological, the reference invariant)
TIMELINE = [
    ("p1", "m1", "weta", "1999-01-01"),
    ("p1", "m2", "weta", "2000-01-01"),
    ("p1", "m3", "ilm", "2001-01-01"),
    ("p1", "m4", "weta", "2003-01-01"),
    ("p2", "m1", "mpc", "1999-06-01"),
    ("p2", "m5", "mpc", "1999-06-01"),  # tie on release → movie_id tiebreak
    ("p3", "m6", "dneg", "2005-01-01"),
]

COLS = ["person_id", "movie_id", "company", "release"]
ORDER = ["release", "movie_id"]


@pytest.fixture(scope="module")
def timeline(spark):
    return spark.createDataFrame(TIMELINE, COLS)


class TestJumps:
    def test_w1_change_points(self, timeline):
        out = sequence.jumps(timeline, "person_id", "company", ORDER)
        got = {(r["person_id"], r["movie_id"]) for r in out.collect()}
        # p1: m1 (first), m3 (weta→ilm), m4 (ilm→weta); p2: m1 only; p3: m6
        assert got == {("p1", "m1"), ("p1", "m3"), ("p1", "m4"), ("p2", "m1"), ("p3", "m6")}

    def test_w2_run_lengths(self, timeline):
        out = sequence.run_lengths(timeline, "person_id", "company", ORDER)
        runs = {
            (r["person_id"], r["company"], r["run_length"]) for r in out.collect()
        }
        assert ("p1", "weta", 2) in runs  # m1+m2 consecutive
        assert ("p1", "ilm", 1) in runs
        assert ("p2", "mpc", 2) in runs  # tie rows form one run

    def test_w3_pairs_drop_same(self, timeline):
        out = sequence.consecutive_pairs(
            timeline, "person_id", ORDER, ["company", "movie_id"], drop_same_on="company"
        )
        got = {(r["movie_id"], r["next_movie_id"]) for r in out.collect()}
        assert got == {("m2", "m3"), ("m3", "m4")}  # same-company pairs dropped

    def test_w4_directional_in(self, timeline):
        # who was somewhere else right before being at ilm
        out = sequence.directional_filter(
            timeline, "person_id", ORDER, "company", "ilm", "in"
        )
        got = [(r["person_id"], r["movie_id"]) for r in out.collect()]
        assert got == [("p1", "m2")]  # the weta credit preceding the ilm one

    def test_w4_directional_out(self, timeline):
        out = sequence.directional_filter(
            timeline, "person_id", ORDER, "company", "ilm", "out"
        )
        got = [(r["person_id"], r["movie_id"]) for r in out.collect()]
        assert got == [("p1", "m4")]

    def test_w6_first_per_group_deterministic_tiebreak(self, timeline):
        out = sequence.first_per_group(timeline, "person_id", ORDER)
        got = dict((r["person_id"], r["movie_id"]) for r in out.collect())
        assert got["p2"] == "m1"  # m1 < m5 on the movie_id tiebreak

    def test_w5_dummy_departures(self, spark):
        rows = [("p1", "a", 1000 * 86400000), ("p1", "b", 1010 * 86400000)]
        df = spark.createDataFrame(rows, ["person_id", "movie_id", "ts_ms"])
        out = sequence.dummy_departures(
            df, "person_id", ["ts_ms", "movie_id"], "ts_ms", F.lit(3)
        ).collect()
        assert len(out) == 3  # 2 real + 1 dummy
        dummy = [r for r in out if r["dummy"]][0]
        assert dummy["ts_ms"] == (1010 - 3) * 86400000
        assert dummy["movie_id"] == "a"  # copy of the earlier row

    def test_w8_nested_order_deterministic(self, timeline):
        out = sequence.nest_documents(
            timeline, ["person_id"], ["company", "movie_id"], ["release", "movie_id"]
        )
        p1 = [r for r in out.collect() if r["person_id"] == "p1"][0]
        assert [x["movie_id"] for x in p1["rels"]] == ["m1", "m2", "m3", "m4"]

    def test_w8_max_group_rows_guard(self, timeline):
        """The opt-in collect_list guard: cap keeps the FIRST K rels
        in order_cols order; a generous cap is a no-op."""
        capped = sequence.nest_documents(
            timeline,
            ["person_id"],
            ["company", "movie_id"],
            ["release", "movie_id"],
            max_group_rows=2,
        )
        p1 = [r for r in capped.collect() if r["person_id"] == "p1"][0]
        assert [x["movie_id"] for x in p1["rels"]] == ["m1", "m2"]
        uncapped = sequence.nest_documents(
            timeline, ["person_id"], ["company", "movie_id"], ["release", "movie_id"]
        )
        roomy = sequence.nest_documents(
            timeline,
            ["person_id"],
            ["company", "movie_id"],
            ["release", "movie_id"],
            max_group_rows=10_000,
        )
        assert sorted(map(str, roomy.collect())) == sorted(
            map(str, uncapped.collect())
        )


class TestAsofJoin:
    def _tables(self, spark):
        trades = spark.createDataFrame(
            [("A", 100, "t1"), ("A", 205, "t2"), ("B", 50, "t3")],
            ["sym", "ts", "trade_id"],
        )
        quotes = spark.createDataFrame(
            [("A", 90, 1.0), ("A", 100, 2.0), ("A", 200, 3.0), ("B", 60, 9.0)],
            ["sym", "qts", "price"],
        )
        return trades, quotes

    def test_asof_matches_latest_at_or_before(self, spark):
        trades, quotes = self._tables(spark)
        out = {
            r["trade_id"]: r["price"]
            for r in sequence.asof_join(
                trades, quotes, "sym", "ts", "qts", ["price"]
            ).collect()
        }
        assert out["t1"] == 2.0  # quote AT ts matches (non-strict)
        assert out["t2"] == 3.0  # latest before 205
        assert out["t3"] is None  # no quote at/before 50

    def test_asof_strict_excludes_equal_ts(self, spark):
        trades, quotes = self._tables(spark)
        out = {
            r["trade_id"]: r["price"]
            for r in sequence.asof_join(
                trades, quotes, "sym", "ts", "qts", ["price"], strict=True
            ).collect()
        }
        assert out["t1"] == 1.0  # the ts==100 quote is excluded
        assert out["t2"] == 3.0


class TestDensity:
    def test_a5_range_fill(self, spark):
        rows = [
            ("p1", "weta", 2000),
            ("p1", "ilm", 2003),  # weta counts 2000-2002, ilm only 2003 (last)
            ("p2", "weta", 2001),
        ]
        df = spark.createDataFrame(rows, ["person_id", "company", "yr"])
        out = density.density(df, "person_id", ["company"], "yr")
        got = {(r["company"], r["fill_year"]): r["headcount"] for r in out.collect()}
        assert got[("weta", 2000)] == 1
        assert got[("weta", 2001)] == 2  # p1 fill + p2
        assert got[("weta", 2002)] == 1
        assert got[("ilm", 2003)] == 1
        assert ("weta", 2003) not in got

    def test_a5_span_clamped(self, spark):
        rows = [("p1", "weta", 1900), ("p1", "ilm", 2100)]
        df = spark.createDataFrame(rows, ["person_id", "company", "yr"])
        out = density.density(df, "person_id", ["company"], "yr")
        weta_years = [r["fill_year"] for r in out.collect() if r["company"] == "weta"]
        assert max(weta_years) == 1900 + density.MAX_SPAN_YEARS  # dirty-data guard

    def test_a6_report_excludes_empty_group_from_total(self, spark):
        rows = [("p1", "weta", 2000), ("p2", "", 2000), ("p3", "ilm", 2000)]
        df = spark.createDataFrame(rows, ["person_id", "company", "yr"])
        dens = density.density(df, "person_id", ["company"], "yr")
        rep = density.density_report(dens, 2000, "company").collect()
        assert all(r["total"] == 2 for r in rep)  # '' bucket excluded
        assert len(rep) == 3  # but still listed


class TestDedup:
    def test_connected_components(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
        )
        out = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}  # chain collapses to min id


class TestSimilarity:
    def test_brute_force_self_is_top1(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        out = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=3)
        top1 = {r["query_id"]: r["vec_id"] for r in out.filter(F.col("rank") == 1).collect()}
        assert top1 == {0: 0, 1: 1, 2: 2}  # each vector is its own nearest


class TestMultimodal:
    def test_mapinpandas_plumbing(self, spark):
        from dww_data_pipeline_spark.operators.documents import extract_media_features

        rows = [(1, "image", b"somebytes"), (2, "image", None)]
        media = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
        out = {r["media_id"]: r for r in extract_media_features(media, dim=4).collect()}
        assert out[1]["decode_ok"] and len(out[1]["feature"]) == 4
        assert not out[2]["decode_ok"] and out[2]["feature"] is None

    def test_resize_plumbing(self, spark):
        from dww_data_pipeline_spark.operators.documents import resize_media
        from dww_data_pipeline_spark.operators.media_codec import (
            decode_image,
            encode_ppm,
        )
        import numpy as np

        real = encode_ppm(np.full((8, 8, 3), 200, dtype=np.uint8))
        rows = [(1, b"x" * 4096), (2, None), (3, real)]
        media = spark.createDataFrame(rows, ["media_id", "payload"])
        out = {r["media_id"]: r for r in resize_media(media, 32, 32).collect()}
        # unknown format: byte-stride fallback, flagged as not-decoded
        assert not out[1]["decode_ok"] and out[1]["width"] == 32
        assert len(out[1]["payload"]) <= 32 * 32 // 64
        assert not out[2]["decode_ok"]
        # real PPM: decoded, truly resized, re-encoded
        assert out[3]["decode_ok"]
        arr = decode_image(bytes(out[3]["payload"]))
        assert arr.shape == (32, 32, 3) and int(arr[0, 0, 0]) == 200

    def test_frame_sampling_fanout_bounded(self, spark):
        from dww_data_pipeline_spark.operators.documents import sample_frames

        rows = [(1, b"v" * 1000, 5000), (2, b"w" * 1000, 100_000)]
        media = spark.createDataFrame(rows, ["media_id", "payload", "duration_ms"])
        out = sample_frames(media, every_ms=1000, max_frames=8).collect()
        per = {}
        for r in out:
            per.setdefault(r["media_id"], []).append(r["frame_index"])
        assert len(per[1]) == 5  # 5s video, 1 fps
        assert len(per[2]) == 8  # capped at max_frames
        assert sorted(per[2]) == list(range(8))

    def test_deterministic_fake_decode(self, spark):
        from dww_data_pipeline_spark.operators.documents import extract_media_features

        rows = [(1, "image", b"somebytes")]
        media = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
        a = extract_media_features(media, dim=4).collect()[0]["feature"]
        b = extract_media_features(media, dim=4).collect()[0]["feature"]
        assert a == b


class TestVideoFrameDedup:
    def test_m2_pipeline_shape_and_determinism(self, spark):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        q = REGISTRY["m2_video_frame_dedup"].spark
        a = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
        b = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
        assert a == b  # real decode is deterministic end-to-end
        assert len(a) > 0
        for video_id, fa, fb, ahash in a:
            assert fa < fb and fa // 1000 == fb // 1000 == video_id
            assert 0 <= ahash < 16  # 2x2 image -> 4-bit hash


class TestStarComponents:
    def test_star_equals_label_propagation_on_random_graphs(self, spark):
        """large-star/small-star (O(log n) rounds) must produce the
        exact same components as min-label propagation on seeded
        random graphs — chains, hubs, isolated pairs."""
        import random

        random.seed(11)
        for _ in range(4):
            n_nodes = random.randint(4, 80)
            n_edges = random.randint(1, 120)
            pairs = list(
                {
                    (a, b)
                    for _ in range(n_edges)
                    for a, b in [sorted(random.sample(range(n_nodes), 2))]
                }
            )
            df = spark.createDataFrame(pairs, ["id_a", "id_b"])
            lp = {
                (r["id"], r["component"])
                for r in dedup.connected_components(df).collect()
            }
            st = {
                (r["id"], r["component"])
                for r in dedup.connected_components_star(df).collect()
            }
            assert lp == st

    def test_star_deep_chain(self, spark):
        # a 40-node path graph: diameter 40 — label propagation's worst
        # case, star's O(log n) case; both must collapse to component 0
        pairs = [(i, i + 1) for i in range(40)]
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        out = dedup.connected_components_star(df).collect()
        assert {r["component"] for r in out} == {0}
        assert len(out) == 41


class TestOracleLshAnn:
    """The oracle-checked bucketed ANN family (s4 single-probe, s5
    multi-probe) against the oracle-checked brute-force baseline s1:
    multi-probe must dominate single-probe on recall, and every query
    must find itself."""

    def _topk_sets(self, spark, sf_dir, name):
        from dww_data_pipeline_spark.plans.registry import all_queries

        out = {}
        for r in all_queries()[name](spark, sf_dir).collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    def test_multiprobe_recall_dominates_single_probe(self, spark, sf_dir):
        bf = self._topk_sets(spark, sf_dir, "s1_ann_brute_force_topk")
        single = self._topk_sets(spark, sf_dir, "s4_ann_lsh_topk")
        multi = self._topk_sets(spark, sf_dir, "s5_ann_multiprobe_topk")
        r_single = sum(len(bf[q] & single.get(q, set())) for q in bf) / (5 * len(bf))
        r_multi = sum(len(bf[q] & multi.get(q, set())) for q in bf) / (5 * len(bf))
        assert r_multi >= r_single
        # each query's own vector is in its bucket -> always found
        assert all(q in multi.get(q, set()) for q in bf)
        assert all(q in single.get(q, set()) for q in bf)


class TestPageRank:
    def test_known_graph_ranks(self, spark):
        from dww_data_pipeline_spark.operators.graph import pagerank

        # star: everyone points at hub 1; hub dangles
        edges = spark.createDataFrame(
            [(2, 1), (3, 1), (4, 1)], "src long, dst long"
        )
        ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-9  # mass conserved
        assert ranks[1] > ranks[2]  # hub dominates
        assert abs(ranks[2] - ranks[3]) < 1e-12  # symmetry

    def test_weights_shift_mass(self, spark):
        from dww_data_pipeline_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
            "src long, dst long, w double",
        )
        ranks = {r["node"]: r["rank"] for r in pagerank(edges, weight="w").collect()}
        assert ranks[2] > ranks[3]  # 9x the edge weight -> more mass
        assert abs(sum(ranks.values()) - 1.0) < 1e-9

    def test_deterministic_across_runs(self, spark):
        from dww_data_pipeline_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(i, (i * 7) % 23) for i in range(23)], "src long, dst long"
        ).filter("src <> dst")
        a = sorted(pagerank(edges).collect())
        b = sorted(pagerank(edges.repartition(7)).collect())
        assert [r["node"] for r in a] == [r["node"] for r in b]
        for ra, rb in zip(a, b):
            assert abs(ra["rank"] - rb["rank"]) < 1e-12


class TestBucketLocalComponents:
    def test_equivalent_to_iterative_on_random_bucket_graphs(self, spark):
        import random

        from dww_data_pipeline_spark.operators.dedup import connected_components
        from dww_data_pipeline_spark.operators.similarity import (
            bucket_local_components_arrow,
        )

        rng = random.Random(42)
        rows = []
        # 6 buckets of 12 nodes; edges only within a bucket (the
        # invariant single-table LSH pair generation guarantees)
        for b in range(6):
            nodes = [b * 100 + i for i in range(12)]
            for _ in range(10):
                a, c = rng.sample(nodes, 2)
                rows.append((min(a, c), max(a, c), b))
        pairs = spark.createDataFrame(rows, "id_a long, id_b long, bucket int")
        fast = {
            r["id"]: r["component"]
            for r in bucket_local_components_arrow(pairs).collect()
        }
        slow = {
            r["id"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert fast == slow

    def test_chain_within_bucket(self, spark):
        from dww_data_pipeline_spark.operators.similarity import (
            bucket_local_components_arrow,
        )

        # a 30-node chain: deep graphs are exactly where one-pass
        # union-find beats O(diameter) label propagation
        pairs = spark.createDataFrame(
            [(i, i + 1, 0) for i in range(30)], "id_a long, id_b long, bucket int"
        )
        got = {
            r["id"]: r["component"]
            for r in bucket_local_components_arrow(pairs).collect()
        }
        assert set(got.values()) == {0} and len(got) == 31


class TestMultiTableLsh:
    def test_recall_dominates_single_table(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()

        brute = {
            (r["query_id"], r["vec_id"])
            for r in REGISTRY["s1_ann_brute_force_topk"].spark(spark, sf_dir).collect()
        }
        single = {
            (r["query_id"], r["vec_id"])
            for r in REGISTRY["s4_ann_lsh_topk"].spark(spark, sf_dir).collect()
        }
        multi = {
            (r["query_id"], r["vec_id"])
            for r in REGISTRY["s7_ann_multitable_topk"].spark(spark, sf_dir).collect()
        }
        # table-1 candidates are a subset of the two-table union, so
        # recall vs brute force cannot decrease
        assert len(multi & brute) >= len(single & brute)


class TestUrlDedup:
    def test_canonical_invariants(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["d19_url_dedup"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            u = r["canonical_url"]
            # canonical form: lowercase scheme/host, no default port, no
            # fragment, no tracking params, no trailing slash
            assert u == u.lower() or "?" in u  # query values keep case
            assert ":80" not in u and ":443" not in u
            assert "#" not in u and "utm_" not in u
            assert not u.endswith("/")
        # planted collapse: doc 0 (clean variant) and doc 91 (case +
        # port + trailing slash variant) share h=0, p=0 -> one group
        g = [r for r in rows if r["canonical_url"] == "http://www.site0.com/articles/0"]
        assert len(g) == 1 and g[0]["n_urls"] >= 2 and g[0]["kept_doc"] == 0

    def test_variant_classes_partition(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY

        rows = REGISTRY["d19_url_dedup"].spark(spark, sf_dir).collect()
        # v0/v1/v2 collapse to the query-less form; v3 (http) and v4
        # (https) keep ?a=1&b=2 — so every canonical either has no query
        # or exactly the sorted surviving params
        for r in rows:
            u = r["canonical_url"]
            if "?" in u:
                assert u.endswith("?a=1&b=2")


class TestCompactionPlan:
    def test_bins_partition_the_manifest(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["ext_compaction_plan"].spark(spark, sf_dir).collect()
        assert rows
        by_src = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r)
        for src, bins in by_src.items():
            bins.sort(key=lambda r: r["bin"])
            # bins start at 0, never empty, file ranges don't overlap
            assert bins[0]["bin"] == 0
            for r in bins:
                assert r["n_files"] >= 1 and r["bin_bytes"] > 0
            for a, b in zip(bins, bins[1:]):
                assert a["last_file"] < b["first_file"]


class TestAudioFingerprint:
    def test_planted_identical_clips_match(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["m9_audio_fingerprint"].spark(spark, sf_dir).collect()
        assert rows
        matched = {(r["clip_a"], r["clip_b"]) for r in rows}
        # seed = doc_id % 29 -> docs 0 and 29 carry IDENTICAL waveforms;
        # identical fingerprint sets must match (if 0 has >= 3 fps)
        same_seed = {(a, a + 29) for a in range(0, 121)} & matched
        assert same_seed, "no identical-waveform pair matched"
        for r in rows:
            assert r["clip_a"] < r["clip_b"] and r["n_shared"] >= 3


class TestBitextMargin:
    def test_margin_invariants(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["s13_bitext_margin"].spark(spark, sf_dir).collect()
        by_q = {}
        for r in rows:
            assert r["cand_id"] % 2 == 1 and r["query_id"] % 2 == 0
            # acceptance rule is exactly the cross-multiplied margin
            assert r["accepted"] == int(
                160 * r["dot"] >= 21 * (r["fwd_sum"] + r["bwd_sum"])
            )
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == {0, 2, 4}
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == [1, 2, 3, 4]
            # ranks ordered by dot desc; fwd_sum is the top-k dot total
            dots = [r["dot"] for r in rs]
            assert dots == sorted(dots, reverse=True)
            assert rs[0]["fwd_sum"] == sum(dots)


class TestFunnelRetention:
    def test_funnel_monotone(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = {
            r["step"]: r["n_users"]
            for r in REGISTRY["ev13_funnel_steps"].spark(spark, sf_dir).collect()
        }
        assert set(rows) == {"1_view", "2_click", "3_purchase"}
        # funnels only narrow
        assert rows["1_view"] >= rows["2_click"] >= rows["3_purchase"]
        assert rows["1_view"] > 0

    def test_retention_day0_equals_cohort_size(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY

        rows = REGISTRY["ev14_retention_matrix"].spark(spark, sf_dir).collect()
        assert rows
        by_cohort = {}
        for r in rows:
            assert 0 <= r["day_n"] <= 7 and r["n_active"] > 0
            by_cohort.setdefault(r["cohort_date"], {})[r["day_n"]] = r["n_active"]
        for d, days in by_cohort.items():
            # every cohort user is active on their own first day
            assert 0 in days
            # day-0 activity is the cohort ceiling for every later day
            assert all(v <= days[0] for v in days.values())


class TestSkippingReport:
    def test_classes_partition_and_counts_reconcile(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["ext_skipping_report"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["n_skipped"] + r["n_full"] + r["n_partial"] == r["n_files"]
            # matched rows only live in scanned files
            assert r["rows_matched"] <= r["rows_scanned"]


class TestClassifierFilter:
    def test_weights_discriminate_and_cover_corpus(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["t31_classifier_filter"].spark(spark, sf_dir).collect()
        # every doc with at least one token is scored
        assert len(rows) >= 490
        for r in rows:
            assert r["pred_pos"] == int(r["score"] > 0)
            assert r["is_pos"] in (0, 1)
        # shared vocabulary + minority positive class (lang 'en') means
        # c_pos < c_tot/2 for common tokens: scores spread but skew
        # negative — training didn't collapse to a constant
        scores = [r["score"] for r in rows]
        assert min(scores) < 0 and len(set(scores)) > 100


class TestCompletenessBlocks:
    def test_planted_gaps_are_found_exactly(self, spark, sf_dir):
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        rows = REGISTRY["dq18_completeness_blocks"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            # interior hole count reconciles with the span arithmetic
            assert (
                r["last_id"] - r["first_id"] + 1 - r["n_present"]
                == r["n_missing_interior"]
                > 0
            )
            # every planted hole is id % 97 == 13: a 500-wide block
            # contains at most ceil(500/97) + 1 of them
            assert r["n_missing_interior"] <= 7


class TestJourneyGuard:
    def test_max_group_rows_caps_journey(self, spark):
        """journey_patterns' opt-in collect_list guard keeps each
        user's FIRST K events in (ts, event_id) order."""
        from datetime import datetime

        from dww_data_pipeline_spark.plans.web_plans import journey_patterns

        rows = [
            (1, datetime(2024, 1, 1, 0, 0, i), i, et)
            for i, et in enumerate(["view", "view", "purchase", "error", "error"])
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        full = journey_patterns(df).collect()[0]
        assert full["journey"] == "vvpee"
        assert full["n_error_bursts"] == 1
        capped = journey_patterns(df, max_group_rows=3).collect()[0]
        assert capped["journey"] == "vvp"
        assert capped["n_view_to_purchase"] == 1
        assert capped["n_error_bursts"] == 0
        roomy = journey_patterns(df, max_group_rows=100).collect()[0]
        assert roomy["journey"] == full["journey"]
