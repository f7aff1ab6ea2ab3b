"""Plan-registry sanity + physical-plan discipline checks.

The full oracle differential runs via tools/diffcheck.py (and the
driver's own gate); here we assert structural invariants cheaply and
check the *physical plans* for the scale properties SURVEY §7.3
demands: filters pushed into the parquet scan, dimension joins
broadcast, no cartesian products on the hot paths.
"""

from __future__ import annotations

import pytest

from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all, all_oracles, all_queries


@pytest.fixture(scope="module", autouse=True)
def _loaded():
    _load_all()


@pytest.fixture(scope="module")
def built_queries(_loaded, spark, sf_dir) -> dict[str, tuple[int, str]]:
    """Every registered query built ONCE: name -> (schema field count,
    optimized-plan string).  The whole-registry checks below read this
    instead of each running all the builders again."""
    out = {}
    for name, q in REGISTRY.items():
        df = q.spark(spark, sf_dir)
        out[name] = (
            len(df.schema.fields),
            df._jdf.queryExecution().optimizedPlan().toString(),
        )
    return out


class TestRegistry:
    def test_every_oracle_has_a_query(self):
        qs, os_ = all_queries(), all_oracles()
        assert set(os_) <= set(qs)
        assert len(qs) >= 50

    def test_descriptions_cite_reference_or_northstar(self):
        for q in REGISTRY.values():
            assert q.description, f"{q.name} missing description"

    def test_all_queries_analyzable(self, built_queries):
        # schema resolution exercises every expression tree without
        # executing jobs
        assert set(built_queries) == set(REGISTRY)
        for name, (n_fields, _) in built_queries.items():
            assert n_fields, name


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


class TestPhysicalPlans:
    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "p1_projection_filter")
        assert "PushedFilters: [" in plan
        assert "IsNotNull(l_discount)" in plan or "GreaterThan(l_discount" in plan

    def test_column_pruning(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "p3_compound_filter")
        # scan must not read all orders columns for a 3-column output
        assert "o_totalprice" in plan
        assert "o_custkey" not in plan.split("ReadSchema")[-1]

    def test_dimension_joins_broadcast(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "j1_star_join")
        assert plan.count("BroadcastHashJoin") >= 2  # nation + region

    def test_semi_and_anti_joins_selected(self, spark, sf_dir):
        assert "LeftSemi" in _plan(spark, sf_dir, "j6_semi_join")
        assert "LeftAnti" in _plan(spark, sf_dir, "j7_anti_join")

    def test_ann_topk_broadcasts_queries_no_cartesian(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "s1_ann_brute_force_topk")
        assert "BroadcastNestedLoopJoin" in plan  # tiny query side broadcast
        assert "CartesianProduct" not in plan

    def test_window_queries_single_shuffle(self, spark, sf_dir):
        # W1 jumps: exactly one exchange (the entity repartition) —
        # lag + filter ride the same sort, no extra shuffles
        plan = _plan(spark, sf_dir, "w1_jumps")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_approx_count_distinct_within_5pct(self, spark, sf_dir):
        # the HLL variant has no cross-engine oracle; assert accuracy here
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rows = li.groupBy("l_returnflag").agg(
            F.count_distinct("l_partkey").alias("exact"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        ).collect()
        for r in rows:
            assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.05

    def test_whole_stage_codegen_on_hot_path(self, spark, sf_dir):
        df = REGISTRY["a1_pricing_summary"].spark(spark, sf_dir)
        df.collect()  # AQE finalizes the plan only on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        # "*(n)" prefixes mark WholeStageCodegen stages in the final plan
        assert "*(" in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python


class TestTpchShapePlans:
    """TPC-H completion batch (plans/tpch2.py): the decorrelated plans
    must keep dimension sides broadcast and subqueries as semi/anti
    hash joins — never per-row probes or cartesian products."""

    def test_q2_min_joinback_broadcasts_threshold(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
        assert plan.count("BroadcastHashJoin") >= 3  # part, min-table, supplier, nation
        assert "CartesianProduct" not in plan

    def test_q4_exists_is_semi_join(self, spark, sf_dir):
        assert "LeftSemi" in _plan(spark, sf_dir, "q4_order_priority")

    def test_q22_not_exists_is_anti_join(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q22_sales_opportunity")
        assert "LeftAnti" in plan
        # scalar threshold rides a broadcast, not a shuffle join
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_q21_single_fact_scan_decorrelation(self, spark, sf_dir):
        # EXISTS + NOT EXISTS answered by ONE per-order aggregate — the
        # plan must not contain two extra self-join probes of lineitem
        plan = _plan(spark, sf_dir, "q21_waiting_suppliers")
        assert plan.count("FileScan parquet") <= 4  # l1, stats-scan, orders, supplier

    def test_q6_filters_fully_pushed(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q6_forecast_revenue")
        assert "PushedFilters: [" in plan
        for c in ("l_shipdate", "l_discount", "l_quantity"):
            assert c in plan.split("PushedFilters")[1].split("]")[0], c

    def test_q19_single_join_with_residual_or(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q19_discounted_revenue")
        assert plan.count("BroadcastHashJoin") == 1
        assert "CartesianProduct" not in plan


class TestRound3PlanDiscipline:
    """Physical-plan assertions for the round-3 scale-path operators."""

    def test_decontamination_broadcasts_eval_grams(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "d10_decontamination")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]

    def test_rarity_scoring_broadcasts_model(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "t11_token_rarity_score")
        assert "BroadcastHashJoin" in plan  # unigram model side

    def test_random_projection_no_shuffle(self, spark, sf_dir):
        # e4 is per-row column math: the plan must contain NO exchange
        plan = _plan(spark, sf_dir, "e4_embedding_random_projection")
        assert "Exchange" not in plan

    def test_bucketed_ann_no_cartesian_or_nested_loop(self, spark, sf_dir):
        # the whole point of sign-LSH: equi-joins on bucket, never a
        # nested-loop pair scan
        for q in ("d7b_embedding_lsh_oracle", "s4_ann_lsh_topk",
                  "s5_ann_multiprobe_topk", "s6_knn_graph"):
            plan = _plan(spark, sf_dir, q)
            assert "BroadcastNestedLoopJoin" not in plan, q
            assert "CartesianProduct" not in plan, q

    def test_incremental_dedup_batch_driven(self, spark, sf_dir):
        # exact stage: corpus fingerprint counts broadcast to the batch
        plan = _plan(spark, sf_dir, "d11_incremental_dedup")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestLateRound3PlanDiscipline:
    """Physical-plan assertions for the late round-3 operators."""

    def test_mixture_sample_no_shuffle(self, spark, sf_dir):
        # t16 is scan + per-row scoring + hash-gated filter: NO exchange
        plan = _plan(spark, sf_dir, "t16_mixture_sample")
        assert "Exchange" not in plan

    def test_gopher_repetition_zero_shuffle(self, spark, sf_dir):
        # t37: nine per-row array signals over one scan — NO exchange,
        # no join, no aggregate; the ideal quality-filter shape
        plan = _plan(spark, sf_dir, "t37_gopher_repetition")
        assert "Exchange" not in plan

    def test_temperature_mixture_broadcasts_rates(self, spark, sf_dir):
        # t38: the |langs|-row rate table broadcasts onto the corpus
        # admission scan; the only hash exchanges are the tiny lang
        # aggregates, never a corpus-side sort-merge join
        plan = _plan(spark, sf_dir, "t38_temperature_mixture")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_graph_ann_walk_broadcasts_beam(self, spark, sf_dir):
        # s21: every round's beam broadcasts onto the edge/vector
        # tables; the only nested loop is the 1-row entry cross join
        plan = _plan(spark, sf_dir, "s21_graph_ann_walk")
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # earlier rounds are localCheckpoint-materialized, so the
        # visible segment is the FINAL round: edges + vectors + query
        # joins, all broadcast
        assert plan.count("BroadcastHashJoin") >= 3

    def test_quality_stack_no_cartesian_one_text_scan_family(self, spark, sf_dir):
        # c5: the stacked gate adds doc_id-keyed joins only — no
        # cartesian, no sort-merge on the corpus path, and the text
        # fingerprint (16 bytes) shuffles, never the text itself
        plan = _plan(spark, sf_dir, "c5_curation_quality_stack")
        assert "CartesianProduct" not in plan

    def test_ppjoin_no_cartesian_prefix_pruned(self, spark, sf_dir):
        # d28: candidate generation is an equi-join on prefix shingles
        # — never a cartesian/nested-loop pair enumeration
        plan = _plan(spark, sf_dir, "d28_ppjoin_exact")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_topic_buckets_single_tiny_shuffle(self, spark, sf_dir):
        # t15's only exchange is the final per-topic aggregate
        plan = _plan(spark, sf_dir, "t15_topic_buckets")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_curriculum_deciles_partitioned_window(self, spark, sf_dir):
        # one shuffle on source for the window; never a single-partition
        # global sort (Exchange SinglePartition)
        plan = _plan(spark, sf_dir, "t17_curriculum_deciles")
        assert "SinglePartition" not in plan

    def test_gram_matrix_partial_agg_before_shuffle(self, spark, sf_dir):
        # e5's exchange must carry only the 4096-cell per-partition
        # partials emitted by the Arrow gram operator, never exploded
        # outer products: one python stage before the single exchange
        plan = _plan(spark, sf_dir, "e5_embedding_gram")
        assert plan.count("Exchange hashpartitioning") == 1
        # plan strings print root-first: the map side (Arrow partials +
        # partial agg) sits BELOW the exchange in the text
        first_exchange = plan.index("Exchange hashpartitioning")
        assert "MapInPandas" in plan[first_exchange:]
        assert "HashAggregate" in plan[first_exchange:]  # partial agg
        assert "Generate" not in plan  # the 4096-wide explode is gone

    def test_frame_features_single_python_stage(self, spark, sf_dir):
        # m3's split+decode+features fuse into ONE mapInPandas stage
        # and nothing joins back: no exchange, one python evaluation
        plan = _plan(spark, sf_dir, "m3_video_frame_features")
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_skew_profile_topk_never_global_sort(self, spark, sf_dir):
        # dq5's top-20 must be a TakeOrdered, not a single-partition
        # sort of all keys; the total joins back as a broadcast
        plan = _plan(spark, sf_dir, "dq5_skew_profile")
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestRound4PlanDiscipline:
    """Plan + semantic assertions for the round-4 curation operators."""

    def test_chunk_dedup_removes_shared_boilerplate(self, spark, sf_dir):
        rows = REGISTRY["d14_chunk_dedup"].spark(spark, sf_dir).collect()
        by_id = {r["doc_id"]: r for r in rows}
        boiler_ids = sorted(i for i in by_id if i % 3 == 0)
        first, rest = boiler_ids[0], boiler_ids[1:]
        # the first boilerplate carrier keeps its chunk 0; every later
        # one loses at least the boilerplate chunk
        assert by_id[first]["kept_text"].startswith("the quick data spark")
        assert all(by_id[i]["n_removed"] >= 1 for i in rest)
        assert all(not by_id[i]["kept_text"].startswith("the quick data spark")
                   for i in rest)
        # the corpus itself carries organic cross-document duplicate
        # chunks (the generator seeds near-dup text), so docs without
        # boilerplate may legitimately lose chunks too; the invariant is
        # global: kept chunks == distinct chunks of the widened corpus
        total_kept = sum(r["n_chunks"] - r["n_removed"] for r in rows)
        total_removed = sum(r["n_removed"] for r in rows)
        assert total_removed >= len(rest)
        from dww_data_pipeline_spark.plans.curation_plans import _BOILER, _CHUNK_W
        from dww_data_pipeline_spark.sources.catalog import load_table
        from pyspark.sql import functions as F
        d = load_table(spark, sf_dir, "documents")
        corpus_text = F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BOILER), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text"))
        toks = F.split(corpus_text, " ")
        n_chunks = F.ceil(F.size(toks) / F.lit(float(_CHUNK_W))).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * _CHUNK_W + 1, _CHUNK_W), " "),
        )
        distinct_chunks = (
            d.select(F.explode(chunks).alias("chunk")).distinct().count()
        )
        assert total_kept == distinct_chunks

    def test_chunk_dedup_single_shuffle_no_join(self, spark, sf_dir):
        # first-occurrence-wins is a rank, never a pairwise self-join
        plan = _plan(spark, sf_dir, "d14_chunk_dedup")
        assert "Join" not in plan

    def test_bm25_broadcasts_stats_and_df(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "t18_bm25_retrieval")
        assert "BroadcastHashJoin" in plan  # df side
        assert "CartesianProduct" not in plan
        rows = REGISTRY["t18_bm25_retrieval"].spark(spark, sf_dir).collect()
        per_term: dict[str, list] = {}
        for r in rows:
            per_term.setdefault(r["term"], []).append(r)
        for term, rs in per_term.items():
            rs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
            scores = [r["score"] for r in rs]
            assert scores == sorted(scores, reverse=True), term

    def test_range_join_binned_is_equi_join(self, spark, sf_dir):
        # the whole point of binning: NEVER a nested-loop/cartesian plan
        plan = _plan(spark, sf_dir, "j11_range_join_binned")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_range_join_binned_matches_naive_join(self, spark, sf_dir):
        # equivalence against the direct (unscalable) predicate join
        from pyspark.sql import functions as F

        got = {
            (r["error_id"], r["view_id"], r["ms_after"])
            for r in REGISTRY["j11_range_join_binned"].spark(spark, sf_dir).collect()
        }
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        inc = ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 10 == 0)).select(
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 300 seconds")).alias("end_ts"),
        )
        views = ev.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "ts"
        )
        naive = views.join(
            inc, (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
        ).select(
            "error_id",
            "view_id",
            (
                F.expr("unix_micros(ts) div 1000")
                - F.expr("unix_micros(start_ts) div 1000")
            ).alias("ms_after"),
        )
        want = {(r["error_id"], r["view_id"], r["ms_after"]) for r in naive.collect()}
        assert got == want

    def test_scd2_versions_chain(self, spark, sf_dir):
        rows = REGISTRY["ext_scd2_history"].spark(spark, sf_dir).collect()
        by_user: dict[int, list] = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        for uid, rs in by_user.items():
            rs.sort(key=lambda r: r["version"])
            # exactly one current version, and it is the last
            assert [r["is_current"] for r in rs].count(1) == 1
            assert rs[-1]["is_current"] == 1
            assert rs[-1]["valid_to"] == "9999-12-31 00:00:00"
            # validity intervals chain: valid_to(k) == valid_from(k+1)
            for a, b in zip(rs, rs[1:]):
                assert a["valid_to"] == b["valid_from"], uid

    def test_numeric_profile_orderings(self, spark, sf_dir):
        rows = REGISTRY["dq6_numeric_profile"].spark(spark, sf_dir).collect()
        assert {r["col_name"] for r in rows} == {
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        }
        for r in rows:
            assert r["n_null"] == 0
            assert r["min_v"] <= r["p50"] <= r["p95"] <= r["max_v"]
            assert r["min_v"] <= r["mean_v"] <= r["max_v"]

    def test_approx_distinct_gate_all_green(self, spark, sf_dir):
        rows = REGISTRY["dq7_approx_distinct"].spark(spark, sf_dir).collect()
        assert rows and all(r["approx_within_10pct"] == 1 for r in rows)


class TestRound4LateAdditions:
    """Plan + semantic assertions for m4 / t19 / ext_merge / dq8."""

    def test_merge_upsert_broadcasts_changeset(self, spark, sf_dir):
        # the snapshot side must join against BROADCAST changesets —
        # a 100 TB snapshot never shuffles for a small changeset
        plan = _plan(spark, sf_dir, "ext_merge_upsert")
        assert plan.count("BroadcastHashJoin") >= 2  # updates + deletes
        assert "SortMergeJoin" not in plan

    def test_merge_upsert_provenance_counts(self, spark, sf_dir):
        rows = REGISTRY["ext_merge_upsert"].spark(spark, sf_dir).collect()
        by_src: dict[str, int] = {}
        for r in rows:
            by_src[r["src"]] = by_src.get(r["src"], 0) + 1
        total = by_src.get("kept", 0) + by_src.get("updated", 0)
        # ~1/10 of keys deleted, ~1/10 updated, ~1/10 inserted
        assert by_src.get("updated", 0) > 0
        assert by_src.get("inserted", 0) > 0
        assert total < len(rows)  # inserts on top of the surviving snapshot

    def test_audio_features_single_python_stage(self, spark, sf_dir):
        # synth + decode + features: one MapInPandas, no exchange at all
        plan = _plan(spark, sf_dir, "m4_audio_features")
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan

    def test_audio_features_all_decode(self, spark, sf_dir):
        rows = REGISTRY["m4_audio_features"].spark(spark, sf_dir).collect()
        assert rows and all(r["decode_ok"] for r in rows)
        assert all(0.0 <= r["rms0"] <= 1.0 for r in rows)
        assert all(0.0 <= r["zcr0"] <= 1.0 for r in rows)

    def test_bigram_lm_scores_are_log_probs(self, spark, sf_dir):
        rows = REGISTRY["t19_bigram_lm_score"].spark(spark, sf_dir).collect()
        assert rows and all(r["avg_logp"] < 0.0 for r in rows)
        # every scored doc has >= 1 bigram by construction
        assert all(r["n_bigrams"] >= 1 for r in rows)

    def test_fd_profile_finds_true_fd(self, spark, sf_dir):
        rows = {
            r["fd"]: r
            for r in REGISTRY["dq8_fd_profile"].spark(spark, sf_dir).collect()
        }
        # nation->region is a REAL functional dependency of the schema
        assert rows["nation_to_region"]["n_violating"] == 0
        assert rows["nation_to_region"]["max_fanout"] == 1
        # user->event_type is expected NOT to be one
        assert rows["user_to_event_type"]["n_violating"] > 0


class TestGlobalWindowDiscipline:
    def test_no_partitionless_windows_anywhere(self, built_queries):
        """No registered query may plan a partition-less WindowExec
        (the 'No Partition Defined ... single partition' runtime
        warning): global carries must be explicit bounded reduces
        (see t14), partitioned windows, or TakeOrdered."""
        import re

        assert set(built_queries) == set(REGISTRY)
        for name, (_, lp) in built_queries.items():
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", lp):
                head = m.group(1).split(",")[0]
                # a window spec lists partition cols first; if the
                # first entry is already a sort order ("col ASC/DESC
                # ...") the partition spec is empty -> global window
                assert " ASC" not in head and " DESC" not in head, (
                    name,
                    m.group(1)[:120],
                )


class TestLatestRound4Plans:
    def test_pit_join_single_key_shuffle_no_range_join(self, spark, sf_dir):
        # the as-of carry must never plan an inequality join
        plan = _plan(spark, sf_dir, "j12_pit_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_json_extraction_stays_jvm_side(self, spark, sf_dir):
        # get_json_object must not spawn a Python stage
        plan = _plan(spark, sf_dir, "ext_json_props")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan

    def test_multitable_ann_equi_joins_only(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "s7_ann_multitable_topk")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 2  # one per hash table

    def test_interval_overlap_join_is_equi_binned(self, spark, sf_dir):
        # both interval sides bin to an equi key; the pair space must
        # never plan as a nested-loop/cartesian product
        plan = _plan(spark, sf_dir, "j13_interval_overlap_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_containment_reuses_lsh_equi_path(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "d16_containment")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_numeric_profile_histogram_not_value_buffering(self, spark, sf_dir):
        # the only exchange carries (col, value) histogram cells; the
        # exact-percentile ObjectHashAggregate buffer must be gone
        plan = _plan(spark, sf_dir, "dq6_numeric_profile")
        assert "percentile" not in plan.lower()
        assert "FlatMapGroupsInPandas" in plan


class TestRound5PlanDiscipline:
    def test_d19_is_pure_expression_pipeline(self, spark, sf_dir):
        """Canonicalization must stay JVM-side: no Python stage, and
        only the final canonical-key aggregation shuffles."""
        plan = _plan(spark, sf_dir, "d19_url_dedup")
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_m9_python_is_decode_only(self, spark, sf_dir):
        """m9's only Python is the Arrow decode stage (one per join
        side in the self-join plan); peak/fingerprint math must be
        JVM expressions and the match join key-partitioned."""
        plan = _plan(spark, sf_dir, "m9_audio_fingerprint")
        assert "BatchEvalPython" not in plan
        assert 1 <= plan.count("MapInPandas") <= 2
        assert "CartesianProduct" not in plan

    def test_funnel_chain_no_cartesian_no_global_window(self, spark, sf_dir):
        for name in ("ev13_funnel_steps", "st12_stream_funnel",
                     "ev14_retention_matrix"):
            plan = _plan(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, name
            # the funnel chain is pure join+agg: no Window node at all
            # (the stronger invariant; "partitionBy" never appears in
            # physical-plan text, so the old disjunct was vacuous)
            assert "Window" not in plan, name

    def test_t31_model_broadcasts(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "t31_classifier_filter")
        assert "BroadcastHashJoin" in plan  # vocab model is the small side
        assert "BatchEvalPython" not in plan

    def test_dq18_is_pure_partial_agg(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "dq18_completeness_blocks")
        assert "Window" not in plan  # the whole point vs the lead() form
        assert "BatchEvalPython" not in plan


class TestRound6PlanDiscipline:
    """d20 substring spans + st13 (streaming twin tested in
    test_stream_ingest.py; here the plan shapes)."""

    def test_d20_known_spans_merge_maximally(self, spark):
        from dww_data_pipeline_spark.plans.dedup_plans import substring_spans

        shared = "s1 s2 s3 s4 s5 s6"       # 6 tokens -> two 5-windows
        shared2 = "t1 t2 t3 t4 t5"         # 5 tokens -> one 5-window
        docs = spark.createDataFrame(
            [
                (1, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 "
                    f"{shared} y1 y2 y3 y4 {shared2}"),
                (2, f"z1 z2 {shared} w1 w2 w3 w4 w5 w6 w7 w8 {shared2}"),
                (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
            ],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in substring_spans(docs).collect())
        # overlapping duplicated windows merge into ONE maximal span per
        # run; the two runs in each doc stay separate (gap > K); the
        # unique doc contributes nothing
        assert got == [
            (1, 11, 16, 6, 2),
            (1, 21, 25, 5, 1),
            (2, 3, 8, 6, 2),
            (2, 17, 21, 5, 1),
        ]

    def test_d20_plan_partitioned_no_cartesian(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "d20_substring_spans")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the islands window is doc-partitioned, never a global sort
        assert "Exchange SinglePartition" not in plan
        assert "BatchEvalPython" not in plan

    def test_st13_batch_core_broadcast_exact_stage(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "st13_stream_incremental_dedup")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_dq20_two_scans_no_window(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "dq20_hll_merge_gate")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        # merged estimate joins whole-scan stats on the tiny
        # event_type key — broadcast, never a shuffle join
        assert "SortMergeJoin" not in plan

    def test_ev17_single_user_shuffle_no_window_no_join(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "ev17_pattern_match")
        assert "Window" not in plan
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_s15_curve_monotone_and_saturates(self, spark, sf_dir):
        rows = REGISTRY["s15_ann_probe_curve"].spark(spark, sf_dir).collect()
        from dww_data_pipeline_spark.plans.pipeline_ext2 import (
            _IVF_K,
            _PQ_QUERIES,
            _PQ_TOPK,
        )

        by_q: dict[int, dict[int, int]] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["hits_at_k"]
        assert set(by_q) == set(_PQ_QUERIES)
        for qid, curve in by_q.items():
            assert set(curve) == set(range(1, _IVF_K + 1)), qid
            seq = [curve[p] for p in range(1, _IVF_K + 1)]
            # probe sets nest -> recall is monotone; full probe = exact
            assert seq == sorted(seq), (qid, seq)
            assert seq[-1] == _PQ_TOPK, (qid, seq)


class TestKneserNeyScore:
    def test_matches_sequential_kn_reference(self, spark, sf_dir):
        """t34 must equal a from-scratch interpolated-KN scorer built
        on plain Python dicts over the same token stream — counts,
        continuation statistics, the D=0.75 interpolation, and the
        per-doc weighted mean all recomputed independently."""
        import math

        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.plans.text_exprs import spark_tokens
        from dww_data_pipeline_spark.sources.catalog import load_table

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", spark_tokens(F.col("text")).alias("t"))
            .collect()
        )
        c2: dict[tuple[str, str], int] = {}
        per_doc: dict[int, dict[tuple[str, str], int]] = {}
        for r in docs:
            toks = list(r["t"])
            mine = per_doc.setdefault(r["doc_id"], {})
            for a, b in zip(toks, toks[1:]):
                c2[(a, b)] = c2.get((a, b), 0) + 1
                mine[(a, b)] = mine.get((a, b), 0) + 1
        c1: dict[str, int] = {}
        n1p: dict[str, int] = {}
        nc: dict[str, int] = {}
        for (a, b), n in c2.items():
            c1[a] = c1.get(a, 0) + n
            n1p[a] = n1p.get(a, 0) + 1
            nc[b] = nc.get(b, 0) + 1
        nbb = len(c2)
        lp = {
            (a, b): math.log(
                (max(n - 0.75, 0.0) + 0.75 * n1p[a] * (nc[b] / nbb)) / c1[a]
            )
            for (a, b), n in c2.items()
        }
        want = {}
        for doc_id, mine in per_doc.items():
            if not mine:
                continue
            tot_n = sum(mine.values())
            s = sum(n * lp[p] for p, n in mine.items())
            want[doc_id] = (tot_n, s / tot_n)

        rows = REGISTRY["t34_kneser_ney_score"].spark(spark, sf_dir).collect()
        got = {r["doc_id"]: (r["n_bigrams"], r["avg_logp_kn"]) for r in rows}
        assert set(got) == set(want)
        for doc_id, (n, mean) in want.items():
            assert got[doc_id][0] == n
            # Spark rounds at 1e-6; the reference sums per doc in a
            # different order — boundary slack of half an ulp-of-round
            assert abs(got[doc_id][1] - mean) <= 1.5e-6, doc_id

    def test_kn_distinguishes_continuation(self, spark, sf_dir):
        # every score is a mean log-probability: strictly negative
        rows = REGISTRY["t34_kneser_ney_score"].spark(spark, sf_dir).collect()
        assert rows and all(r["avg_logp_kn"] < 0.0 for r in rows)
        assert all(r["n_bigrams"] >= 1 for r in rows)


class TestCdcChunking:
    @staticmethod
    def _chunk_sets(toks):
        """Pure-Python twin of the d23 chunker: window-2 gear-hash
        CDC and fixed-width-8 chunking, returning the two distinct
        chunk-fingerprint sets."""
        import hashlib

        def h32(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

        cdc, fix, cur = [], [], []
        prev = "^"
        for i, t in enumerate(toks):
            cur.append(t)
            if h32(prev + " " + t) % 8 == 0:
                cdc.append(" ".join(cur))
                cur = []
            prev = t
        if cur:
            cdc.append(" ".join(cur))
        for i in range(0, len(toks), 8):
            fix.append(" ".join(toks[i : i + 8]))

        def fps(chunks):
            return {
                hashlib.md5(c.encode()).hexdigest() for c in chunks
            }

        return fps(cdc), fps(fix)

    def test_matches_sequential_cdc_reference(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.plans.text_exprs import spark_tokens
        from dww_data_pipeline_spark.sources.catalog import load_table

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", spark_tokens(F.col("text")).alias("t"))
            .collect()
        )
        want = {}
        for r in docs:
            toks = list(r["t"])
            co, fo = self._chunk_sets(toks)
            cs, fs = self._chunk_sets(["xq0"] + toks)
            want[r["doc_id"]] = (
                len(co), len(cs), len(co & cs),
                len(fo), len(fs), len(fo & fs),
            )
        rows = REGISTRY["d23_cdc_chunking"].spark(spark, sf_dir).collect()
        got = {
            r["doc_id"]: (
                r["n_cdc_orig"], r["n_cdc_shift"], r["n_cdc_shared"],
                r["n_fix_orig"], r["n_fix_shift"], r["n_fix_shared"],
            )
            for r in rows
        }
        assert got == want

    def test_shift_resistance_contract(self, spark, sf_dir):
        """The property that motivates CDC, asserted on every doc:
        a 1-token prefix insertion disturbs at most the first two
        CDC chunks, while fixed-width chunking re-shifts every
        boundary (corpus-level near-collapse of shared chunks)."""
        rows = REGISTRY["d23_cdc_chunking"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["n_cdc_shared"] >= r["n_cdc_orig"] - 2, r["doc_id"]
        cdc_shared = sum(r["n_cdc_shared"] for r in rows)
        cdc_total = sum(r["n_cdc_orig"] for r in rows)
        fix_shared = sum(r["n_fix_shared"] for r in rows)
        fix_total = sum(r["n_fix_orig"] for r in rows)
        assert cdc_shared / cdc_total > 0.7
        assert fix_shared / fix_total < 0.2


class TestPerplexityMixture:
    def test_head_kept_whole_tail_downsampled(self, spark, sf_dir):
        rows = REGISTRY["c3_perplexity_mixture"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 1 <= r["decile"] <= 10
            assert 0 <= r["n_kept"] <= r["n_docs"]
            if r["decile"] <= 3:
                # rate 1.0: the md5-uniform is < 1 by construction,
                # so head deciles are kept WHOLE, exactly
                assert r["n_kept"] == r["n_docs"], r
        tail_docs = sum(r["n_docs"] for r in rows if r["decile"] >= 8)
        tail_kept = sum(r["n_kept"] for r in rows if r["decile"] >= 8)
        assert tail_kept / tail_docs < 0.35  # 10% nominal, small-n slack

    def test_deciles_balanced_within_source(self, spark, sf_dir):
        rows = REGISTRY["c3_perplexity_mixture"].spark(spark, sf_dir).collect()
        by_source: dict[str, list] = {}
        for r in rows:
            by_source.setdefault(r["source"], []).append(r["n_docs"])
        for source, sizes in by_source.items():
            assert len(sizes) == 10, source  # every decile populated
            assert max(sizes) - min(sizes) <= 1, source  # ntile balance


class TestSpanScrub:
    """d25: d20's span detection composed into the token rewrite."""

    def test_scrub_consistent_with_d20_spans(self, spark, sf_dir):
        """Per doc: removed tokens == sum of d20 span widths (spans
        are disjoint), kept + removed == total, and the reassembled
        text is exactly the out-of-span tokens in original order."""
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.plans.registry import REGISTRY
        from dww_data_pipeline_spark.plans.text_exprs import spark_tokens
        from dww_data_pipeline_spark.sources.catalog import load_table

        spans: dict[int, list[tuple[int, int]]] = {}
        for r in REGISTRY["d20_substring_spans"].spark(spark, sf_dir).collect():
            spans.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        toks = {
            r["doc_id"]: r["toks"]
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", spark_tokens(F.col("text")).alias("toks"))
            .collect()
        }
        rows = REGISTRY["d25_span_scrub"].spark(spark, sf_dir).collect()
        assert {r["doc_id"] for r in rows} == set(toks)  # total rewrite
        for r in rows:
            ss = spans.get(r["doc_id"], [])
            assert r["n_spans"] == len(ss)
            assert r["n_removed"] == sum(e - s + 1 for s, e in ss)
            assert r["n_tokens"] == len(toks[r["doc_id"]])
            want = [
                t
                for i, t in enumerate(toks[r["doc_id"]], start=1)
                if not any(s <= i <= e for s, e in ss)
            ]
            assert r["scrubbed_text"] == " ".join(want), r["doc_id"]

    def test_d25_plan_no_cartesian_no_python(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "d25_span_scrub")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan
