"""Pin the bench.py drift-normalization math (round-9 verdict #7).

The round-8 advice fix made ``normalized_ratios`` divide BOTH rounds'
timings by their own recorded calibration drift; nothing tested the
formula, so a regression (e.g. reverting to raw previous timings)
would only show up as silently-biased round-over-round reads.  These
tests need no Spark session — bench.py's pure math only.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from bench import normalized_ratios  # noqa: E402


def _prev(queries: dict, drift: float | None) -> dict:
    prev = {"queries": queries, "_path": "synthetic"}
    if drift is not None:
        prev["calibration"] = {"drift": drift}
    return prev


class TestNormalizedRatios:
    def test_both_sides_divided_by_own_drift(self):
        """Known drifts 0.5 (prev) and 1.0 (current): a query that ran
        2.0s then on a half-speed box 1.0s is EXACTLY unchanged."""
        out = normalized_ratios(
            {"q": 2.0}, 1.0, _prev({"q": 1.0}, 0.5)
        )
        assert out == {"q": 1.0}

    def test_identity_when_drifts_equal(self):
        out = normalized_ratios(
            {"a": 3.0, "b": 0.5}, 0.8, _prev({"a": 1.5, "b": 0.5}, 0.8)
        )
        assert out == {"a": 2.0, "b": 1.0}

    def test_regression_shows_through_drift(self):
        """A true 2x regression must read 2.0 regardless of how the
        box drifted between rounds."""
        out = normalized_ratios({"q": 4.0}, 2.0, _prev({"q": 0.5}, 0.5))
        assert out == {"q": 2.0}

    def test_missing_prev_calibration_defaults_to_raw(self):
        out = normalized_ratios({"q": 2.0}, 1.0, _prev({"q": 2.0}, None))
        assert out == {"q": 1.0}
        # an explicit zero/None drift must not divide by zero
        out = normalized_ratios({"q": 2.0}, 1.0, _prev({"q": 2.0}, 0.0))
        assert out == {"q": 1.0}

    def test_unmatched_and_zero_prev_queries_skipped(self):
        out = normalized_ratios(
            {"new": 1.0, "zero": 1.0, "ok": 1.0},
            1.0,
            _prev({"zero": 0.0, "ok": 2.0}, 1.0),
        )
        assert out == {"ok": 0.5}


from bench import runs_for  # noqa: E402


class TestRunsFor:
    """Round-10 verdict #8 (sub-second min-of-5), extended by round-12
    verdict #1: the whole <3 s tier runs min-of-5 — ev21/s4 swung >2x
    in r12 from (presumed) single-pass stalls the 1 s threshold
    didn't cover."""

    def test_subsecond_gets_extra_runs(self):
        assert runs_for("q", {"queries": {"q": 0.55}}) == 5

    def test_one_to_three_second_tier_gets_extra_runs(self):
        # the r12 ev21/s4 regression tier
        assert runs_for("q", {"queries": {"q": 1.0}}) == 5
        assert runs_for("q", {"queries": {"q": 2.51}}) == 5

    def test_three_seconds_and_above_stay_at_base(self):
        assert runs_for("q", {"queries": {"q": 3.0}}) == 3
        assert runs_for("q", {"queries": {"q": 12.5}}) == 3

    def test_no_previous_artifact_or_entry_stays_at_base(self):
        assert runs_for("q", None) == 3
        assert runs_for("q", {"queries": {}}) == 3

    def test_zero_or_negative_prev_time_stays_at_base(self):
        # a 0.0 entry means "never really measured" — don't quintuple it
        assert runs_for("q", {"queries": {"q": 0.0}}) == 3


from bench import (  # noqa: E402
    _CALIBRATION_PANEL,
    _PANEL_QUERIES,
    HEADLINE_B,
    query_drifts,
    shape_drifts,
    shape_of,
)


class TestCalibrationPanelV2:
    """Round-11 verdict ask #1: per-shape drift from a frozen 8-query
    panel, each query normalized by ITS shape's drift."""

    def test_panel_spans_seven_shapes_with_eight_queries(self):
        assert len(_CALIBRATION_PANEL) == 7
        assert len(_PANEL_QUERIES) == 8

    def test_compute_fold_repinned_to_plan_stable_member(self):
        """r13 verdict ask #3: t33's plan changed in r13 AND r14, so
        the compute_fold panel member is now t34 (plan-stable since
        r07) pinned to its r07 recording; t33 remains a shape MEMBER
        but no longer defines the shape's drift."""
        assert _CALIBRATION_PANEL["compute_fold"] == [
            ("t34_kneser_ney_score", 1.417)
        ]
        assert "t33_bpe_train" not in _PANEL_QUERIES
        assert shape_of("t33_bpe_train") == "compute_fold"
        assert shape_of("t34_kneser_ney_score") == "compute_fold"

    def test_panel_queries_run_min_of_five(self):
        for name in _PANEL_QUERIES:
            # even with a previous artifact recording them as slow
            assert runs_for(name, {"queries": {name: 5.0}}) == 5

    def test_shape_of_panel_members(self):
        assert shape_of("a1_pricing_summary") == "default"  # scan=median
        assert shape_of("m4_audio_features") == "arrow_python"
        assert shape_of("st1_tumbling_window") == "streaming_sim"
        assert shape_of("d6_dup_components") == "iterative"
        assert shape_of("t33_bpe_train") == "compute_fold"
        assert shape_of("w1_jumps") == "window"

    def test_shape_of_families(self):
        assert shape_of("m10_decode_audit") == "arrow_python"
        assert shape_of("st19_stream_tokenizer_oov") == "streaming_sim"
        assert shape_of("e9_power_iteration_pc1") == "iterative"
        assert shape_of("t20_contamination_share") == "compute_fold"
        # names that merely start with m/st but aren't those families
        assert shape_of("merge_something") == "default"
        assert shape_of("star_join") == "default"
        assert shape_of("q3_shipping_priority") == "default"

    def test_r13_explicit_classifications(self):
        # r12 verdict #1: the two unexplained >2x swings get shapes
        assert shape_of("ev21_holt_winters") == "compute_fold"
        assert shape_of("s4_ann_lsh_topk") == "shuffle_join"
        # r12 advice: batch-registered st queries escape the st-prefix
        # streaming_sim rule (st1's 0.308 divisor would inflate ~3x)
        assert shape_of("st20_stream_ann_drift") == "iterative"
        assert shape_of("st21_stream_packing") == "arrow_python"
        assert shape_of("st22_stream_embedding_psi") == "default"
        # the late-merge union must not have dropped earlier members
        assert shape_of("d6_dup_components") == "iterative"
        assert shape_of("t33_bpe_train") == "compute_fold"

    def test_box_probe_shape(self):
        from bench import box_probe

        p = box_probe(passes=2)
        assert len(p["passes"]) == 2
        assert p["spread"] >= 1.0

    def test_shape_drifts_geomean_and_missing_members(self):
        timings = {"j1_star_join": 4.0, "d2_minhash_lsh_pairs": 0.0,
                   "w1_jumps": 1.052}
        d = shape_drifts(timings)
        # d2 has no valid timing -> shuffle_join uses j1 alone
        assert d["shuffle_join"] == round(4.0 / 1.897, 3)
        assert d["window"] == 2.0
        assert "arrow_python" not in d  # m4 absent entirely

    def test_query_drifts_use_shape_else_median(self):
        drifts = {"arrow_python": 4.0, "window": 1.0, "scan_agg": 2.0}
        qd = query_drifts({"m4_audio_features", "w1_jumps", "unknown_q"},
                          drifts)
        assert qd["m4_audio_features"] == 4.0
        assert qd["w1_jumps"] == 1.0
        assert qd["unknown_q"] == 2.0  # median of {4,1,2}

    def test_normalized_ratios_per_query_both_sides(self):
        """Current side divides by its query_drift entry; prev side by
        its recorded query_drift, falling back to scalar drift."""
        prev = {
            "queries": {"a": 1.0, "b": 1.0},
            "calibration": {"drift": 0.5},
            "query_drift": {"a": 2.0},  # b falls back to scalar
            "_path": "synthetic",
        }
        out = normalized_ratios({"a": 4.0, "b": 4.0}, {"a": 2.0, "b": 1.0},
                                prev)
        # a: (4/2)/(1/2)=4.0 ; b: (4/1)/(1/0.5)=2.0
        assert out == {"a": 4.0, "b": 2.0}

    def test_headline_b_is_frozen_seven(self):
        assert len(HEADLINE_B) == 7
        assert "d28_ppjoin_exact" in HEADLINE_B


import bench  # noqa: E402


class TestCurrentRound:
    def test_side_files_do_not_break_the_round(self, tmp_path, monkeypatch):
        """BENCH_r13_c8.json matches the BENCH_r*.json glob but not
        ``_r(\\d+)\\.json$``; it must be skipped, not crash the bench."""
        for name in ("BENCH_r13.json", "BENCH_r13_c8.json"):
            (tmp_path / name).write_text("{}")
        monkeypatch.setattr(bench, "REPO", str(tmp_path))
        monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
        assert bench._current_round() == 14

    def test_no_bench_files_is_round_one(self, tmp_path, monkeypatch):
        (tmp_path / "BENCH_r07_c8.json").write_text("{}")
        monkeypatch.setattr(bench, "REPO", str(tmp_path))
        monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
        assert bench._current_round() == 1
