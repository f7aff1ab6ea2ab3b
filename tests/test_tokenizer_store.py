"""Persisted-tokenizer tier: the store round-trip, the frozen-merge
encode path on novel words, artifact-backed t25/t35 parity, and the
s20 staleness gate fed from the persisted artifact.

The differential gate for the artifact path itself is the registered
t36 query (oracle-checked at 3 SFs); these tests pin the pieces the
oracle can't see — the parquet files on disk, the loaded-merge encode
on OUT-OF-VOCABULARY words, and the factored s20 core accepting the
persisted store as its frozen tokenizer.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dww_data_pipeline_spark import session
from dww_data_pipeline_spark.plans.registry import REGISTRY, all_queries
from dww_data_pipeline_spark.sources.catalog import load_table
from dww_data_pipeline_spark.sources.tokenizer_store import (
    build_tokenizer_store,
    encode_top_from_store,
    encode_words,
    fertility_from_store,
    load_merge_list,
    load_segmentation,
)

all_queries()  # populate REGISTRY


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    """One trained store per module — the train-once artifact."""
    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="dww_tokstore_test_")
    build_tokenizer_store(d, path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _seq_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Sequential reference encoder: apply each merge in rank order
    with one exact greedy left-to-right pass (merge, then skip)."""
    syms = list(word)
    for pair, _merged in merges:
        a, b = pair.split(" ")
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


class TestStoreRoundTrip:
    def test_merges_match_t33(self, spark, sf_dir, store):
        """The persisted merge table is exactly t33's learned table."""
        want = sorted(
            (r["step"], r["pair"], r["merged"], r["n"])
            for r in REGISTRY["t33_bpe_train"].spark(spark, sf_dir).collect()
        )
        got = sorted(
            (r["step"], r["pair"], r["merged"], r["n"])
            for r in spark.read.parquet(f"{store}/merges").collect()
        )
        assert got == want

    def test_segmentation_matches_trainer(self, spark, sf_dir, store):
        """The persisted segmentation is the trainer's final state:
        every loaded word re-encodes to its stored seg, and the
        vocabulary covers the corpus exactly once."""
        merges = load_merge_list(spark, store)
        rows = load_segmentation(spark, store).collect()
        assert rows
        toks = [r["tok"] for r in rows]
        assert len(toks) == len(set(toks))  # vocabulary keys unique
        for r in rows[:200]:  # spot-check the encode closure
            want = _seq_encode(r["tok"], merges)
            assert r["seg"].split(" ") == want, r["tok"]
            assert r["n_sym"] == len(want)

    def test_load_merge_list_ordered(self, spark, store):
        merges = load_merge_list(spark, store)
        assert len(merges) == 16
        for pair, merged in merges:
            a, b = pair.split(" ")
            assert merged == a + b

    def test_empty_store_raises(self, spark):
        with pytest.raises(Exception):
            load_merge_list(spark, "/nonexistent/tokenizer/store")


class TestFrozenEncodeOnNovelWords:
    def test_oov_words_match_sequential_encoder(self, spark, store):
        """The loaded merge list segments words the trainer NEVER saw
        — BPE encoding is merge application, not a vocabulary lookup
        (what s20 runs over arriving docs)."""
        merges = load_merge_list(spark, store)
        vocab = {r["tok"] for r in load_segmentation(spark, store).collect()}
        novel = [w for w in (
            "zzyzxq", "preservation", "xylophone", "aaaa", "q",
            "internationalization", "entente",
        ) if w not in vocab]
        assert novel, "pick rarer probe words"
        df = spark.createDataFrame([(w,) for w in novel], "tok string")
        got = {r["tok"]: (r["seg"], r["n_sym"]) for r in encode_words(df, merges).collect()}
        for w in novel:
            want = _seq_encode(w, merges)
            assert got[w] == (" ".join(want), len(want)), w

    def test_passthrough_columns_survive(self, spark, store):
        merges = load_merge_list(spark, store)
        df = spark.createDataFrame([("abc", 7)], "tok string, extra int")
        row = encode_words(df, merges).collect()[0]
        assert row["extra"] == 7 and row["n_sym"] >= 1

    def test_composed_fold_overlapping_runs(self, spark):
        """The r13 single-projection encode (all merges composed into
        one nested fold, no per-merge checkpoint) must keep the exact
        greedy merge-then-skip semantics on overlapping runs — the
        round-7 hazard cases: ' a n a n a n ' -> an/an/an and
        ' a a a a a ' -> aa/aa/a under the corresponding merges."""
        merges = [("a n", "an")]
        df = spark.createDataFrame([("ananan",), ("anana",)], "tok string")
        got = {
            r["tok"]: (r["seg"], r["n_sym"])
            for r in encode_words(df, merges).collect()
        }
        assert got["ananan"] == ("an an an", 3)
        assert got["anana"] == ("an an a", 3)
        merges = [("a a", "aa")]
        df = spark.createDataFrame([("aaaaa",), ("aaaa",)], "tok string")
        got = {
            r["tok"]: (r["seg"], r["n_sym"])
            for r in encode_words(df, merges).collect()
        }
        assert got["aaaaa"] == ("aa aa a", 3)
        assert got["aaaa"] == ("aa aa", 2)
        # two merges composed in rank order: 'a b'->ab then 'ab c'->abc
        merges = [("a b", "ab"), ("ab c", "abc")]
        df = spark.createDataFrame([("abcabc",), ("abab",)], "tok string")
        got = {
            r["tok"]: (r["seg"], r["n_sym"])
            for r in encode_words(df, merges).collect()
        }
        assert got["abcabc"] == ("abc abc", 2)
        assert got["abab"] == ("ab ab", 2)


class TestArtifactBackedTwins:
    def test_fertility_from_store_equals_t25(self, spark, sf_dir, store):
        """The artifact-backed fertility report reproduces the
        registered in-query-trained t25 exactly — train once, apply
        many, same numbers."""
        d = load_table(spark, sf_dir, "documents")
        got = sorted(
            tuple(r) for r in fertility_from_store(d, spark, store).collect()
        )
        want = sorted(
            tuple(r)
            for r in REGISTRY["t25_tokenizer_fertility"].spark(spark, sf_dir).collect()
        )
        assert got == want

    def test_fertility_driver_and_distributed_encode_agree(
        self, spark, sf_dir, monkeypatch
    ):
        """Corpus words missing from the store encode in the driver
        under the driver-collect cap and through ``encode_words`` above it
        (cap 0); the report must not change.  The store is trained on
        one English sentence, so most corpus words are novel."""
        spark_encodes = _spy_encode_words(monkeypatch)
        d = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="dww_tokstore_fert_")
        try:
            build_tokenizer_store(
                spark.createDataFrame(
                    [(i, "the quick brown fox jumps over the lazy dog")
                     for i in range(8)],
                    "doc_id long, text string",
                ),
                path,
            )
            drv = sorted(
                map(tuple, fertility_from_store(d, spark, path).collect())
            )
            assert not spark_encodes
            monkeypatch.setattr(session, "_DRIVER_CELL_CAP", 0)
            dist = sorted(
                map(tuple, fertility_from_store(d, spark, path).collect())
            )
            assert spark_encodes
        finally:
            shutil.rmtree(path, ignore_errors=True)
        assert drv and drv == dist

    def test_encode_top_from_store_equals_t35(self, spark, sf_dir, store):
        got = sorted(
            tuple(r) for r in encode_top_from_store(spark, store).collect()
        )
        want = sorted(
            tuple(r)
            for r in REGISTRY["t35_bpe_encode"].spark(spark, sf_dir).collect()
        )
        assert got == want


class TestStalenessGateFromStore:
    def test_gate_from_persisted_store_matches_registered(self, spark, sf_dir):
        """The s20 core fed the PERSISTED store (base-trained) must
        emit the identical gate as the registered in-query-trained
        path — the artifact round-trips through the lifecycle
        decision."""
        from dww_data_pipeline_spark.plans.pipeline_ext2 import (
            _S20_STEPS,
            tokenizer_staleness_gate,
        )
        from dww_data_pipeline_spark.plans.text_exprs import spark_tokens

        d = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="dww_tokstore_s20_")
        try:
            build_tokenizer_store(d.filter(F.col("doc_id") % 4 != 3), path)
            arr = d.filter(F.col("doc_id") % 4 == 3).withColumn(
                "step", F.expr("CAST((doc_id % 16) DIV 4 AS INT) + 1")
            )
            words = (
                arr.select(
                    "step", F.explode(spark_tokens(F.col("text"))).alias("tok")
                )
                .groupBy("step", "tok")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            counts = arr.groupBy("step").agg(F.count(F.lit(1)).alias("n_docs"))
            got = sorted(
                tuple(r)
                for r in tokenizer_staleness_gate(
                    load_segmentation(spark, path),
                    words,
                    counts,
                    load_merge_list(spark, path),
                    _S20_STEPS,
                ).collect()
            )
        finally:
            shutil.rmtree(path, ignore_errors=True)
        want = sorted(
            tuple(r)
            for r in REGISTRY["s20_tokenizer_staleness_gate"]
            .spark(spark, sf_dir)
            .collect()
        )
        assert got == want

    def test_planted_domain_shift_forces_retrain(self, spark):
        """Arrivals in an unseen script: every arriving token is OOV,
        so the OOV leg (> 1/4) must flip the decision to retrain."""
        out = {r["step"]: r for r in _planted_shift_gate(spark)}
        # step 0: nothing arrived — row still present, keep
        assert out[0]["n_tokens_arrived"] == 0
        assert out[0]["oov_rate"] == 0.0
        assert not out[0]["retrain"]
        assert out[0]["fertility_arrived"] is None
        # steps 1-2: all tokens OOV -> rate 1.0 -> retrain
        for s in (1, 2):
            assert out[s]["oov_rate"] == 1.0
            assert out[s]["retrain"]
        assert out[1]["n_docs_arrived"] == 2
        assert out[2]["n_docs_arrived"] == 5


def _spy_encode_words(monkeypatch) -> list:
    """Record each ``tokenizer_store.encode_words`` call (the Spark
    encode, which the driver paths must not reach)."""
    from dww_data_pipeline_spark.sources import tokenizer_store as ts

    calls: list[int] = []
    real = ts.encode_words

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(ts, "encode_words", spy)
    return calls


def _planted_shift_gate(spark) -> list:
    """The s20 gate over a store trained on one English sentence, with
    two steps of arrivals in an unseen script."""
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        tokenizer_staleness_gate,
    )

    base_docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="dww_tokstore_shift_")
    try:
        build_tokenizer_store(base_docs, path)
        words = spark.createDataFrame(
            [(1, "zq", 5), (2, "xv", 7)], "step int, tok string, n long"
        )
        counts = spark.createDataFrame(
            [(1, 2), (2, 3)], "step int, n_docs long"
        )
        return tokenizer_staleness_gate(
            load_segmentation(spark, path),
            words,
            counts,
            load_merge_list(spark, path),
            2,
        ).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)


class TestGateDriverPath:
    """The gate's integer sums run in the driver when every input fits
    under the session's driver-collect cap and as a distributed plan above it;
    the cap is a pure execution-strategy switch, so both paths must
    emit identical rows (the TestBpeDriverTrainer pattern)."""

    @staticmethod
    def _both_paths(monkeypatch, run) -> tuple[list, list]:
        """``run()`` under the default cap (asserting the driver sums
        ran) and at cap 0 (asserting the distributed sums ran)."""
        from dww_data_pipeline_spark.plans import pipeline_ext2 as pe2

        calls: list[str] = []
        for name in ("_gate_sums_driver", "_gate_sums_spark"):
            real = getattr(pe2, name)

            def spy(*a, _real=real, _name=name, **kw):
                calls.append(_name)
                return _real(*a, **kw)

            monkeypatch.setattr(pe2, name, spy)
        drv = sorted(map(tuple, run()))
        assert calls and set(calls) == {"_gate_sums_driver"}
        calls.clear()
        monkeypatch.setattr(session, "_DRIVER_CELL_CAP", 0)
        dist = sorted(map(tuple, run()))
        assert calls and set(calls) == {"_gate_sums_spark"}
        return drv, dist

    def test_s20_rows_identical(self, spark, sf_dir, monkeypatch):
        q = REGISTRY["s20_tokenizer_staleness_gate"]
        drv, dist = self._both_paths(
            monkeypatch, lambda: q.spark(spark, sf_dir).collect()
        )
        assert len(drv) == 5 and drv == dist

    def test_st19_rows_identical(self, spark, sf_dir, monkeypatch):
        q = REGISTRY["st19_stream_tokenizer_oov"]
        drv, dist = self._both_paths(
            monkeypatch, lambda: q.spark(spark, sf_dir).collect()
        )
        assert len(drv) == 4 and drv == dist

    def test_planted_domain_shift_identical(self, spark, monkeypatch):
        drv, dist = self._both_paths(
            monkeypatch, lambda: _planted_shift_gate(spark)
        )
        assert len(drv) == 3 and drv == dist

    def test_t36_rows_identical(self, spark, sf_dir, monkeypatch):
        """t36's re-encode leg: the driver fold under the cap,
        ``encode_words`` at cap 0 — the same five fingerprints."""
        spark_encodes = _spy_encode_words(monkeypatch)
        q = REGISTRY["t36_tokenizer_artifact_parity"]
        drv = sorted(map(tuple, q.spark(spark, sf_dir).collect()))
        assert not spark_encodes
        monkeypatch.setattr(session, "_DRIVER_CELL_CAP", 0)
        dist = sorted(map(tuple, q.spark(spark, sf_dir).collect()))
        assert spark_encodes
        assert len(drv) == 5 and drv == dist

    def test_st19_equals_per_doc_core(self, spark, sf_dir):
        """st19's per-batch sums come from the arrival histogram; they
        must equal the per-document core (what the streaming ingest
        runs) summed per batch."""
        from dww_data_pipeline_spark.sources.tokenizer_store import (
            frozen_oov_doc_metrics,
        )

        d = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="dww_tokstore_perdoc_")
        try:
            build_tokenizer_store(d.filter(F.col("doc_id") % 4 != 3), path)
            per_doc = frozen_oov_doc_metrics(
                d.filter(F.col("doc_id") % 4 == 3).select("doc_id", "text"),
                spark,
                path,
            ).withColumn("batch", F.expr("(doc_id % 16) DIV 4 + 1"))
            want = sorted(
                tuple(r)
                for r in per_doc.groupBy("batch")
                .agg(
                    F.count(F.lit(1)),
                    F.sum("n_tokens"),
                    F.sum("oov_tokens"),
                    F.sum("chars"),
                    F.sum("bpe_tokens"),
                )
                .collect()
            )
        finally:
            shutil.rmtree(path, ignore_errors=True)
        got = sorted(
            (r["batch"], r["n_docs"], r["n_tokens"], r["oov_tokens"],
             r["chars"], r["bpe_tokens"])
            for r in REGISTRY["st19_stream_tokenizer_oov"]
            .spark(spark, sf_dir)
            .collect()
        )
        assert got == want

    def test_python_encode_equals_encode_words(self, spark, store):
        """The driver encoder and the Spark fold segment every word
        identically: the fixture vocabulary under its own merges, and
        tokens with quotes, backslashes and non-ASCII characters under
        merges made of those symbols."""
        from dww_data_pipeline_spark.plans.pipeline_ext2 import (
            _bpe_encode_driver,
        )

        odd = ["it's", 'say"hi"', "back\\slash", "\\'\\'", "naïve",
               "ïïï", "日本語日本", "x😀😀y", "a"]
        cases = [
            (load_merge_list(spark, store),
             [r["tok"] for r in load_segmentation(spark, store).collect()]
             + odd),
            ([("' s", "'s"), ("\\ '", "\\'"), ("\\' \\'", "\\'\\'"),
              ("ï ï", "ïï"), ("日 本", "日本"), ("😀 😀", "😀😀"),
              ('" h', '"h')],
             odd),
        ]
        for merges, toks in cases:
            df = spark.createDataFrame([(t,) for t in toks], "tok string")
            want = {
                r["tok"]: (r["seg"], r["n_sym"])
                for r in encode_words(df, merges).collect()
            }
            for t in toks:
                seg = _bpe_encode_driver(t, merges)
                assert (seg, seg.count(" ") + 1) == want[t], t


class TestLifecycleTick:
    """c6's core: gate -> rebuild -> swap, exercised for real on a
    synthetic corpus where each verdict is forced."""

    def _fingerprint(self, spark, path):
        return sorted(
            (r["tok"], r["n"], r["seg"], r["n_sym"])
            for r in load_segmentation(spark, path).collect()
        )

    def test_retrain_verdict_swaps_and_repasses_parity(self, spark):
        """Arrivals in an unseen script force retrain; the tick must
        actually rebuild over the retrain corpus and swap it in, and
        the SWAPPED store must re-pass the t36 parity closure:
        re-encoding the vocabulary with the LOADED merge list
        reproduces the persisted segmentation exactly."""
        from dww_data_pipeline_spark.sources.tokenizer_store import (
            tokenizer_lifecycle_tick,
        )

        base_docs = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog")
             for i in range(8)],
            "doc_id long, text string",
        )
        arrived_docs = spark.createDataFrame(
            [(100 + i, "zqxv vexq zqzq xvxv") for i in range(4)],
            "doc_id long, text string",
        )
        full = base_docs.unionByName(arrived_docs)
        words = spark.createDataFrame(
            [(1, "zqxv", 8), (1, "vexq", 4), (2, "zqzq", 4)],
            "step int, tok string, n long",
        )
        counts = spark.createDataFrame(
            [(1, 2), (2, 2)], "step int, n_docs long"
        )
        path = tempfile.mkdtemp(prefix="dww_tokstore_tick_")
        try:
            build_tokenizer_store(base_docs, path)
            before = self._fingerprint(spark, path)
            res = tokenizer_lifecycle_tick(
                spark, path, words, counts, retrain_corpus=full, n_steps=2
            )
            assert res["retrain"] and res["swapped"]
            after = self._fingerprint(spark, path)
            assert after != before  # the artifact actually changed
            # the swapped store IS the full-corpus trainer's state
            ref = tempfile.mkdtemp(prefix="dww_tokstore_ref_")
            try:
                build_tokenizer_store(full, ref)
                assert after == self._fingerprint(spark, ref)
            finally:
                shutil.rmtree(ref, ignore_errors=True)
            # t36 parity closure THROUGH the swapped artifact
            merges = load_merge_list(spark, path)
            reenc = {
                r["tok"]: (r["seg"], r["n_sym"])
                for r in encode_words(
                    load_segmentation(spark, path).select("tok"), merges
                ).collect()
            }
            assert reenc == {t: (s, ns) for t, _n, s, ns in after}
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def test_keep_verdict_leaves_store_untouched(self, spark):
        """In-vocabulary arrivals with matching fertility: keep — the
        tick must not rewrite or swap anything."""
        from dww_data_pipeline_spark.sources.tokenizer_store import (
            tokenizer_lifecycle_tick,
        )

        base_docs = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog")
             for i in range(8)],
            "doc_id long, text string",
        )
        # arrivals = the training distribution itself: zero OOV,
        # identical fertility, so both gate legs say keep
        words = spark.createDataFrame(
            [(1, w, 8) for w in
             ("the", "quick", "brown", "fox", "jumps",
              "over", "lazy", "dog")],
            "step int, tok string, n long",
        )
        counts = spark.createDataFrame([(1, 8)], "step int, n_docs long")
        path = tempfile.mkdtemp(prefix="dww_tokstore_keep_")
        try:
            build_tokenizer_store(base_docs, path)
            before = self._fingerprint(spark, path)
            res = tokenizer_lifecycle_tick(
                spark, path, words, counts,
                retrain_corpus=base_docs, n_steps=1,
            )
            assert not res["retrain"] and not res["swapped"]
            assert self._fingerprint(spark, path) == before
        finally:
            shutil.rmtree(path, ignore_errors=True)
