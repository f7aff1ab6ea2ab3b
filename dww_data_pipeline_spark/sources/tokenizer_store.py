"""Persisted BPE tokenizer — train once, apply many.

t33 trains the 16-merge tokenizer in-query, which is the right shape
for the training query itself but the wrong one for every DOWNSTREAM
consumer: round 9's t25 rewire made the fertility report re-run the
full training loop (16 argmax rounds over the word histogram) on
every call.  A production tokenizer is an ARTIFACT — trained once,
versioned, loaded by everything that tokenizes (the
``sources/ann_index.py`` precedent: the IVF quantizer trains once and
serves from parquet).  This module is that path:

* ``build_tokenizer_store``: run the t33 training loop
  (``plans.pipeline_ext2.bpe_train_segmentation_df``) over a corpus
  slice and write

      <dir>/merges/          n_merges rows: (step, pair, merged, n)
      <dir>/segmentation/    vocabulary: (tok, n, seg, n_sym)

  Both tables are VOCABULARY-BOUNDED (the t33 two-phase rule: the
  corpus collapses to its word histogram once), so the artifact is
  KB-to-MB scale even on a 100 TB corpus — one coalesced merge file,
  one small segmentation write.

* ``load_merge_table`` / ``load_merge_list`` / ``load_segmentation``:
  read the artifact back with the schemas it was written with
  (``MERGES_SCHEMA``, ``SEGMENTATION_SCHEMA``), so a load runs no
  parquet schema-inference job.  The merge list is a bounded collect
  (n_merges rows — the e7/pr1 bounded-artifact discipline); the
  segmentation is a DataFrame sized for ``F.broadcast`` onto an
  exploded token stream (how t25's artifact-backed variant joins it
  — no corpus-side shuffle) or for a bounded driver collect (how the
  s20/c6/st19 gate core reads it under the driver-collect cap).

* ``encode_words``: segment ANY word column with a LOADED merge list
  — the frozen-tokenizer encode path.  Novel (out-of-vocabulary)
  words segment correctly because BPE encoding is merge-list
  application, not a vocabulary lookup: each learned merge applies
  in rank order as one exact greedy fold (merge, then skip).  This
  is what s20's staleness gate runs over ARRIVING docs the frozen
  tokenizer has never seen above the driver-collect cap (under it, the
  gate encodes them with the same fold in Python,
  ``plans.pipeline_ext2._bpe_encode_driver``).

* ``fertility_from_store`` / ``encode_top_from_store``: the
  artifact-backed twins of t25 and t35 — broadcast the loaded
  (tok, n_sym) table instead of re-training; OOV words encode over
  the (bounded) novel vocabulary, in the driver under the BPE driver
  cap and with ``encode_words`` above it.  ``fertility_report`` is
  the report both t25 and t25b build.

* ``tokenizer_lifecycle_tick``: c6's gate -> rebuild -> swap over a
  persisted store; ``frozen_oov_doc_metrics``: the per-document
  drift rows the streaming ingest (streaming/tokenizer_ingest.py)
  writes per micro-batch.

Rebuilds follow the lake discipline: write to a fresh directory and
swap (``sources.maintenance``); the s20 staleness gate is the
oracle-checked decision of WHEN to do that.

No reference counterpart (the reference has no tokenizer); this is
north-star LLM-pipeline infrastructure.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.session import collect_under_cap, local_rows_df, persisted

# The store's on-disk schemas, written by ``build_tokenizer_store`` and
# pinned on every read (no parquet schema-inference job per load).
MERGES_SCHEMA = "step long, pair string, merged string, n long"
SEGMENTATION_SCHEMA = "tok string, n long, seg string, n_sym long"


def build_tokenizer_store(
    docs: DataFrame, out_dir: str, n_merges: int = 16
) -> int:
    """Train the BPE tokenizer on ``docs`` (any (text, ...) corpus
    slice) and persist it under ``out_dir``.  Returns the number of
    merges written."""
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        bpe_train_segmentation_df,
    )

    merges, seg = bpe_train_segmentation_df(docs, n_merges=n_merges)
    spark = docs.sparkSession
    mrows = [
        (it + 1, p.strip(), m.strip(), n) for it, (p, m, n) in enumerate(merges)
    ]
    local_rows_df(spark, mrows, MERGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "merges"))
    seg.select(
        "tok",
        "n",
        F.trim(F.col("seg")).alias("seg"),
        F.size(F.split(F.trim(F.col("seg")), " ")).cast("long").alias("n_sym"),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "segmentation"))
    return len(mrows)


def tokenizer_store_cached(
    spark: SparkSession, sf_dir: str, n_merges: int = 16
) -> str:
    """Path to a persisted tokenizer trained on ``sf_dir``'s documents
    table, built at most once per ``catalog.cached_artifact`` token and
    ``n_merges`` into a temp directory that is deleted when the token
    changes or the interpreter exits.

    In production the tokenizer artifact PRE-EXISTS its consumers
    (trained by a scheduled job, versioned in the lake); a standalone
    registered query has no lake, so the cache is the stand-in — the
    FIRST t25b/t35b-style call per token pays the one training run and
    every later call is pure load + apply, exactly the production
    ratio."""
    from dww_data_pipeline_spark.sources.catalog import cached_artifact, load_table

    def build() -> str:
        store = tempfile.mkdtemp(prefix="dww_tokstore_")
        build_tokenizer_store(
            load_table(spark, sf_dir, "documents"), store, n_merges=n_merges
        )
        return store

    return cached_artifact(
        spark,
        sf_dir,
        ("tokenizer_store", n_merges),
        build,
        release=lambda path: shutil.rmtree(path, ignore_errors=True),
    )


def load_merge_table(spark: SparkSession, store_dir: str) -> DataFrame:
    """The persisted merge table: (step, pair, merged, n), pairs
    trimmed single-space."""
    return spark.read.schema(MERGES_SCHEMA).parquet(
        os.path.join(store_dir, "merges")
    )


def load_merge_list(spark: SparkSession, store_dir: str) -> list[tuple[str, str]]:
    """The learned merge list in rank order, as [(pair, merged)] with
    trimmed single-space pairs (``"a b"``).  Bounded collect —
    n_merges rows."""
    rows = sorted(
        load_merge_table(spark, store_dir).collect(), key=lambda r: r["step"]
    )
    if not rows:
        raise ValueError(f"empty merge table under {store_dir}")
    return [(r["pair"], r["merged"]) for r in rows]


def load_segmentation(spark: SparkSession, store_dir: str) -> DataFrame:
    """The persisted training-corpus vocabulary:
    (tok, n, seg, n_sym), seg trimmed single-space."""
    return spark.read.schema(SEGMENTATION_SCHEMA).parquet(
        os.path.join(store_dir, "segmentation")
    )


def encode_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Segment the ``tok`` column of ``words`` with a loaded merge
    list: character seg0, then each merge in rank order as one exact
    greedy fold (``_bpe_apply_merge`` — merge, then skip).  Returns
    ``words`` plus (seg, n_sym); other columns pass through.

    All n_merges folds compose into ONE projection (zero jobs until a
    consumer runs, one data pass total).  This is safe here — unlike
    the TRAINING loop, where each iteration's segmentation feeds a
    pair-count consumer and must be localCheckpoint-materialized to
    keep re-evaluation linear — because encoding has a single terminal
    consumer and each fold references its predecessor exactly once, so
    the composed expression tree is linear in n_merges and every row
    is evaluated once.  (r13 optimization: the previous
    checkpoint-per-fold form paid n_merges driver round-trips and
    n_merges vocabulary materializations per encode call — measured as
    the dominant cost of every artifact-gate query at sf0.1; the fold
    arithmetic is unchanged, so results are bit-identical.)"""
    from dww_data_pipeline_spark.plans.pipeline_ext2 import _bpe_apply_merge

    passthrough = [c for c in words.columns if c != "tok"]
    seg = F.expr(
        "concat(' ', array_join(transform(sequence(1, length(tok)), "
        "i -> substring(tok, i, 1)), ' '), ' ')"
    )
    for pair, merged in merges:
        la, rb = pair.split(" ")
        seg = _bpe_apply_merge(seg, la, rb, merged)
    # the composed fold lands in its OWN projection so the downstream
    # trim/n_sym pair references a column, not two copies of the
    # expression (CollapseProject keeps non-cheap expressions single)
    cur = words.select("tok", *passthrough, seg.alias("seg"))
    return cur.select(
        "tok",
        *passthrough,
        F.trim(F.col("seg")).alias("seg"),
        F.size(F.split(F.trim(F.col("seg")), " ")).cast("long").alias("n_sym"),
    )


def _nsym_with_oov(
    corpus_words: DataFrame, spark: SparkSession, store_dir: str
) -> DataFrame:
    """(tok, n_sym) covering every word in ``corpus_words`` (a
    distinct ``tok`` column): in-vocabulary words read their symbol
    count from the persisted segmentation; novel words encode on the
    fly with the loaded merge list (the OOV vocabulary is bounded by
    the corpus vocabulary, so the encode folds stay
    vocabulary-scale)."""
    nsym = load_segmentation(spark, store_dir).select("tok", "n_sym")
    oov = corpus_words.join(nsym.select("tok"), "tok", "left_anti")
    enc = encode_words(oov, load_merge_list(spark, store_dir)).select(
        "tok", "n_sym"
    )
    return nsym.unionByName(enc)


def fertility_from_store(
    docs: DataFrame, spark: SparkSession, store_dir: str
) -> DataFrame:
    """t25's artifact-backed twin: the fertility report with the
    token denominator served from the PERSISTED tokenizer instead of
    an in-query training run.  The vocabulary-bounded (tok, n_sym)
    table broadcasts onto the exploded word stream — one corpus-term
    shuffle total, zero training work per call.

    The corpus words missing from the store are vocabulary-bounded
    too: under the session's driver-collect cap they are collected and
    encoded by the driver fold (``_bpe_encode_driver``); above it
    ``encode_words`` runs over the same persisted frame and the
    bounded |source| x |lang| report is collected before release."""
    from dww_data_pipeline_spark.plans.pipeline_ext2 import _bpe_encode_driver
    from dww_data_pipeline_spark.plans.text_exprs import spark_tokens

    nsym = load_segmentation(spark, store_dir).select("tok", "n_sym")
    novel = (
        docs.select(F.explode(spark_tokens(F.col("text"))).alias("tok"))
        .distinct()
        .join(nsym.select("tok"), "tok", "left_anti")
    )
    with persisted(novel):
        merges = load_merge_list(spark, store_dir)
        got = collect_under_cap(novel)
        if got is not None:
            enc = local_rows_df(
                spark,
                [(t, _bpe_encode_driver(t, merges).count(" ") + 1)
                 for (t,) in got],
                "tok string, n_sym long",
            )
            return fertility_report(docs, nsym.unionByName(enc))
        enc = encode_words(novel, merges).select("tok", "n_sym")
        out = fertility_report(docs, nsym.unionByName(enc))
        return local_rows_df(spark, out.collect(), out.schema)


def fertility_report(docs: DataFrame, nsym: DataFrame) -> DataFrame:
    """The t25 fertility report over ``docs``, given (tok, n_sym) for
    every word: per (source, lang) the docs, exact char and whitespace-
    token sums, the BPE token sum, and both chars-per-token ratios.
    Shared by t25 (in-query trained nsym) and t25b (the store's)."""
    from dww_data_pipeline_spark.plans.text_exprs import spark_tokens

    base = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum(F.size(spark_tokens(F.col("text")))).alias("sum_ws_tokens"),
    )
    bpe = (
        docs.select(
            "source", "lang", F.explode(spark_tokens(F.col("text"))).alias("tok")
        )
        .join(F.broadcast(nsym), "tok")
        .groupBy("source", "lang")
        .agg(F.sum("n_sym").alias("sum_bpe_tokens"))
    )
    # left join: a (source, lang) group whose documents contain zero
    # tokens must stay visible (sum_bpe_tokens = 0, null fertility)
    # rather than vanish from the report (round-9 advice)
    bpe_sum = F.coalesce(F.col("sum_bpe_tokens"), F.lit(0).cast("long"))
    return base.join(bpe, ["source", "lang"], "left").select(
        "source",
        "lang",
        "n_docs",
        "sum_chars",
        "sum_ws_tokens",
        bpe_sum.alias("sum_bpe_tokens"),
        F.when(
            F.col("sum_ws_tokens") > 0,
            F.round(
                F.col("sum_chars").cast("double")
                / F.col("sum_ws_tokens").cast("double"),
                6,
            ),
        ).alias("chars_per_ws_token"),
        F.when(
            bpe_sum > 0,
            F.round(
                F.col("sum_chars").cast("double") / bpe_sum.cast("double"), 6
            ),
        ).alias("chars_per_bpe_token"),
    )


def encode_top_from_store(
    spark: SparkSession, store_dir: str, topk: int = 500
) -> DataFrame:
    """t35's artifact-backed twin: the top-k encoded-vocabulary view
    read straight from the persisted segmentation — no training, no
    encode folds.  TakeOrdered + driver-side ranks on the bounded
    artifact (the global-window discipline)."""
    rows = (
        load_segmentation(spark, store_dir)
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(topk)
        .collect()
    )
    out = [
        (i + 1, r["tok"], r["n"], r["seg"], r["n_sym"])
        for i, r in enumerate(rows)
    ]
    return local_rows_df(
        spark, out, "rank long, tok string, n long, seg string, n_sym long"
    )


def tokenizer_lifecycle_tick(
    spark: SparkSession,
    store_dir: str,
    arrived_words: DataFrame,
    arrived_doc_counts: DataFrame,
    retrain_corpus: DataFrame,
    n_steps: int = 4,
    n_merges: int = 16,
) -> dict:
    """Close the tokenizer lifecycle: gate -> (on a retrain verdict)
    rebuild -> swap — the c4 composition discipline applied to
    s20 + t36.  Runs s20's staleness gate with the PERSISTED tokenizer
    at ``store_dir`` (loaded segmentation + merge list, not an
    in-query retrain); if the final cumulative step's decision is
    retrain, trains a fresh store over ``retrain_corpus`` into a
    sibling temp directory and swaps it in atomically
    (``sources.maintenance.swap_dir`` — readers never observe a
    half-written store).  On a keep verdict the store is untouched.

    ``arrived_words``: (step, tok, n) per-step word histogram of the
    arriving stream; ``arrived_doc_counts``: (step, n_docs) — the s20
    shapes.  Returns {"retrain", "swapped", "gate"} where gate is the
    bounded (n_steps + 1)-row decision table as Rows.

    Scale shape: the gate is s20's (one corpus-scale pass over the
    arriving slice upstream of this call; inside, vocabulary-bounded
    sums in the driver under the driver-collect cap, or encode folds in
    a distributed plan above it); the rebuild is one t33 training
    run; the swap is two renames.  Nothing here holds corpus-scale
    data on the driver — the collected gate inputs are capped at
    ``session._DRIVER_CELL_CAP`` rows and the gate table is
    n_steps + 1 rows.
    """
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        tokenizer_staleness_gate,
    )
    from dww_data_pipeline_spark.sources.maintenance import swap_dir

    gate = tokenizer_staleness_gate(
        load_segmentation(spark, store_dir),
        arrived_words,
        arrived_doc_counts,
        load_merge_list(spark, store_dir),
        n_steps,
    ).collect()  # bounded: n_steps + 1 rows
    final = max(gate, key=lambda r: r["step"])
    swapped = False
    if final["retrain"]:
        tmp = tempfile.mkdtemp(prefix="dww_tokstore_rebuild_")
        try:
            build_tokenizer_store(retrain_corpus, tmp, n_merges=n_merges)
            swap_dir(store_dir, tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        swapped = True
    return {"retrain": bool(final["retrain"]), "swapped": swapped, "gate": gate}


def frozen_oov_doc_metrics(
    docs: DataFrame, spark: SparkSession, store_dir: str
) -> DataFrame:
    """Per-document tokenizer-drift metrics under the FROZEN persisted
    tokenizer: (doc_id, n_tokens, oov_tokens, chars, bpe_tokens).

    The st13/st17/st18 contract, applied to the tokenizer: every
    number depends only on the frozen store and the document itself —
    never on what else is in the batch — so a streaming ingest can
    compute these per micro-batch and the union over ANY chopping
    equals the one-shot batch answer (tests/test_stream_ingest.py
    asserts it).  The st19 registered query gets the same per-batch
    sums from the arrival word histogram through s20's gate core;
    tests/test_tokenizer_store.py pins that the two agree.

    Scale shape: one batch-proportional explode + two BROADCAST joins
    (the vocabulary-bounded (tok, n_sym) table and the frozen vocab
    flags), then a per-doc aggregate; OOV words encode with the
    loaded merge list over the batch's (bounded) novel vocabulary.
    Zero-token docs still emit rows (all zeros — the s19 rule)."""
    from dww_data_pipeline_spark.plans.text_exprs import spark_tokens

    toks = docs.select(
        "doc_id", F.explode(spark_tokens(F.col("text"))).alias("tok")
    )
    nsym = _nsym_with_oov(toks.select("tok").distinct(), spark, store_dir)
    in_vocab = load_segmentation(spark, store_dir).select(
        "tok", F.lit(1).alias("in_vocab")
    )
    z = F.lit(0).cast("long")
    per_doc = (
        toks.join(F.broadcast(nsym), "tok")
        .join(F.broadcast(in_vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_tokens"),
            F.sum(F.length("tok")).cast("long").alias("chars"),
            F.sum("n_sym").cast("long").alias("bpe_tokens"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", z).alias("n_tokens"),
        F.coalesce("oov_tokens", z).alias("oov_tokens"),
        F.coalesce("chars", z).alias("chars"),
        F.coalesce("bpe_tokens", z).alias("bpe_tokens"),
    )
