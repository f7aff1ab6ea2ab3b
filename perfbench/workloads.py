"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

Each workload is a closed loop with one client: the next operation
starts when the previous one returns.

* ``headline`` and ``artifact`` run registered queries.  One operation
  is one query: the builder call (``plans.build``), forcing the
  executed plan (``catalyst.plan``) and a noop write (``exec``).  The
  seed permutes the order of the queries in every pass.
* ``ingest`` runs the write path: a shard-ingest stream with one
  micro-batch per source file, a dedup-at-ingest stream of a feed
  against the rest of the corpus, compaction of the shard lake and a
  read-back of its manifest.  The seed picks the feed/corpus split and
  how the corpus and the feed are cut into files.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

# The frozen 17-query headline (one query per operator family).
HEADLINE = (
    "a1_pricing_summary", "j1_star_join", "w1_jumps", "a5_density",
    "w8_nested_documents", "o5_first_per_group", "d1_exact_dedup_groups",
    "d2_minhash_lsh_pairs", "d4_simhash", "t2_quality_scores",
    "s1_ann_brute_force_topk", "st1_tumbling_window", "st3_session_windows",
    "q3_shipping_priority", "t7_chunking", "d6_dup_components",
    "st5_stateful_jumps",
)
# The artifact tier: the 7 tokenizer-store and ANN-index lifecycle
# queries and the stage-latency-bound d28 join, plus s21, the one query
# that reads its kNN graph through the ``plans.dedup_plans`` memo, and
# d6, whose connected components are the public ``operators.*`` call
# with the most driver round-trips.  a5 and w1 add two sub-second
# operator calls over the events table; they also put the pass's median
# operation inside the 1.5-2 s group of tokenizer queries rather than on
# the gap above it, where it flipped between two values from run to run.
ARTIFACT = (
    "c6_tokenizer_lifecycle", "c8_ann_index_lifecycle",
    "t36_tokenizer_artifact_parity", "st19_stream_tokenizer_oov",
    "s20_tokenizer_staleness_gate", "t25b_fertility_from_store",
    "d28_ppjoin_exact", "s21_graph_ann_walk", "d6_dup_components",
    "a5_density", "w1_jumps",
)

OP_TIMEOUT_S = 120.0
# source files, so micro-batches, of the shard and the dedup stream.  A
# pass is 1 read-back, 8 shard batches, 1 compaction and 4 dedup
# batches, from fastest to slowest kind: with unequal groups its median
# operation falls inside the shard batches and its 90th percentile
# inside the dedup batches, not on the gap between two kinds.
N_SHARD_FILES = 8
N_FEED_FILES = 4
N_SHARDS = 8
FEED_SHARE = 1 / 7   # share of the documents that arrive as the dedup feed
DOC_SCHEMA = "doc_id long, text string, n_chars long"


class Ctx:
    """What a workload needs from the run: session, data and tracer."""

    def __init__(self, spark, sf_dir, run_dir, seed, sf, data_seed, cache_dir):
        self.spark, self.sf_dir, self.run_dir, self.seed = spark, sf_dir, run_dir, seed
        self.sf, self.data_seed, self.cache_dir = sf, data_seed, cache_dir
        self.tracer = None

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()


class Op:
    """One finished operation: its name, latency and failure."""

    __slots__ = ("name", "seconds", "error")

    def __init__(self, name, seconds, error=None):
        self.name, self.seconds, self.error = name, seconds, error


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    def __init__(self, name, queries):
        self.name, self.queries = name, queries

    def ops_per_pass(self) -> int:
        return len(self.queries)

    def setup(self, ctx) -> None:
        from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        self.registry = REGISTRY
        self.results = {}

    def _order(self, ctx, k):
        order = list(self.queries)
        random.Random(f"{ctx.seed}/{k}").shuffle(order)
        return order

    def run_op(self, ctx, name, sink):
        """build -> plan -> sink; returns the sink's result."""
        with ctx.span("plans.build"):
            df = self.registry[name].spark(ctx.spark, ctx.sf_dir)
        with ctx.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with ctx.span("exec.noop_write" if sink is _noop else "exec.collect"):
            return sink(df)

    def warmup(self, ctx, on_op) -> None:
        """One pass that collects every result for the oracle check."""
        for name in self._order(ctx, "warmup"):
            t = time.perf_counter()
            try:
                self.results[name] = self.run_op(ctx, name, lambda df: df.toPandas())
                on_op(Op(name, time.perf_counter() - t))
            except Exception as e:  # noqa: BLE001 - counted as a failure
                on_op(Op(name, time.perf_counter() - t, repr(e)))

    def run_pass(self, ctx, k, on_op, op_scope) -> dict:
        for name in self._order(ctx, k):
            with op_scope(name):
                t = time.perf_counter()
                try:
                    self.run_op(ctx, name, _noop)
                    on_op(Op(name, time.perf_counter() - t))
                except Exception as e:  # noqa: BLE001
                    on_op(Op(name, time.perf_counter() - t, repr(e)))
        return {}

    def check(self, ctx) -> list[tuple[str, bool, str]]:
        """Compare every collected result with its DuckDB oracle's answer."""
        from tools.diffcheck import canon, values_match

        want = oracle_answers(ctx, self.registry)
        out = []
        for name in self.queries:
            if name not in self.results:
                out.append((name, False, "no result"))
                continue
            try:
                ok, why = values_match(canon(self.results[name]), want[name])
            except Exception as e:  # noqa: BLE001
                ok, why = False, repr(e)
            out.append((name, ok, why))
        return out


def oracle_answers(ctx, registry) -> dict:
    """Canonical DuckDB answers of every benchmark query's oracle.

    The oracles of a few queries take tens of seconds in DuckDB, so the
    answers are cached under ``ctx.cache_dir``, keyed on the oracle SQL,
    the generator's source and the scale factor: the first run in a
    checkout computes all of them, later runs read them back.
    """
    import hashlib

    import pandas as pd

    from tools.diffcheck import canon, duck_conn

    with open(os.path.join(os.path.dirname(__file__), "datagen.py"), "rb") as f:
        data_key = f.read() + repr((ctx.sf, ctx.data_seed)).encode()
    paths = {}
    for name in HEADLINE + ARTIFACT:
        sql = registry[name].oracle or ""
        digest = hashlib.sha256(data_key + sql.encode()).hexdigest()[:20]
        paths[name] = os.path.join(ctx.cache_dir, "oracles", f"{name}-{digest}.pkl")
    missing = [n for n, p in paths.items() if not os.path.exists(p)]
    if missing:
        con = duck_conn(ctx.sf_dir)
        # keep DuckDB's spill directory inside the run
        con.execute(f"SET temp_directory='{os.path.join(ctx.run_dir, 'duckdb')}'")
        con.execute("SET memory_limit='4GB'")
        os.makedirs(os.path.dirname(paths[missing[0]]), exist_ok=True)
        for name in missing:
            sql = registry[name].oracle
            if sql is None:
                continue
            tmp = paths[name] + f".{os.getpid()}"
            canon(con.execute(sql).df()).to_pickle(tmp)
            os.replace(tmp, paths[name])
        con.close()
    return {n: pd.read_pickle(p) for n, p in paths.items() if os.path.exists(p)}


def _manifest(df):
    """Per-shard (rows, sum of shard_pos, doc_id-weighted sum)."""
    from pyspark.sql import functions as F

    return sorted(
        tuple(r)
        for r in df.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("shard_pos").alias("sig"),
            F.sum(F.col("doc_id") * F.col("shard_pos")).alias("xsig"),
        )
        .collect()
    )


def _write_files(table, ids, dest, n_files, rng):
    """Write the rows of ``table`` whose doc_id is in ``ids`` as
    ``n_files`` parquet files of a seeded random cut."""
    os.makedirs(dest)
    ids = rng.permutation(ids)
    for i, chunk in enumerate(np.array_split(ids, n_files)):
        mask = np.isin(table.column("doc_id").to_numpy(), chunk)
        pq.write_table(table.filter(mask), os.path.join(dest, f"part-{i:02d}.parquet"))


class IngestWorkload:
    name = "ingest"

    def ops_per_pass(self) -> int:
        return N_SHARD_FILES + N_FEED_FILES + 2

    def setup(self, ctx) -> None:
        docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"),
                             columns=["doc_id", "text", "n_chars"])
        ids = docs.column("doc_id").to_numpy()
        rng = np.random.default_rng(ctx.seed)
        feed = rng.choice(ids, int(len(ids) * FEED_SHARE), replace=False)
        corpus = np.setdiff1d(ids, feed)
        self.src = os.path.join(ctx.run_dir, "ingest-src")
        _write_files(docs, ids, os.path.join(self.src, "all"), N_SHARD_FILES, rng)
        feed_docs = docs.select(["doc_id", "text"])
        _write_files(feed_docs, feed, os.path.join(self.src, "feed"), N_FEED_FILES, rng)
        _write_files(feed_docs, corpus, os.path.join(self.src, "corpus"), 1, rng)
        self.n_docs = len(ids)
        self.kept = {}

    def _stream(self, ctx, name, start, on_op):
        """Start a stream, drain it, report one Op per micro-batch."""
        with ctx.span("exec." + name):
            q = start()
            done = q.awaitTermination(OP_TIMEOUT_S)
        progress = q.recentProgress
        if not done:
            q.stop()
            on_op(Op(name, OP_TIMEOUT_S, "stream timed out"))
        if q.exception() is not None:
            on_op(Op(name, 0.0, str(q.exception())))
        for p in progress:
            on_op(Op(name, p.durationMs.get("triggerExecution", 0) / 1000.0))
        return q, progress

    def run_pass(self, ctx, k, on_op, op_scope, keep=False) -> dict:
        """One pass; returns its streaming and compaction numbers."""
        from dww_data_pipeline_spark.streaming.dedup_ingest import (
            stream_incremental_dedup,
        )
        from dww_data_pipeline_spark.streaming.ingest import (
            compact_shard_lake,
            read_shard_lake,
            stream_shard_ingest,
        )

        spark = ctx.spark
        base = os.path.join(ctx.run_dir, f"ingest-{k}")
        lake, out = os.path.join(base, "lake"), os.path.join(base, "decisions")

        def shard_stream():
            sdf = (spark.readStream.schema(DOC_SCHEMA)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(os.path.join(self.src, "all")))
            return stream_shard_ingest(sdf, lake, os.path.join(base, "ck-shard"),
                                       n_shards=N_SHARDS)

        def dedup_stream():
            sdf = (spark.readStream.schema("doc_id long, text string")
                   .option("maxFilesPerTrigger", 1)
                   .parquet(os.path.join(self.src, "feed")))
            corpus = spark.read.parquet(os.path.join(self.src, "corpus"))
            return stream_incremental_dedup(sdf, corpus, out,
                                            os.path.join(base, "ck-dedup"))

        with op_scope("streaming.shard_ingest"):
            _, p1 = self._stream(ctx, "shard_batch", shard_stream, on_op)
        if keep:
            self.kept["lake_before"] = _manifest(read_shard_lake(spark, lake))
        with op_scope("streaming.dedup_ingest"):
            q, p2 = self._stream(ctx, "dedup_batch", dedup_stream, on_op)
            for df in q.corpus_index.values():
                df.unpersist()
        progress = p1 + p2
        stats = {
            "streaming.batches": len(progress),
            "streaming.add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in progress),
            "streaming.trigger_ms": sum(
                p.durationMs.get("triggerExecution", 0) for p in progress),
        }
        with op_scope("streaming.ingest.compact"):
            t = time.perf_counter()
            try:
                with ctx.span("exec.compact"):
                    n = compact_shard_lake(spark, lake, n_shards=N_SHARDS)
                stats["streaming.ingest.compact_s"] = time.perf_counter() - t
                stats["streaming.ingest.rewrite_ratio"] = n / self.n_docs
                on_op(Op("compact", time.perf_counter() - t))
            except Exception as e:  # noqa: BLE001
                on_op(Op("compact", time.perf_counter() - t, repr(e)))
        with op_scope("streaming.ingest.read_back"):
            t = time.perf_counter()
            try:
                with ctx.span("exec.read_back"):
                    man = _manifest(read_shard_lake(spark, lake))
                on_op(Op("read_back", time.perf_counter() - t))
                if keep:
                    self.kept["lake_after"] = man
            except Exception as e:  # noqa: BLE001
                on_op(Op("read_back", time.perf_counter() - t, repr(e)))
        if keep:
            self.kept["decisions"] = out
        else:
            shutil.rmtree(base, ignore_errors=True)
        return stats

    def warmup(self, ctx, on_op) -> None:
        self.run_pass(ctx, "warmup", on_op, lambda name: nullcontext(), keep=True)

    def check(self, ctx) -> list[tuple[str, bool, str]]:
        """Stream equals batch: the shard manifest equals a batch
        ``write_training_shards``; the union of micro-batch decisions
        equals ``incremental_decisions``; compaction keeps the manifest."""
        from dww_data_pipeline_spark.plans.dedup_plans import incremental_decisions
        from dww_data_pipeline_spark.sources.shards import write_training_shards

        spark = ctx.spark
        out = []
        docs = spark.read.schema(DOC_SCHEMA).parquet(os.path.join(self.src, "all"))
        batch_lake = os.path.join(ctx.run_dir, "batch-lake")
        write_training_shards(docs, batch_lake, "doc_id", n_shards=N_SHARDS)
        want = _manifest(spark.read.parquet(batch_lake))
        got = self.kept.get("lake_before")
        out.append(("shard_manifest", got == want,
                    "ok" if got == want else f"{got} != {want}"))
        after = self.kept.get("lake_after")
        out.append(("compaction_manifest", after == want,
                    "ok" if after == want else f"{after} != {want}"))
        feed = spark.read.parquet(os.path.join(self.src, "feed"))
        corpus = spark.read.parquet(os.path.join(self.src, "corpus"))
        want_d = sorted(tuple(r) for r in incremental_decisions(feed, corpus).collect())
        got_d = sorted(
            tuple(r) for r in spark.read.parquet(self.kept["decisions"])
            .select("doc_id", "decision", "n_matches").collect())
        ok = bool(want_d) and got_d == want_d
        out.append(("dedup_decisions", ok,
                    "ok" if ok else f"{len(got_d)} vs {len(want_d)} rows differ"))
        return out


WORKLOADS = {
    "headline": lambda: QueryWorkload("headline", HEADLINE),
    "artifact": lambda: QueryWorkload("artifact", ARTIFACT),
    "ingest": IngestWorkload,
}
