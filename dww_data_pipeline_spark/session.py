"""SparkSession factory.

Local testing runs one JVM with N threads; the config below is chosen
so the same code is correct and fast on a real multi-executor cluster:

* AQE on (runtime coalesce + skew-join splitting) — the reference's
  data is intrinsically skewed (one dominant company key), and TPC-H
  style facts skew on popular keys too.
* shuffle.partitions sized to cores locally; on a 1000-executor
  cluster this should be raised (or left to AQE's coalesce from a
  high initial value).
* Arrow enabled for the few Pandas-UDF paths.
* UTC session timezone so date/timestamp semantics are stable across
  environments (the reference's stringly dates are timezone-free).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "dww_data_pipeline_spark", cpus: str | None = None) -> SparkSession:
    """Create (or fetch) the tuned SparkSession."""
    n = cpus or _DEF_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the driver's events table stores TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as long and convert
        # in sources.catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema):
    """Arrow-path construction of a DataFrame from a SMALL driver-side
    row list (bounded artifacts: merge tables, gate rows, centroid
    literals, collected monitor rows).

    The default ``spark.createDataFrame(list, schema)`` parallelizes
    the rows into ``defaultParallelism`` pickled-Python partitions, so
    every materialization pays one Python-worker round-trip PER CORE
    regardless of row count — measured at r13 as ~0.3 s per
    materialization warm and ~4.7 s when a ``coalesce(1)`` write pulls
    all those Python sub-iterators through one task.  Routing the rows
    through a pandas frame takes the Arrow fast path (one batch, one
    partition): 0.042 s collect / 0.16 s coalesced write, same values.

    Cells stay ``object`` dtype end-to-end so integers are never
    coerced through float64 (exact 64-bit values, None stays null);
    the explicit ``schema`` fixes the types exactly as before.  Falls
    back to the default path for anything pandas/Arrow cannot carry.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    try:
        # private API (r14 advice): guard the import so a PySpark
        # upgrade that moves the symbol degrades to the default path
        # instead of raising inside every caller
        from pyspark.sql.types import _parse_datatype_string
    except ImportError:
        _parse_datatype_string = None

    if isinstance(schema, str):
        if _parse_datatype_string is None:
            return spark.createDataFrame(rows, schema)
        struct = _parse_datatype_string(schema)
    else:
        struct = schema
    if not isinstance(struct, StructType):
        return spark.createDataFrame(rows, schema)
    rows = list(rows)
    # the column-wise path below reads rows positionally; dicts and
    # other row types keep createDataFrame's own handling
    if not all(isinstance(r, (tuple, list)) for r in rows):
        return spark.createDataFrame(rows, struct)
    names = [f.name for f in struct.fields]
    # fail fast on shape mismatches exactly as createDataFrame(rows,
    # schema) would (r14 advice: zip() silently truncated an over-long
    # row; the pandas column reindex padded a short one with NaN)
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"local_rows_df: row has {len(r)} fields, schema has "
                f"{len(names)}: {r!r}"
            )
    try:
        # column-wise, object dtype FROM THE START: from_records would
        # promote an int column containing None to float64 before any
        # astype could intervene, silently rounding 64-bit values
        cols = list(zip(*rows)) if rows else [() for _ in names]
        pdf = pd.DataFrame(
            {n: pd.Series(c, dtype=object) for n, c in zip(names, cols)},
            columns=names,
        )
        return spark.createDataFrame(pdf, schema=struct)
    except Exception as exc:  # pragma: no cover - type-dependent
        # narrow fallback visibility (r14 advice): the slow path is a
        # silent ~10-30x regression per materialization, so make the
        # reason observable instead of swallowing it
        import warnings

        warnings.warn(
            f"local_rows_df: Arrow path failed ({type(exc).__name__}: "
            f"{exc}); falling back to the pickled-row path",
            RuntimeWarning,
            stacklevel=2,
        )
        return spark.createDataFrame(rows, struct)


# Driver-collect budget, in cells (row count x the cells each row
# carries).  Bounded artifacts — a vocabulary histogram, a coarse
# quantizer's training table, a gate's inputs — run their exact
# recurrences in the driver when they fit under it, and keep their
# distributed plans above it (a 100 TB corpus can hold ~10-100 M
# distinct tokens or vectors).  1 M cells is tens of MB on the driver,
# far under spark.driver.maxResultSize.
_DRIVER_CELL_CAP = 1 << 20


def collect_under_cap(df: DataFrame, row_cells: int = 1) -> list | None:
    """Every row of the bounded ``df`` when it has at most
    ``_DRIVER_CELL_CAP // row_cells`` rows, else None.  ``row_cells``
    is the width a row costs the driver: 1 for a (tok, n) histogram
    row, 64 for a 64-wide vector, so a vector table is capped at
    16,384 rows.  The ``limit(cap + 1)`` guard is a no-op under the
    cap, so one collect returns the whole frame.  Callers persist a
    corpus-scale ``df`` first, so their above-cap path reuses what the
    probe computed."""
    cap = _DRIVER_CELL_CAP // row_cells
    got = df.limit(cap + 1).collect()
    return got if len(got) <= cap else None


@contextmanager
def bounded_loop_shuffle(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = 1 << 16,
    disable_aqe: bool = False,
):
    """Scope the session's shuffle width to a BOUNDED iterative loop
    (guide §2.2: fewer, larger reduce partitions).

    Iterative operators (BPE training, NN-Descent, greedy selection)
    run 8-20 driver-orchestrated rounds over a table whose size was
    just MEASURED (a vocabulary histogram, a kNN edge list, a probe
    sample) and is orders of magnitude below the corpus.  Leaving
    ``spark.sql.shuffle.partitions`` at the corpus-level default makes
    every round pay task-launch and shuffle-block registration for
    partitions that hold a handful of rows — measured at sf0.1 as
    ~0.8 s of a 3.7 s training loop.  This scopes the width to
    ceil(n_rows / rows_per_partition), capped at the session default
    (a large input keeps the configured width — the setting is derived
    from the measured input size, never a local-mode constant).

    ``disable_aqe=True`` additionally turns off AQE's per-stage
    re-planning inside the scope — ONLY valid for aggregation-only
    loops (the BPE argmax recurrence): a loop with joins needs AQE's
    runtime size estimates, because checkpointed frames carry no
    static statistics and the planner would otherwise fall back to
    sort-merge for a side it should broadcast (measured +0.7-0.9 s on
    the s25/s26 walks when AQE was scoped off there).  All settings
    restore on exit.  Plan-shape only — results are unaffected.

    Concurrency note (r14 advice): this mutates SESSION-global conf,
    which is safe under the engine's single-threaded-driver contract
    (bench.py and the registered query builders run queries
    sequentially); a harness that ever builds queries concurrently on
    one session must not wrap them in this scope, or the narrowed
    width / disabled AQE leaks into unrelated queries mid-flight.
    """
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    parts = max(1, min(int(cur), -(-int(n_rows) // rows_per_partition)))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    if disable_aqe:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


@contextmanager
def persisted(df: DataFrame):
    """``df.persist()`` for the block's lifetime: the one owner of a
    builder's cached frame.  The frame is released (non-blocking) when
    the block exits, normally or by exception, so a plan returned from
    inside the block must not need the cache after it — builders that
    return a lazy plan over a persisted frame recompute it at
    execution, and bounded results are collected first."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist(blocking=False)
