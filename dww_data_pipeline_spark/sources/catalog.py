"""Table catalog over the parquet test tables.

The reference ingested via IMDb crawl + pickle cache + Neo4j REST
(reference ``GetWeta.py:56-115``, ``253-337``); the engine's sources
are columnar parquet scans so Catalyst gets predicate pushdown,
column pruning, and row-group skipping for free. At 100 TB the same
reader works over a partitioned data lake (directory-partitioned by
date/entity) — nothing here assumes local files.
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Every table the driver generates (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions safe to broadcast at any scale factor (they are
# bounded by the world, not by the fact-table scale: TPC-H nation=25,
# region=5 always; supplier/customer/part grow but stay tiny relative
# to lineitem/orders).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from an sf directory."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events stores TIMESTAMP(NANOS), which the parquet reader
        # rejects without this flag; set it here (runtime-settable) so
        # the engine works under ANY caller's SparkSession, not just
        # ours (session.py also sets it at build time)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # ts is TIMESTAMP(NANOS) on disk, surfaced as long nanos via
        # spark.sql.legacy.parquet.nanosAsLong; truncate to micros with
        # integer division (double division would lose precision at
        # 1e18 nanos) — matches DuckDB's nanos→micros truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ
    # under Spark 4's default inference; normalize to session-local
    # TIMESTAMP so the whole expression surface (unix_micros, window(),
    # interval arithmetic) sees one timestamp flavor. The NTZ→TIMESTAMP
    # cast interprets wall-clock in the SESSION timezone, so pin it to
    # UTC here (runtime-settable, same rationale as nanosAsLong above):
    # under any caller's session the values then match DuckDB's
    # naive-timestamp arithmetic exactly.
    if any(isinstance(f.dataType, T.TimestampNTZType) for f in df.schema.fields):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def _table_stats(sf_dir: str, name: str) -> tuple | None:
    """(path, st_ino, st_size, st_mtime_ns) of one catalog table's
    file, or of every file under a table directory; None when the
    table is missing."""
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.exists(path):
        return None
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )
    return tuple(
        (os.path.relpath(f, sf_dir), st.st_ino, st.st_size, st.st_mtime_ns)
        for f, st in ((f, os.stat(f)) for f in files)
    )


# One slot per (sf_dir, key): (token, value, release).
_ARTIFACTS: dict[tuple, tuple] = {}


def cached_artifact(spark: SparkSession, sf_dir: str, key, build, release=None):
    """``build()``'s result for the slot ``(sf_dir, key)``, built at
    most once while the slot's token is unchanged.

    Shared intermediates (the LSH candidate pairs, kNN graphs, supplier
    graphs, the trained tokenizer store) are read many times per
    session and cost a full corpus pipeline to derive.  The token is
    the Spark application id plus the stat fingerprint — (path, inode,
    size, mtime_ns) — of every catalog table under ``sf_dir``, so a
    new application or any table rewritten in place rebuilds the
    value instead of serving a stale handle, and callers need not know
    which tables their build reads.  A lookup costs ten ``os.stat``
    calls and no Spark job.  A superseded value is dropped, after
    ``release(value)`` when given; ``release`` also runs for every
    live entry at interpreter exit."""
    slot = (sf_dir, key)
    token = (
        spark.sparkContext.applicationId,
        tuple(_table_stats(sf_dir, name) for name in TABLES),
    )
    entry = _ARTIFACTS.get(slot)
    if entry is not None:
        if entry[0] == token:
            return entry[1]
        del _ARTIFACTS[slot]
        if entry[2] is not None:
            entry[2](entry[1])
    value = build()
    _ARTIFACTS[slot] = (token, value, release)
    return value


@atexit.register
def _release_artifacts() -> None:
    for _, value, release in _ARTIFACTS.values():
        if release is not None:
            release(value)
    _ARTIFACTS.clear()


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view and return the dict of DataFrames.

    This makes the whole operator surface reachable from ``spark.sql``
    as well as the DataFrame API.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
