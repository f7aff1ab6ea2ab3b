"""Skew-handling utilities (SURVEY §7.3: 'Weta-dominant skew is
intrinsic to the data').

AQE's skew-join splitting handles most cases automatically
(spark.sql.adaptive.skewJoin.enabled, on in session.py); this helper
covers the pattern AQE cannot fix: joining a skewed fact key against
a small-but-not-broadcastable dim — explode the dim N ways, salt the
fact side, join on (key, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join_skewed_fact(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Join a skewed fact table to a dim that is too big to broadcast
    whole but small enough to replicate N×: dim rows are exploded
    across all salt values, fact rows get a deterministic salt, and
    the join key becomes (key, salt) — the hot key's rows spread over
    N reduce tasks instead of one.
    """
    fact_salted = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets)),
    )
    dim_exploded = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return fact_salted.join(dim_exploded, [key, "_salt"]).drop("_salt")
