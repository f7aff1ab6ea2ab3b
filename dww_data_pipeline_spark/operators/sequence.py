"""Per-entity ordered-timeline (sequence) operators — the reference's
signature analytics (SURVEY §2.5, W1-W8).

The reference computes all of these by sorting rows by
``(person, release)`` and carrying mutable state across adjacent rows
(reference ``GetWeta.py:587-673`` SetJumpRoles, ``dwwApi.js:80-315``).
Here every one is a ``Window.partitionBy(entity).orderBy(time, tiebreak)``
— a single shuffle on the entity key, after which *all* of W1-W8
compute in one stage with no further exchange. At 100 TB the entity
key (person) has bounded cardinality per partition and no global sort
is ever needed (the reference's global ``ORDER BY p.id, r.release``
does not scale; partition-local windows do).

All functions are generic over column names so they serve both the
reference's domain schema (person/company/release) and the TPC-H
test schema (customer/orderpriority/orderdate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _window(entity: str, order: list[str | Column]) -> Window:
    return Window.partitionBy(entity).orderBy(*order)


def with_change_flag(
    df: DataFrame, entity: str, value: str, order: list[str], flag: str = "changed"
) -> DataFrame:
    """W1 core: mark rows where ``value`` differs from the previous row
    (first row of each entity is also a change — reference 'jump from
    start', GetWeta.py:604-662)."""
    w = _window(entity, order)
    prev = F.lag(value).over(w)
    return df.withColumn(flag, prev.isNull() | (F.col(value) != prev))


def jumps(df: DataFrame, entity: str, value: str, order: list[str]) -> DataFrame:
    """W1: change-point detection — keep only rows where the tracked
    value changed vs the previous row (reference SetJumpRoles
    GetWeta.py:587-673; server re-derivation dwwApi.js:100-107)."""
    return with_change_flag(df, entity, value, order).filter(F.col("changed")).drop("changed")


def run_lengths(df: DataFrame, entity: str, value: str, order: list[str]) -> DataFrame:
    """W2: consecutive-stay run lengths — length of each run of equal
    ``value`` per entity (reference GetWeta.py:663-669).

    Classic gaps-and-islands: cumulative sum of change flags forms a
    run id; group by (entity, run id).
    """
    w = _window(entity, order)
    flagged = with_change_flag(df, entity, value, order)
    run_id = F.sum(F.col("changed").cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.withColumn("run_id", run_id)
        .groupBy(entity, "run_id", value)
        .agg(F.count(F.lit(1)).alias("run_length"))
    )


def consecutive_pairs(
    df: DataFrame,
    entity: str,
    order: list[str],
    pair_cols: list[str],
    drop_same_on: str | None = None,
) -> DataFrame:
    """W3: pair each row with the next row's ``pair_cols`` (prefixed
    ``next_``); optionally drop pairs where ``drop_same_on`` is equal
    on both sides (reference pathCreator.js:33-49 drops same-studio
    arcs). Rows with no successor are dropped."""
    w = _window(entity, order)
    out = df
    for c in pair_cols:
        out = out.withColumn(f"next_{c}", F.lead(c).over(w))
    out = out.filter(F.col(f"next_{pair_cols[0]}").isNotNull())
    if drop_same_on is not None:
        out = out.filter(F.col(drop_same_on) != F.col(f"next_{drop_same_on}"))
    return out


def directional_filter(
    df: DataFrame,
    entity: str,
    order: list[str],
    key: str,
    target: str,
    direction: str,
) -> DataFrame:
    """W4: directional jump filter (reference dwwApi.js:244-315).

    ``direction='in'``: keep the predecessor row of each row whose
    ``key`` equals ``target`` (who arrived at the target: show where
    they came from). ``direction='out'``: keep the successor row of
    each row whose ``key`` equals ``target``. Matching is
    case-insensitive (reference dwwApi.js:267,275); rows equal to the
    target themselves are excluded ("Incoming is same as target!"
    guard, dwwApi.js:270,278).
    """
    w = _window(entity, order)
    here = F.lower(F.col(key)) == F.lower(F.lit(target))
    if direction == "in":
        neighbor_matches = F.lead(key).over(w)
        keep = (F.lower(neighbor_matches) == F.lower(F.lit(target))) & ~here
    elif direction == "out":
        neighbor_matches = F.lag(key).over(w)
        keep = (F.lower(neighbor_matches) == F.lower(F.lit(target))) & ~here
    else:
        raise ValueError(f"direction must be 'in' or 'out', got {direction!r}")
    return df.withColumn("_keep", keep).filter(F.col("_keep")).drop("_keep")


def first_per_group(df: DataFrame, entity: str, order: list[str | Column]) -> DataFrame:
    """W6: retain the first row per entity in timeline order
    (reference dwwApi.js:250-252 keeps rels[0])."""
    w = _window(entity, order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dummy_departures(
    df: DataFrame,
    entity: str,
    order: list[str],
    ts_ms: str,
    trip_days_col: Column,
) -> DataFrame:
    """W5: dummy-rel synthesis — between consecutive rows insert a
    synthetic copy of the earlier row with ``dummy=true`` and
    ``ts_ms = next_ts - trip_days*86400000`` (reference
    dwwApi.js:281-293; trip length locUtils.js:18-34).

    Implemented without a self-union shuffle: compute the led
    timestamp, build the dummy struct inline, and ``explode`` a
    real/dummy pair per row — one window pass, one explode, no union.
    """
    w = _window(entity, order)
    next_ts = F.lead(ts_ms).over(w)
    dummy_ts = (next_ts - trip_days_col.cast("long") * F.lit(86400000)).cast("long")
    real = F.struct(F.col(ts_ms).cast("long").alias(ts_ms), F.lit(False).alias("dummy"))
    dummy = F.struct(dummy_ts.alias(ts_ms), F.lit(True).alias("dummy"))
    pair = F.when(next_ts.isNotNull(), F.array(real, dummy)).otherwise(F.array(real))
    other_cols = [c for c in df.columns if c != ts_ms]
    return (
        df.withColumn("_pair", pair)
        .select(*other_cols, F.explode("_pair").alias("_e"))
        .select(*other_cols, F.col(f"_e.{ts_ms}").alias(ts_ms), F.col("_e.dummy").alias("dummy"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    strict: bool = False,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` (or ``<`` when strict) per key.

    Spark has no native ASOF JOIN; the scalable composition is the
    union-sort-window trick: tag both sides, union, and carry the
    last-seen right values forward with ``last(..., ignorenulls)``
    over one window per key — ONE shuffle on the key, no range
    self-join blowup, no per-key driver loops. (A naive
    inequality-join + groupBy-max would shuffle |left|×|right|
    candidate pairs on skewed keys.)

    Returns all left rows + ``right_cols`` (null when no prior right
    row exists).
    """
    lcols = left.columns
    tagged_left = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),  # right(0) sorts before left(1) on ts ties
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    )
    tagged_right = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            tagged_left.schema["_l"].dataType
        ).alias("_l"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    # strict: a right row at exactly left_ts must NOT match → left
    # sorts BEFORE right on ties (flip the tie-break)
    side_order = F.col("_side").desc() if strict else F.col("_side").asc()
    w = Window.partitionBy("_k").orderBy(F.col("_ts"), side_order).rowsBetween(
        Window.unboundedPreceding, -1 if strict else 0
    )
    unioned = tagged_left.unionByName(tagged_right)
    carried = unioned.select(
        "_side",
        "_l",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_r_{c}")
            for c in right_cols
        ],
    )
    out = carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in lcols],
        *[F.col(f"_r_{c}").alias(c) for c in right_cols],
    )
    return out


def nest_documents(
    df: DataFrame,
    entity_cols: list[str],
    rel_cols: list[str],
    order_cols: list[str],
    max_group_rows: int | None = None,
) -> DataFrame:
    """W8: fold rows into one nested document per entity, rels sorted
    by ``order_cols`` (reference dwwApi.js:80-139 relies on upstream
    ORDER BY; we sort inside the array so the result is deterministic
    regardless of partitioning — the reference's order dependency was
    a correctness hazard, cf. FixUnpaddedDates GetWeta.py:675-703).

    ``max_group_rows`` is the opt-in guard for SCALE.md's standing
    rule (collect_list per group only when group size is bounded by
    construction): when the entity key's fan-out is NOT bounded —
    hostile skew, an upstream join regression — pass a cap and the
    builder keeps only the first K rels per entity in ``order_cols``
    order via a windowed row_number pre-filter, the spillable form
    the round-7 hostile-skew study measured (a window sorts and
    spills per partition; an unbounded collect_list OOMs the
    aggregation buffer at 4-16M rows/group on an 8 GiB heap)."""
    struct_cols = [F.col(c) for c in order_cols] + [
        F.col(c) for c in rel_cols if c not in order_cols
    ]
    if max_group_rows is not None:
        w = Window.partitionBy(*entity_cols).orderBy(
            *[F.col(c) for c in order_cols]
        )
        df = (
            df.withColumn("_grn", F.row_number().over(w))
            .filter(F.col("_grn") <= max_group_rows)
            .drop("_grn")
        )
    return df.groupBy(*entity_cols).agg(
        F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("rels")
    )
