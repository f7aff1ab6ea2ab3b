"""Data-selection & diagnostics tier — four published-algorithm
operators a training-data pipeline runs between dedup and sharding:

* ``s16_mmr_rerank`` — Maximal Marginal Relevance diversified top-k
  (Carbonell & Goldstein, SIGIR 1998): greedy re-ranking that trades
  query relevance against redundancy with already-selected results.
  The missing diversity leg of the retrieval suite (s1 is pure
  relevance, s12 fuses two relevance signals).
* ``e11_kcenter_coreset`` — greedy k-center coreset selection
  (Gonzalez 1985; the 2-approximation farthest-point traversal used
  for coverage-maximizing training-subset selection, e.g. Sener &
  Savarese ICLR 2018 "core-set" active learning).
* ``ev18_holt_linear`` — Holt's linear-trend exponential smoothing
  (Holt 1957; Hyndman & Athanasopoulos FPP §8.2) over the daily event
  series, with 1/2/3-step-ahead forecasts — the trend-aware upgrade
  of ev8's EWMA level.
* ``dq21_chi2_independence`` — Pearson chi-squared dependence profile
  between categorical column pairs (Pearson 1900), with Cramér's V —
  the categorical complement of dq10's numeric Pearson correlations.
* ``s17_hard_negative_mining`` — label-aware hard-negative mining for
  contrastive training (Schroff et al. CVPR 2015 "FaceNet" triplet
  semantics; Karpukhin et al. 2020 DPR hard negatives): per anchor,
  the top-k most-similar vectors of a DIFFERENT class, flagged
  harder/easier than the anchor's best positive.
* ``ev19_cusum_changepoint`` — Page's CUSUM change-point statistic
  (Page 1954, Biometrika) over the daily event series, in EXACT
  scaled-integer arithmetic (both drift directions + alarm flags).
* ``ev20_seasonal_indices`` — classical multiplicative decomposition
  day-of-week seasonal indices (Hyndman & Athanasopoulos FPP §6.3),
  each index one exact-integer ratio.

Cross-engine determinism: s16/e11 run ENTIRELY in exact BIGINT
arithmetic on e2's int8-quantized vectors (dot products and squared
L2 distances of integer codes — no float comparison ever decides a
selection), so greedy tie-breaks are bit-identical on both engines.
ev18 follows the t33 fold discipline: the recurrence is the IDENTICAL
left-to-right IEEE-double fold on both engines (Spark ``aggregate``
vs DuckDB ``list_reduce`` over the date-ordered series), outputs
rounded at 1e-6. dq21 follows e1's fixed-point rule: each cell's
chi-squared term is a deterministic double expression, floored at
1e6 and summed as BIGINT so 1000 executors summing in any order
agree. House conventions per plans/registry.py.

These are beyond-reference north-star operators (the reference
pipeline — GetWeta.py / ProcessWeta.py — has no retrieval, coreset,
forecasting, or independence-testing tier); parity targets are the
published algorithms cited above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from dww_data_pipeline_spark.session import local_rows_df, persisted

from dww_data_pipeline_spark.plans.registry import register
from dww_data_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Shared exact-integer vector algebra over e2's int8 quantization.
#
# q = floor((v - mn) * 255 / (mx - mn)) - 128 per dimension (e2's
# verified arithmetic, one explicit DOUBLE order so every engine
# computes identical codes); dots and squared distances of the codes
# are then pure BIGINT — 64 dims x 128^2 < 2^21 per vector, far from
# overflow — so every comparison the greedy loops make is exact.
# ---------------------------------------------------------------------------

_SQL_QV = """base AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings
),
qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x ->
           CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                ELSE CAST(floor((CAST(x AS DOUBLE) - mn) * 255 / (mx - mn))
                          AS BIGINT) - 128
           END) AS v
  FROM base
)"""


def _sql_idot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> p[1] * p[2])) AS BIGINT)"
    )


def _sql_idist2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_dist2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<long>) — e2's int8 codes as a reusable frame."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "embedding",
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long")).otherwise(
            F.floor(
                (x.cast("double") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn"))
            ).cast("long")
            - 128
        ),
    )
    return base.select("vec_id", q.alias("v"))


# ---------------------------------------------------------------------------
# s16_mmr_rerank — Maximal Marginal Relevance diversified top-k.
#
# MMR(c) = lambda * rel(q, c) - (1 - lambda) * max_{s in S} sim(c, s);
# with lambda = 1/2 the argmax is unchanged by scaling 2x, so the
# selection score is the pure-integer mmr2 = rel_dot - max_sim_dot
# (relevance and similarity both as BIGINT dots of quantized codes)
# — the greedy argmax, including every tie-break (score desc, vec_id
# asc), is exact on both engines.  Step 1 has an empty selected set:
# max_sim_dot = 0, i.e. the pure-relevance pick, the standard
# initialization.
#
# Scale shape: the ONLY corpus-scale work is the candidate-pool
# construction — one broadcast of the 3 query vectors against the
# scan, one per-query top-12 window (partitioned by query_id; never
# a global window).  The greedy loop then runs on <= 12 rows per
# query (bounded BY CONSTRUCTION by the pool cap, localCheckpointed
# once), so the K-1 join+argmax iterations cost O(K^2 * pool) rows
# total regardless of corpus size.  The oracle unrolls the identical
# greedy recurrence as K selection stages (the t33/e7 discipline).
# ---------------------------------------------------------------------------

_MMR_QUERIES = (0, 1, 2)
_MMR_POOL = 12
_MMR_K = 4


def _mmr_oracle() -> str:
    stages = [
        _SQL_QV,
        "q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qvec FROM qv "
        f"WHERE vec_id IN {_MMR_QUERIES})",
        f"""cand AS MATERIALIZED (
  SELECT q.query_id, e.vec_id, e.v,
         {_sql_idot('e.v', 'q.qvec')} AS rel_dot
  FROM qv e, q WHERE e.vec_id <> q.query_id
)""",
        f"""pool AS MATERIALIZED (
  SELECT query_id, vec_id, v, rel_dot FROM (
    SELECT query_id, vec_id, v, rel_dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel_dot DESC, vec_id) AS rn
    FROM cand) WHERE rn <= {_MMR_POOL}
)""",
        """sel1 AS MATERIALIZED (
  SELECT 1 AS step, query_id, vec_id, v, rel_dot,
         CAST(0 AS BIGINT) AS max_sim_dot
  FROM (
    SELECT query_id, vec_id, v, rel_dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel_dot DESC, vec_id) AS rn
    FROM pool) WHERE rn = 1
)""",
    ]
    sels = ["sel1"]
    for i in range(2, _MMR_K + 1):
        seen = " UNION ALL ".join(f"SELECT * FROM {s}" for s in sels)
        stages.append(f"seen{i} AS MATERIALIZED ({seen})")
        stages.append(
            f"""score{i} AS MATERIALIZED (
  SELECT c.query_id, c.vec_id, c.v, c.rel_dot,
         MAX({_sql_idot('c.v', 's.v')}) AS max_sim_dot
  FROM pool c JOIN seen{i} s ON s.query_id = c.query_id
  WHERE NOT EXISTS (SELECT 1 FROM seen{i} s2
                    WHERE s2.query_id = c.query_id
                      AND s2.vec_id = c.vec_id)
  GROUP BY c.query_id, c.vec_id, c.v, c.rel_dot
)"""
        )
        stages.append(
            f"""sel{i} AS MATERIALIZED (
  SELECT {i} AS step, query_id, vec_id, v, rel_dot, max_sim_dot FROM (
    SELECT query_id, vec_id, v, rel_dot, max_sim_dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel_dot - max_sim_dot DESC,
                                       vec_id) AS rn
    FROM score{i}) WHERE rn = 1
)"""
        )
        sels.append(f"sel{i}")
    union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in sels)
    return (
        "WITH "
        + ",\n".join(stages)
        + f"""
SELECT query_id, CAST(step AS INT) AS step, vec_id, rel_dot, max_sim_dot,
       rel_dot - max_sim_dot AS mmr2
FROM ({union})"""
    )


@register(
    "s16_mmr_rerank",
    oracle=_mmr_oracle(),
    description="MAXIMAL MARGINAL RELEVANCE diversified top-k "
    "(Carbonell & Goldstein 1998): greedy re-rank of the per-query "
    "top-12 relevance pool, each step picking argmax of rel - "
    "max-sim-to-selected (lambda = 1/2) — relevance AND redundancy as "
    "exact BIGINT dots of e2's int8 codes, so every greedy tie-break "
    "is bit-identical cross-engine. Corpus-scale work is one "
    "broadcast-query scan + per-query top-k window; the greedy loop "
    "runs on the 12-row-per-query pool (bounded by construction). "
    "Oracle unrolls the K selection stages (t33/e7 discipline). The "
    "diversity leg of the retrieval suite",
)
def s16_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = quantized_vectors(spark, sf_dir)
    q = qv.filter(F.col("vec_id").isin(*_MMR_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    cand = qv.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        "v",
        _int_dot(F.col("v"), F.col("qvec")).alias("rel_dot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel_dot"), F.asc("vec_id"))
    # the pool cap is the ONLY corpus-scale stage; checkpoint it so the
    # greedy iterations replan over <= 12 rows/query, not the corpus
    pool = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
        .localCheckpoint()
    )
    sel = (
        pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select(
            F.lit(1).alias("step"),
            "query_id",
            "vec_id",
            "v",
            "rel_dot",
            F.lit(0).cast("long").alias("max_sim_dot"),
        )
    )
    for i in range(2, _MMR_K + 1):
        seen = sel.select(
            "query_id", F.col("vec_id").alias("s_vid"), F.col("v").alias("sv")
        )
        rem = pool.join(
            seen.select("query_id", F.col("s_vid").alias("vec_id")),
            ["query_id", "vec_id"],
            "left_anti",
        )
        ms = (
            rem.join(seen, "query_id")
            .select(
                "query_id",
                "vec_id",
                _int_dot(F.col("v"), F.col("sv")).alias("sim"),
            )
            .groupBy("query_id", "vec_id")
            .agg(F.max("sim").alias("max_sim_dot"))
        )
        wi = Window.partitionBy("query_id").orderBy(
            (F.col("rel_dot") - F.col("max_sim_dot")).desc(), F.asc("vec_id")
        )
        pick = (
            pool.join(ms, ["query_id", "vec_id"])
            .withColumn("rn", F.row_number().over(wi))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .select(
                F.lit(i).alias("step"),
                "query_id",
                "vec_id",
                "v",
                "rel_dot",
                "max_sim_dot",
            )
        )
        # lazy (r13): plan truncation per step without a dedicated
        # job per step — only the final action materializes the chain
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        "query_id",
        F.col("step").cast("int").alias("step"),
        "vec_id",
        "rel_dot",
        "max_sim_dot",
        (F.col("rel_dot") - F.col("max_sim_dot")).alias("mmr2"),
    )


# ---------------------------------------------------------------------------
# e11_kcenter_coreset — greedy k-center (farthest-point) coreset.
#
# Gonzalez's 2-approximation: seed with the min-id point, then K-1
# times pick the point FARTHEST from the selected set (max over
# points of min squared distance to centers; ties -> smaller
# vec_id).  Squared L2 over the integer codes keeps every selection
# and tie-break exact.  The selected-at distance of step i+1 IS the
# covering radius after i centers (the quantity the greedy argmax
# maximizes), so radius_sq_after needs only one extra pass for the
# final step.  n_assigned is the coreset cell census: each point's
# nearest center (ties -> earliest step).
#
# Scale shape: each of the K-1 iterations is ONE distributed
# map-and-fold over the quantized scan (update running min-distance
# against the newest center, then a TakeOrdered argmax — never a
# partition-less window) plus a 1-row driver collect (the bounded
# driver artifact the e7/pr1/t33 discipline allows); the per-
# iteration frame is localCheckpointed so plan depth stays one fold
# per job.  The oracle unrolls the identical recurrence as K
# MATERIALIZED stages.
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle() -> str:
    stages = [
        _SQL_QV,
        "c1 AS MATERIALIZED (SELECT vec_id, v FROM qv ORDER BY vec_id LIMIT 1)",
        f"""m1 AS MATERIALIZED (
  SELECT p.vec_id, p.v, {_sql_idist2('p.v', 'c.v')} AS mind
  FROM qv p, c1 c
)""",
    ]
    for i in range(2, _KC_K + 1):
        stages.append(
            f"""c{i} AS MATERIALIZED (
  SELECT vec_id, v, mind FROM m{i - 1} ORDER BY mind DESC, vec_id LIMIT 1
)"""
        )
        stages.append(
            f"""m{i} AS MATERIALIZED (
  SELECT p.vec_id, p.v, LEAST(p.mind, {_sql_idist2('p.v', 'c.v')}) AS mind
  FROM m{i - 1} p, c{i} c
)"""
        )
    centers = " UNION ALL ".join(
        ["SELECT 1 AS step, vec_id AS center_id, CAST(0 AS BIGINT) AS sel_dist_sq, v FROM c1"]
        + [
            f"SELECT {i} AS step, vec_id AS center_id, mind AS sel_dist_sq, v FROM c{i}"
            for i in range(2, _KC_K + 1)
        ]
    )
    stages.append(f"centers AS MATERIALIZED ({centers})")
    stages.append(
        f"""asg AS MATERIALIZED (
  SELECT step, COUNT(*) AS n_assigned FROM (
    SELECT p.vec_id, c.step,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {_sql_idist2('p.v', 'c.v')}, c.step) AS rn
    FROM qv p, centers c) WHERE rn = 1 GROUP BY step
)"""
    )
    return (
        "WITH "
        + ",\n".join(stages)
        + f"""
SELECT CAST(c.step AS INT) AS step, c.center_id, c.sel_dist_sq,
       COALESCE(lead(c.sel_dist_sq) OVER (ORDER BY c.step),
                (SELECT MAX(mind) FROM m{_KC_K})) AS radius_sq_after,
       COALESCE(a.n_assigned, 0) AS n_assigned
FROM centers c LEFT JOIN asg a ON a.step = c.step"""
    )


@register(
    "e11_kcenter_coreset",
    oracle=_kcenter_oracle(),
    description="GREEDY K-CENTER CORESET (Gonzalez 1985; the Sener & "
    "Savarese core-set selection rule): seed min-id, then 7x pick the "
    "point with max min-squared-L2 to the selected centers — all "
    "distances exact BIGINT over e2's int8 codes, so every farthest-"
    "point pick and tie-break is bit-identical cross-engine. Emits "
    "selection order, the selected-at distance, the covering radius "
    "after each step, and the coreset cell census. Per iteration: one "
    "distributed min-distance fold + TakeOrdered argmax + 1-row "
    "driver collect (bounded artifact, e7/pr1 discipline). Oracle "
    "unrolls the recurrence as K MATERIALIZED stages",
)
def e11_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # qv stays EAGER (referenced by the seed pick, the fold chain,
    # and the final census); the per-iteration frames below are lazy —
    # each one's single consumer is the next argmax full pass
    qv = quantized_vectors(spark, sf_dir).localCheckpoint()

    def lit_vec(vals):
        return F.array(*[F.lit(int(x)).cast("long") for x in vals])

    seed = qv.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, int(seed.vec_id), 0, list(seed.v))]
    points = qv.select(
        "vec_id", "v", _int_dist2(F.col("v"), lit_vec(seed.v)).alias("mind")
    ).localCheckpoint(eager=False)
    for i in range(2, _KC_K + 1):
        far = points.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()[0]
        centers.append((i, int(far.vec_id), int(far.mind), list(far.v)))
        points = points.select(
            "vec_id",
            "v",
            F.least(
                F.col("mind"), _int_dist2(F.col("v"), lit_vec(far.v))
            ).alias("mind"),
        ).localCheckpoint(eager=False)
    final_radius = points.agg(F.max("mind")).collect()[0][0]

    cdf = local_rows_df(
        spark,
        [(s, cid, d, v) for s, cid, d, v in centers],
        "step int, center_id long, sel_dist_sq long, cv array<long>",
    )
    wa = Window.partitionBy("vec_id").orderBy("d2", "step")
    asg = (
        qv.join(F.broadcast(cdf))
        .select(
            "vec_id", "step", _int_dist2(F.col("v"), F.col("cv")).alias("d2")
        )
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .groupBy("step")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )
    # radius after step i = the step-(i+1) pick's distance; final step
    # needs the one extra max pass computed above
    radius = {s: d for s, _, d, _ in centers}
    base = local_rows_df(
        spark,
        [
            (s, cid, d, int(radius.get(s + 1, final_radius)))
            for s, cid, d, _ in centers
        ],
        "step int, center_id long, sel_dist_sq long, radius_sq_after long",
    )
    return base.join(asg, "step", "left").select(
        "step",
        "center_id",
        "sel_dist_sq",
        "radius_sq_after",
        F.coalesce(F.col("n_assigned"), F.lit(0).cast("long")).alias("n_assigned"),
    )


# ---------------------------------------------------------------------------
# ev18_holt_linear — Holt's linear-trend exponential smoothing.
#
# level_t = a*y_t + (1-a)*(level + trend); trend_t = b*(level_t -
# level) + (1-b)*trend, a = b = 1/2; init level_0 = y_0, trend_0 =
# y_1 - y_0 (the FPP convention).  Both engines run the IDENTICAL
# left-to-right recurrence over the date-ordered daily series — same
# IEEE ops in the same order, so the doubles agree bit-for-bit
# before the 1e-6 rounding.  Spark folds with ``aggregate`` (struct
# state); the oracle unrolls the SAME recurrence as a recursive CTE
# rather than DuckDB's list_reduce, because DuckDB v1.0 evaluates a
# struct-state reduce lambda's fields SEQUENTIALLY against a mutated
# accumulator (a later field reading acc.l sees the just-written new
# l, not the old one — measured: fold (acc,x) -> {l: acc.l+1,
# b: acc.l} yields b = new l), which silently corrupts any two-field
# recurrence.
#
# Scale shape: the daily aggregation is the only corpus-scale
# shuffle; the per-type series is bounded BY CONSTRUCTION at the
# generator's 30-day span (SF grows rows-per-day, never days), so
# the collect_list group is fixed-size — the SCALE.md standing rule
# satisfied by construction, recorded in plan_audit.COLLECT_BOUNDED.
# ---------------------------------------------------------------------------

_EV18_ORACLE = """
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), ser AS MATERIALIZED (
  SELECT event_type, list(CAST(cnt AS DOUBLE) ORDER BY day) AS ys
  FROM daily GROUP BY event_type
), walk(event_type, i, l, b) AS (
  SELECT event_type, 2, ys[1], ys[2] - ys[1] FROM ser WHERE len(ys) >= 2
  UNION ALL
  SELECT w.event_type, w.i + 1,
         (s.ys[w.i + 1] + w.l + w.b) * 0.5,
         (((s.ys[w.i + 1] + w.l + w.b) * 0.5) - w.l + w.b) * 0.5
  FROM walk w JOIN ser s ON s.event_type = w.event_type
  WHERE w.i < len(s.ys)
), fin AS (
  SELECT w.event_type, len(s.ys) AS n_days, w.l, w.b
  FROM walk w JOIN ser s ON s.event_type = w.event_type
  WHERE w.i = len(s.ys)
)
SELECT event_type, CAST(n_days AS INT) AS n_days,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + b, 6) AS forecast_1,
       round(l + b * 2.0, 6) AS forecast_2,
       round(l + b * 3.0, 6) AS forecast_3
FROM fin
"""


@register(
    "ev18_holt_linear",
    oracle=_EV18_ORACLE,
    description="HOLT'S LINEAR-TREND exponential smoothing (Holt "
    "1957; FPP 8.2) over the daily event series per type, alpha = "
    "beta = 1/2, with 1/2/3-step-ahead forecasts — the trend-aware "
    "upgrade of ev8's EWMA level. The recurrence is the IDENTICAL "
    "left-to-right IEEE fold on both engines (aggregate vs "
    "list_reduce over the date-ordered series), rounded at 1e-6. One "
    "corpus-scale daily shuffle; the folded series is bounded by the "
    "generator's 30-day span (SF grows rows-per-day, never days)",
)
def ev18_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ser = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("day"), F.col("cnt")))
            ).alias("s")
        )
        .select(
            "event_type",
            F.transform(F.col("s"), lambda x: x["cnt"].cast("double")).alias("ys"),
        )
        .filter(F.size("ys") >= 2)
    )
    y0 = F.element_at("ys", 1)
    y1 = F.element_at("ys", 2)
    rest = F.slice(F.col("ys"), 3, F.size(F.col("ys")))
    st = F.aggregate(
        rest,
        F.struct(y0.alias("l"), (y1 - y0).alias("b")),
        lambda acc, y: F.struct(
            ((y + acc["l"] + acc["b"]) * F.lit(0.5)).alias("l"),
            (
                (((y + acc["l"] + acc["b"]) * F.lit(0.5)) - acc["l"] + acc["b"])
                * F.lit(0.5)
            ).alias("b"),
        ),
    )
    out = ser.select("event_type", F.size("ys").alias("n_days"), st.alias("st"))
    return out.select(
        "event_type",
        "n_days",
        F.round(F.col("st")["l"], 6).alias("level"),
        F.round(F.col("st")["b"], 6).alias("trend"),
        F.round(F.col("st")["l"] + F.col("st")["b"], 6).alias("forecast_1"),
        F.round(F.col("st")["l"] + F.col("st")["b"] * F.lit(2.0), 6).alias(
            "forecast_2"
        ),
        F.round(F.col("st")["l"] + F.col("st")["b"] * F.lit(3.0), 6).alias(
            "forecast_3"
        ),
    )


# ---------------------------------------------------------------------------
# dq21_chi2_independence — categorical dependence profile.
#
# chi2 = sum over cells of (O - E)^2 / E with E = rt*ct/N, computed
# as (O*N - rt*ct)^2 / (N*rt*ct): the numerator root is EXACT BIGINT
# (|O*N| <= N^2, well inside 2^63 at test scale; at petabyte row
# counts pre-aggregate to per-shard cells first), cast to DOUBLE for
# one deterministic square-and-divide per cell, then floored at 1e6
# and summed as BIGINT (e1's fixed-point rule) so accumulation order
# cannot differ cross-engine.  Cramer's V = sqrt(chi2 / (N *
# min(r-1, c-1))) — sqrt of a deterministic double is correctly
# rounded per IEEE on both engines.
#
# Scale shape: per pair, ONE cells aggregation (r x c <= dozens of
# rows out of any corpus size), then broadcast-joined marginals —
# the chi-squared itself costs nothing beyond the contingency table.
# ---------------------------------------------------------------------------

_DQ21_PAIRS = (
    ("orders", "o_orderpriority", "o_orderstatus", "orders.priority_x_status"),
    ("lineitem", "l_returnflag", "l_linestatus", "lineitem.returnflag_x_linestatus"),
    ("documents", "lang", "source", "documents.lang_x_source"),
)


def _dq21_pair_sql(table: str, ca: str, cb: str, label: str) -> str:
    return f"""
SELECT '{label}' AS pair, n, CAST(r AS INT) AS r, CAST(c AS INT) AS c,
       CAST((r - 1) * (c - 1) AS INT) AS dof,
       CAST(fp AS DOUBLE) / 1000000.0 AS chi2,
       round(sqrt((CAST(fp AS DOUBLE) / 1000000.0)
                  / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))),
             6) AS cramers_v
FROM (
  SELECT MAX(n) AS n, COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c,
         SUM(CAST(floor(term * 1000000.0) AS BIGINT)) AS fp
  FROM (
    SELECT cells.a, cells.b,  n.n,
           CAST(cells.o * n.n - rt.rt * ct.ct AS DOUBLE)
             * CAST(cells.o * n.n - rt.rt * ct.ct AS DOUBLE)
             / (CAST(n.n AS DOUBLE) * CAST(rt.rt * ct.ct AS DOUBLE)) AS term
    FROM (SELECT {ca} AS a, {cb} AS b, CAST(COUNT(*) AS BIGINT) AS o
          FROM {table} GROUP BY {ca}, {cb}) cells
    JOIN (SELECT {ca} AS a, CAST(COUNT(*) AS BIGINT) AS rt
          FROM {table} GROUP BY {ca}) rt USING (a)
    JOIN (SELECT {cb} AS b, CAST(COUNT(*) AS BIGINT) AS ct
          FROM {table} GROUP BY {cb}) ct USING (b)
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {table}) n
  )
)"""


_DQ21_ORACLE = " UNION ALL ".join(
    _dq21_pair_sql(t, a, b, lab) for t, a, b, lab in _DQ21_PAIRS
)


def _chi2_pair(
    spark: SparkSession, sf_dir: str, table: str, ca: str, cb: str, label: str
) -> DataFrame:
    t = load_table(spark, sf_dir, table).select(
        F.col(ca).alias("a"), F.col(cb).alias("b")
    )
    # the contingency table is r x c rows (dozens) out of any corpus
    # size; checkpoint it so the marginals/N derive from it instead of
    # re-scanning the fact table once per consumer (one corpus scan
    # per pair, not seven)
    # lazy (r13): the statistic is one final action — the checkpoint
    # materializes inside it, no standalone job per pair
    cells = t.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("o")
    ).localCheckpoint(eager=False)
    rt = cells.groupBy("a").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("b").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    num = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast("double")
    den = F.col("n").cast("double") * (F.col("rt") * F.col("ct")).cast("double")
    term = num * num / den
    agg = (
        cells.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(n))
        .agg(
            F.max("n").alias("n"),
            F.countDistinct("a").alias("r"),
            F.countDistinct("b").alias("c"),
            F.sum(F.floor(term * F.lit(1000000.0)).cast("long")).alias("fp"),
        )
    )
    chi2 = F.col("fp").cast("double") / F.lit(1000000.0)
    return agg.select(
        F.lit(label).alias("pair"),
        "n",
        F.col("r").cast("int").alias("r"),
        F.col("c").cast("int").alias("c"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        chi2.alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "dq21_chi2_independence",
    oracle=_DQ21_ORACLE,
    description="PEARSON CHI-SQUARED dependence profile between "
    "categorical column pairs (priority x status, returnflag x "
    "linestatus, lang x source) with Cramer's V — the "
    "categorical complement of dq10's numeric correlations. Cell "
    "terms via the exact-BIGINT root (O*N - rt*ct), one deterministic "
    "double square-and-divide each, floored at 1e6 and summed as "
    "BIGINT (e1's fixed-point rule). Per pair: one contingency "
    "aggregation, broadcast marginals — cost is the groupBy, the "
    "statistic is free",
)
def dq21_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [_chi2_pair(spark, sf_dir, t, a, b, lab) for t, a, b, lab in _DQ21_PAIRS]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# s17_hard_negative_mining — label-aware negatives for contrastive
# training.
#
# For each anchor (the s-suite's query vectors), rank every vector of
# a DIFFERENT class by similarity and keep the top-k: the "hard
# negatives" a contrastive trainer wants in the batch (FaceNet's
# triplet semantics; DPR mines them from BM25, here from the
# embedding space itself).  pos_dot is the anchor's best same-class
# similarity (its nearest positive, self excluded);
# harder_than_pos marks negatives that currently beat it — the
# active triplet-loss violations.  All similarities are exact BIGINT
# dots of e2's int8 codes, so ranking and the flag are bit-identical
# cross-engine.
#
# Scale shape: one broadcast of the anchor set against the scan,
# one per-anchor top-k window (partitioned by query_id), one 3-row
# broadcast join for pos_dot.  Same plan skeleton as s1 — the label
# predicate rides the scan.
# ---------------------------------------------------------------------------

_S17_K = 5


def _s17_oracle() -> str:
    return f"""WITH {_SQL_QV},
lv AS MATERIALIZED (
  SELECT q.vec_id, q.v, e.label FROM qv q JOIN embeddings e USING (vec_id)
),
anchors AS MATERIALIZED (
  SELECT vec_id AS query_id, v AS qvec, label AS qlabel
  FROM lv WHERE vec_id IN {_MMR_QUERIES}
),
pos AS MATERIALIZED (
  SELECT a.query_id, MAX({_sql_idot('c.v', 'a.qvec')}) AS pos_dot
  FROM lv c JOIN anchors a
    ON c.label = a.qlabel AND c.vec_id <> a.query_id
  GROUP BY a.query_id
),
neg AS MATERIALIZED (
  SELECT a.query_id, c.vec_id,
         {_sql_idot('c.v', 'a.qvec')} AS neg_dot
  FROM lv c JOIN anchors a ON c.label <> a.qlabel
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, neg_dot, pos_dot,
       CAST(neg_dot > pos_dot AS BOOLEAN) AS harder_than_pos
FROM (
  SELECT n.query_id, n.vec_id, n.neg_dot, p.pos_dot,
         row_number() OVER (PARTITION BY n.query_id
                            ORDER BY n.neg_dot DESC, n.vec_id) AS rank
  FROM neg n JOIN pos p ON p.query_id = n.query_id
) WHERE rank <= {_S17_K}"""


@register(
    "s17_hard_negative_mining",
    oracle=_s17_oracle(),
    description="LABEL-AWARE HARD-NEGATIVE MINING for contrastive "
    "training (FaceNet triplet semantics / DPR hard negatives): per "
    "anchor, the top-5 most-similar vectors of a DIFFERENT class, "
    "each flagged harder_than_pos against the anchor's best positive "
    "— the active triplet-loss violations. Exact BIGINT dots of e2's "
    "int8 codes; one broadcast-anchor scan + per-anchor top-k window "
    "(s1's plan skeleton with the label predicate riding the scan)",
)
def s17_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lv = quantized_vectors(spark, sf_dir).join(labels, "vec_id")
    anchors = lv.filter(F.col("vec_id").isin(*_MMR_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    pos = (
        lv.join(
            F.broadcast(anchors),
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id")
        .agg(F.max(_int_dot(F.col("v"), F.col("qvec"))).alias("pos_dot"))
    )
    neg = lv.join(
        F.broadcast(anchors), F.col("label") != F.col("qlabel")
    ).select(
        "query_id",
        "vec_id",
        _int_dot(F.col("v"), F.col("qvec")).alias("neg_dot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("neg_dot"), F.asc("vec_id"))
    return (
        neg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _S17_K)
        .join(F.broadcast(pos), "query_id")
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            "neg_dot",
            "pos_dot",
            (F.col("neg_dot") > F.col("pos_dot")).alias("harder_than_pos"),
        )
    )


# ---------------------------------------------------------------------------
# ev19_cusum_changepoint — Page's CUSUM drift detector, exact.
#
# S+_t = max(0, S+_{t-1} + (y_t - mu - k)),  S-_t = max(0, S-_{t-1}
# - (y_t - mu + k)) with target mu = T/D (the series' own mean) and
# slack k = mu/20.  Scaling every term by 20*D clears both
# denominators: the increments become the exact BIGINTs
# 20*D*y_t - 21*T (upper) and 19*T - 20*D*y_t (lower), so the whole
# recurrence — including the max(0, .) clamps and the alarm
# comparisons — is integer arithmetic, bit-identical cross-engine.
# Alarm threshold h = mu/2 cumulative drift, i.e. 10*T in scaled
# units (pinned parameters, documented here).
#
# Per-day statistics are required (the alarm DAY is the product), so
# the fold carries an array accumulator (append one struct per day) —
# bounded by the generator's 30-day span like ev18, then posexploded
# back to rows.  The oracle walks the identical recurrence as a
# recursive CTE emitting every step.
# ---------------------------------------------------------------------------

_EV19_ORACLE = """
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), ser AS MATERIALIZED (
  SELECT event_type,
         list(strftime(day, '%Y-%m-%d') ORDER BY day) AS days,
         list(cnt ORDER BY day) AS ys,
         CAST(len(list(cnt ORDER BY day)) AS BIGINT) AS d,
         CAST(list_sum(list(cnt ORDER BY day)) AS BIGINT) AS t
  FROM daily GROUP BY event_type
), walk(event_type, i, sp, sn) AS (
  SELECT event_type, 1,
         GREATEST(CAST(0 AS BIGINT), 20 * d * ys[1] - 21 * t),
         GREATEST(CAST(0 AS BIGINT), 19 * t - 20 * d * ys[1])
  FROM ser
  UNION ALL
  SELECT w.event_type, w.i + 1,
         GREATEST(CAST(0 AS BIGINT), w.sp + 20 * s.d * s.ys[w.i + 1] - 21 * s.t),
         GREATEST(CAST(0 AS BIGINT), w.sn + 19 * s.t - 20 * s.d * s.ys[w.i + 1])
  FROM walk w JOIN ser s ON s.event_type = w.event_type
  WHERE w.i < s.d
)
SELECT w.event_type, s.days[w.i] AS day, s.ys[w.i] AS cnt,
       w.sp AS cusum_pos, w.sn AS cusum_neg,
       CAST(w.sp > 10 * s.t AS BOOLEAN) AS alarm_pos,
       CAST(w.sn > 10 * s.t AS BOOLEAN) AS alarm_neg
FROM walk w JOIN ser s ON s.event_type = w.event_type
"""


@register(
    "ev19_cusum_changepoint",
    oracle=_EV19_ORACLE,
    description="PAGE'S CUSUM change-point detector (Page 1954) over "
    "the daily event series, both drift directions, in EXACT scaled "
    "integers: scaling by 20*D clears the mean and slack denominators "
    "(increments 20*D*y - 21*T and 19*T - 20*D*y), so the clamped "
    "recurrence and the alarm comparisons are BIGINT cross-engine. "
    "mu = series mean, slack k = mu/20, alarm h = mu/2 cumulative "
    "(10*T scaled). One daily shuffle; the fold is bounded by the "
    "30-day generator span (ev18's bound); oracle walks the identical "
    "recurrence as a recursive CTE",
)
def ev19_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cusum_walk(daily)


def cusum_walk(daily: DataFrame) -> DataFrame:
    """The ev19 batch core over a (event_type, day: date, cnt) daily
    table — shared verbatim by the oracle-checked batch query and the
    streaming twin (streaming/drift_ingest.py), the st13/st15
    batch-core discipline."""
    ser = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("day"), F.col("cnt")))
            ).alias("s")
        )
        .select(
            "event_type",
            F.transform(F.col("s"), lambda x: F.date_format(x["day"], "yyyy-MM-dd")).alias(
                "days"
            ),
            F.transform(F.col("s"), lambda x: x["cnt"]).alias("ys"),
        )
        .select(
            "event_type",
            "days",
            "ys",
            F.size("ys").cast("long").alias("d"),
            F.aggregate(
                F.col("ys"), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("t"),
        )
    )
    zero = F.lit(0).cast("long")
    walk = F.aggregate(
        F.col("ys"),
        F.array().cast("array<struct<sp:bigint,sn:bigint>>"),
        lambda acc, y: F.concat(
            acc,
            F.array(
                F.struct(
                    F.greatest(
                        zero,
                        F.coalesce(F.try_element_at(acc, F.lit(-1))["sp"], zero)
                        + 20 * F.col("d") * y
                        - 21 * F.col("t"),
                    ).alias("sp"),
                    F.greatest(
                        zero,
                        F.coalesce(F.try_element_at(acc, F.lit(-1))["sn"], zero)
                        + 19 * F.col("t")
                        - 20 * F.col("d") * y,
                    ).alias("sn"),
                )
            ),
        ),
    )
    st = ser.select("event_type", "days", "ys", "t", walk.alias("walk"))
    ex = st.select(
        "event_type",
        "t",
        F.posexplode(F.arrays_zip("days", "ys", "walk")).alias("i", "z"),
    )
    return ex.select(
        "event_type",
        F.col("z")["days"].alias("day"),
        F.col("z")["ys"].alias("cnt"),
        F.col("z")["walk"]["sp"].alias("cusum_pos"),
        F.col("z")["walk"]["sn"].alias("cusum_neg"),
        (F.col("z")["walk"]["sp"] > 10 * F.col("t")).alias("alarm_pos"),
        (F.col("z")["walk"]["sn"] > 10 * F.col("t")).alias("alarm_neg"),
    )


# ---------------------------------------------------------------------------
# st16_stream_cusum — the drift detector's AT-INGEST form.
#
# streaming/drift_ingest.py folds micro-batches into a versioned
# daily-count state and recomputes ev19's walk per batch; the
# registry query pins the MID-STREAM semantics the stream emits: the
# drift table over the PREFIX of the series ingested so far (here
# the first 20 generator days — what the detector shows while the
# rest of the month is still arriving). Same cusum_walk core, same
# exact scaled-integer arithmetic; mu/slack/alarm derive from the
# prefix's own T and D, exactly as each micro-batch recomputation
# does. Stream == batch parity for arbitrary choppings is pinned by
# tests/test_stream_ingest.py::TestStreamCusum.
# ---------------------------------------------------------------------------

_ST16_CUT = "2024-01-20"

_ST16_ORACLE = _EV19_ORACLE.replace(
    "FROM events GROUP BY event_type, CAST(ts AS DATE)",
    f"FROM events WHERE CAST(ts AS DATE) <= DATE '{_ST16_CUT}'\n"
    "  GROUP BY event_type, CAST(ts AS DATE)",
)


@register(
    "st16_stream_cusum",
    oracle=_ST16_ORACLE,
    description="CUSUM DRIFT DETECTION AT INGEST (ev19's streaming "
    "twin, streaming/drift_ingest.py): the mid-stream drift table "
    "over the first-20-days PREFIX of the series — what the detector "
    "emits while the rest of the month is still arriving; mu, slack "
    "and alarms derive from the prefix's own totals exactly as each "
    "micro-batch recomputation does. Versioned bounded daily-count "
    "state (state after batch N overwritten idempotently on replay); "
    "stream == batch for arbitrary choppings pinned by the parity "
    "test",
)
def st16_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.to_date("ts") <= F.lit(_ST16_CUT).cast("date"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return cusum_walk(daily)


# ---------------------------------------------------------------------------
# ev20_seasonal_indices — classical decomposition's seasonal leg.
#
# Multiplicative day-of-week index = weekday mean / overall mean =
# (sum_wd / n_wd) / (T / D) = sum_wd * D / (n_wd * T): one exact
# integer ratio per (event_type, weekday), emitted as a single
# correctly-rounded double division (no float accumulation anywhere).
# Weekday numbering is pinned ISO (1 = Monday): Spark weekday()+1,
# DuckDB isodow — the dayofweek() builtins DISAGREE across engines
# (Spark 1=Sunday, DuckDB 0=Sunday) and must not be used here.
# ---------------------------------------------------------------------------

_EV20_ORACLE = """
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), tot AS MATERIALIZED (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d, SUM(cnt) AS t
  FROM daily GROUP BY event_type
)
SELECT d.event_type, CAST(isodow(d.day) AS INT) AS weekday,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(d.cnt) AS BIGINT) AS sum_cnt,
       round(CAST(SUM(d.cnt) * MAX(tot.d) AS DOUBLE)
             / CAST(COUNT(*) * MAX(tot.t) AS DOUBLE), 6) AS seasonal_index
FROM daily d JOIN tot ON tot.event_type = d.event_type
GROUP BY d.event_type, isodow(d.day)
"""


@register(
    "ev20_seasonal_indices",
    oracle=_EV20_ORACLE,
    description="CLASSICAL-DECOMPOSITION day-of-week seasonal indices "
    "(FPP 6.3, multiplicative form): weekday mean over overall mean "
    "as ONE exact integer ratio sum_wd*D/(n_wd*T) per (type, "
    "weekday), single correctly-rounded double division. Weekday "
    "numbering pinned ISO (Spark weekday()+1 == DuckDB isodow) "
    "because the engines' dayofweek() builtins disagree. Completes "
    "the ev18/ev19 forecasting tier's seasonality leg",
)
def ev20_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("d"), F.sum("cnt").alias("t")
    )
    wd = (F.weekday("day") + 1).cast("int")
    return (
        daily.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", wd.alias("weekday"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("cnt").alias("sum_cnt"),
            F.round(
                (F.sum("cnt") * F.max("d")).cast("double")
                / (F.count(F.lit(1)) * F.max("t")).cast("double"),
                6,
            ).alias("seasonal_index"),
        )
    )


# ---------------------------------------------------------------------------
# s18_rocchio_prf — pseudo-relevance-feedback query expansion.
#
# Rocchio (1971) with alpha = beta = 1 over the top-|F| first-round
# results: q' = q + (1/|F|) * sum(F).  Scaling by |F| = 5 clears the
# centroid denominator — the expanded query is the exact integer
# vector 5*q + sum(F), and second-round scores are exact BIGINT dots
# against it, so both rounds' rankings and tie-breaks are
# bit-identical cross-engine.  in_feedback marks results the
# expansion itself contributed (the classic PRF self-retrieval
# effect, made visible).
#
# Scale shape: two broadcast-query corpus scans (round 1 top-k
# window, round 2 re-score) — the s1 skeleton twice; the expansion
# vector is built from the 5-row feedback set (bounded BY
# CONSTRUCTION by the round-1 window cap before collection) with a
# zip_with fold, never a dim-explode shuffle.
# ---------------------------------------------------------------------------

_PRF_FB = 5
_PRF_K = 5


def _s18_oracle() -> str:
    return f"""WITH {_SQL_QV},
q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qvec FROM qv
  WHERE vec_id IN {_MMR_QUERIES}),
r1 AS MATERIALIZED (
  SELECT query_id, vec_id, v FROM (
    SELECT q.query_id, e.vec_id, e.v,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_idot('e.v', 'q.qvec')} DESC,
                                       e.vec_id) AS rn
    FROM qv e, q WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {_PRF_FB}
),
fbsum AS MATERIALIZED (
  SELECT query_id, dim, CAST(SUM(x) AS BIGINT) AS s FROM (
    SELECT query_id, unnest(range(len(v))) AS dim, unnest(v) AS x FROM r1
  ) GROUP BY query_id, dim
),
expq AS MATERIALIZED (
  SELECT f.query_id,
         list_transform(
           list_zip(q.qvec, list(f.s ORDER BY f.dim)),
           p -> 5 * p[1] + p[2]) AS ev
  FROM fbsum f JOIN q ON q.query_id = f.query_id
  GROUP BY f.query_id, q.qvec
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, prf_dot, in_feedback
FROM (
  SELECT x.query_id, c.vec_id,
         {_sql_idot('c.v', 'x.ev')} AS prf_dot,
         EXISTS (SELECT 1 FROM r1 WHERE r1.query_id = x.query_id
                 AND r1.vec_id = c.vec_id) AS in_feedback,
         row_number() OVER (PARTITION BY x.query_id
                            ORDER BY {_sql_idot('c.v', 'x.ev')} DESC,
                                     c.vec_id) AS rank
  FROM qv c, expq x WHERE c.vec_id <> x.query_id
) WHERE rank <= {_PRF_K}"""


@register(
    "s18_rocchio_prf",
    oracle=_s18_oracle(),
    description="ROCCHIO PSEUDO-RELEVANCE FEEDBACK (Rocchio 1971, "
    "alpha = beta = 1): round-1 top-5 per query, expanded query as "
    "the EXACT integer vector 5*q + sum(feedback) (scaling clears "
    "the centroid denominator), round-2 re-score against it — both "
    "rankings exact BIGINT cross-engine; in_feedback exposes the PRF "
    "self-retrieval effect. Two broadcast-query scans (the s1 "
    "skeleton twice); the expansion folds the 5-row bounded feedback "
    "set, never a dim-explode shuffle",
)
def s18_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = quantized_vectors(spark, sf_dir)
    q = qv.filter(F.col("vec_id").isin(*_MMR_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    w = Window.partitionBy("query_id")
    r1 = (
        qv.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "v",
            _int_dot(F.col("v"), F.col("qvec")).alias("dot1"),
        )
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("dot1"), F.asc("vec_id"))),
        )
        .filter(F.col("rn") <= _PRF_FB)
        .select("query_id", "vec_id", "v")
        .localCheckpoint(eager=False)
    )
    zero_vec = F.transform(F.col("qvec"), lambda _: F.lit(0).cast("long"))
    expq = (
        r1.groupBy("query_id")
        .agg(F.collect_list("v").alias("fb"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.zip_with(
                F.col("qvec"),
                F.aggregate(
                    F.col("fb"),
                    zero_vec,
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ),
                lambda qx, sx: 5 * qx + sx,
            ).alias("ev"),
        )
    )
    fb_flag = r1.select("query_id", "vec_id", F.lit(True).alias("in_feedback"))
    return (
        qv.join(F.broadcast(expq), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _int_dot(F.col("v"), F.col("ev")).alias("prf_dot"),
        )
        .withColumn(
            "rank",
            F.row_number().over(w.orderBy(F.desc("prf_dot"), F.asc("vec_id"))),
        )
        .filter(F.col("rank") <= _PRF_K)
        .join(F.broadcast(fb_flag), ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            "prf_dot",
            F.coalesce(F.col("in_feedback"), F.lit(False)).alias("in_feedback"),
        )
    )


# ---------------------------------------------------------------------------
# pr9_harmonic_centrality — bounded-radius harmonic centrality.
#
# H(u) = sum over reachable v != u of 1/d(u,v), truncated at radius 3
# (Boldi & Vigna 2014 axiomatize the harmonic form; bounded-radius
# truncation is the standard distributed approximation).  Scaling by
# 6 = lcm(1,2,3) clears every denominator: h6 = 6*n1 + 3*n2 + 2*n3
# is EXACT BIGINT from the per-distance frontier counts, and the
# double emitted is one correctly-rounded division.
#
# Runs on the strong-tie co-supplier graph (pr4's >= 8 shared-orders
# threshold — the rule that keeps a bounded-node-dimension graph
# sparse as the fact table grows), so the three frontier expansions
# are joins over a node-bounded edge list: distinct-then-anti-join
# per ring (exactly-distance-k sets), never a weighted multiplicity
# blowup.  The oracle reuses the same shared graph SQL prefix as
# pr4/pr5.
# ---------------------------------------------------------------------------


def _pr9_oracle() -> str:
    from dww_data_pipeline_spark.plans.pipeline_ext import _STRONG_GRAPH_SQL

    return f"""WITH {_STRONG_GRAPH_SQL},
sym AS MATERIALIZED (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
),
d1 AS MATERIALIZED (SELECT a AS u, b AS w FROM sym),
d2 AS MATERIALIZED (
  SELECT DISTINCT d1.u, s.b AS w
  FROM d1 JOIN sym s ON s.a = d1.w
  WHERE s.b <> d1.u
    AND NOT EXISTS (SELECT 1 FROM d1 i WHERE i.u = d1.u AND i.w = s.b)
),
d3 AS MATERIALIZED (
  SELECT DISTINCT d2.u, s.b AS w
  FROM d2 JOIN sym s ON s.a = d2.w
  WHERE s.b <> d2.u
    AND NOT EXISTS (SELECT 1 FROM d1 i WHERE i.u = d2.u AND i.w = s.b)
    AND NOT EXISTS (SELECT 1 FROM d2 i WHERE i.u = d2.u AND i.w = s.b)
),
counts AS (
  SELECT deg.node,
         CAST(COALESCE((SELECT COUNT(*) FROM d1 WHERE d1.u = deg.node), 0) AS BIGINT) AS n1,
         CAST(COALESCE((SELECT COUNT(*) FROM d2 WHERE d2.u = deg.node), 0) AS BIGINT) AS n2,
         CAST(COALESCE((SELECT COUNT(*) FROM d3 WHERE d3.u = deg.node), 0) AS BIGINT) AS n3
  FROM deg
)
SELECT node, n1, n2, n3,
       6 * n1 + 3 * n2 + 2 * n3 AS h6,
       round(CAST(6 * n1 + 3 * n2 + 2 * n3 AS DOUBLE) / 6.0, 6) AS harmonic
FROM counts"""


@register(
    "pr9_harmonic_centrality",
    oracle=_pr9_oracle(),
    description="HARMONIC CENTRALITY truncated at radius 3 (Boldi & "
    "Vigna 2014) over the strong-tie co-supplier graph: per-node "
    "exactly-distance-k ring sizes via distinct + anti-join frontier "
    "expansion, h6 = 6*n1 + 3*n2 + 2*n3 EXACT BIGINT (lcm scaling "
    "clears the 1/d denominators), one correctly-rounded division at "
    "the end. The >= 8 shared-orders threshold keeps the node-"
    "bounded edge list sparse as the fact table grows (pr4's rule); "
    "the centrality itself never touches the fact table again",
)
def pr9_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.pipeline_ext import strong_tie_graph

    pairs, deg, _ = strong_tie_graph(spark, sf_dir)
    sym = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        pairs.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    d1 = sym.select(F.col("a").alias("u"), F.col("b").alias("w"))
    d2 = (
        d1.join(sym, d1.w == sym.a)
        .select("u", F.col("b").alias("w2"))
        .filter(F.col("w2") != F.col("u"))
        .select("u", F.col("w2").alias("w"))
        .distinct()
        .join(d1, ["u", "w"], "left_anti")
        .localCheckpoint(eager=False)
    )
    d3 = (
        d2.join(sym, d2.w == sym.a)
        .select("u", F.col("b").alias("w2"))
        .filter(F.col("w2") != F.col("u"))
        .select("u", F.col("w2").alias("w"))
        .distinct()
        .join(d1, ["u", "w"], "left_anti")
        .join(d2, ["u", "w"], "left_anti")
    )

    def ring(df, name):
        return df.groupBy("u").agg(F.count(F.lit(1)).alias(name))

    out = (
        deg.select("node")
        .join(ring(d1, "n1").withColumnRenamed("u", "node"), "node", "left")
        .join(ring(d2, "n2").withColumnRenamed("u", "node"), "node", "left")
        .join(ring(d3, "n3").withColumnRenamed("u", "node"), "node", "left")
        .select(
            "node",
            F.coalesce("n1", F.lit(0)).cast("long").alias("n1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
            F.coalesce("n3", F.lit(0)).cast("long").alias("n3"),
        )
    )
    h6 = 6 * F.col("n1") + 3 * F.col("n2") + 2 * F.col("n3")
    return out.select(
        "node",
        "n1",
        "n2",
        "n3",
        h6.alias("h6"),
        F.round(h6.cast("double") / 6.0, 6).alias("harmonic"),
    )


# ---------------------------------------------------------------------------
# s19_index_staleness_gate — the ANN index LIFECYCLE decision.
#
# The missing production step between building an IVF index (s2/s11)
# and trusting it: the quantizer is FROZEN at build time (streaming/
# ann_ingest.py's contract — re-training is a rebuild, not an ingest
# concern), so as vectors keep arriving the cell structure drifts and
# probe-limited recall decays.  s19 measures both and emits the
# rebuild/keep decision as an oracle-checked quantity.
#
# Deterministic lifecycle simulation on the embeddings table: the
# BASE corpus is vec_id % 4 != 3 (the index's training set); the
# remaining quarter ARRIVES in four steps (step = (vec_id % 16)//4
# + 1).  The coarse quantizer is s2/s11's exact-integer k-means
# (_train_coarse) fit on the BASE ONLY and frozen; arrivals are
# assigned to the stale cells exactly as ann_ingest_batch does.  Per
# step s in 0..4 (cumulative corpus = base + arrivals with step <= s):
#
#   * recall leg (s15's machinery at the production nprobe=2): how
#     many of the exact top-5 per fixed query the probe-limited
#     search recovers over the CURRENT corpus — hits as an exact
#     integer, the probe sets frozen at base-build time;
#   * drift leg (dq4's machinery on the index itself): L1 distance
#     between the base corpus' cell-occupancy histogram and the
#     arrived-so-far histogram, integer cross-product form
#     sum|a*n2 - b*n1| so partition order cannot move it;
#   * decision: rebuild iff recall < 4/5 (5*hits < 4*|Q|*k, integer
#     cross-multiply) OR assignment drift > 1/2 (2*num > n1*n2).
#
# Scale shape: ONE corpus pass assigns every vector to its frozen
# cell (the literal-centroid argmin, no shuffle); the drift leg is
# one (step, cell)-bounded histogram shuffle.  The recall leg's
# exact-truth scan is the CALIBRATION probe — |Q|=3 fixed queries x
# S+1 steps over the corpus, the same bounded verification shape
# s15 ships (production recall estimation keeps the query panel
# fixed; the corpus term stays linear).  The greedy/iterative parts
# are all bounded: 4x64-integer centroid collect (e7 discipline),
# 3-row query collect.
# ---------------------------------------------------------------------------

_S19_STEPS = 4


def _s19_oracle() -> str:
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _IVF_K,
        _IVF_NPROBE,
        _PQ_QUERIES,
        _PQ_TOPK,
        _PQ_VQ_DUCK,
        _ivfpq_coarse_d2_sql,
    )

    nk = len(_PQ_QUERIES) * _PQ_TOPK
    csums = ", ".join(f"SUM(qb.vq[{i + 1}]) AS s{i}" for i in range(64))
    cupd = ", ".join(f"(2 * s.s{i} + s.n) // (2 * s.n)" for i in range(64))
    return f"""WITH q AS MATERIALIZED (
  SELECT vec_id, {_PQ_VQ_DUCK} AS vq,
         CASE WHEN vec_id % 4 = 3
              THEN CAST((vec_id % 16) // 4 AS INT) + 1 ELSE 0 END AS step
  FROM embeddings
), qb AS MATERIALIZED (
  SELECT vec_id, vq FROM q WHERE step = 0
), cinit AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
  FROM (SELECT vec_id, vq FROM qb ORDER BY vec_id LIMIT {_IVF_K})
), ca0 AS MATERIALIZED (
  SELECT vec_id, j AS cluster FROM (
    SELECT qb.vec_id, c.j,
           row_number() OVER (PARTITION BY qb.vec_id
                              ORDER BY {_ivfpq_coarse_d2_sql('qb.vq', 'c.cv')}, c.j) AS rn
    FROM qb CROSS JOIN cinit c
  ) WHERE rn = 1
), cs AS MATERIALIZED (
  SELECT a.cluster, CAST(COUNT(*) AS BIGINT) AS n, {csums}
  FROM ca0 a JOIN qb ON qb.vec_id = a.vec_id GROUP BY a.cluster
), cc AS MATERIALIZED (
  SELECT p.j, CASE WHEN s.cluster IS NULL THEN p.cv
                   ELSE list_value({cupd}) END AS cv
  FROM cinit p LEFT JOIN cs s ON s.cluster = p.j
), caf AS MATERIALIZED (
  SELECT vec_id, step, j AS cluster FROM (
    SELECT q.vec_id, q.step, c.j,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_ivfpq_coarse_d2_sql('q.vq', 'c.cv')}, c.j) AS rn
    FROM q CROSS JOIN cc c
  ) WHERE rn = 1
), qv AS MATERIALIZED (
  SELECT vec_id AS query_id, vq FROM q WHERE vec_id IN {_PQ_QUERIES}
), qc AS MATERIALIZED (
  SELECT query_id, j AS cluster FROM (
    SELECT qv.query_id, c.j,
           row_number() OVER (PARTITION BY qv.query_id
                              ORDER BY {_ivfpq_coarse_d2_sql('qv.vq', 'c.cv')}, c.j) AS rn
    FROM qv CROSS JOIN cc c
  ) WHERE rn <= {_IVF_NPROBE}
), steps AS (
  SELECT CAST(unnest(generate_series(0, {_S19_STEPS})) AS INT) AS s
), cand AS MATERIALIZED (
  SELECT st.s, qc.query_id, r.vec_id,
         CAST({_ivfpq_coarse_d2_sql('v.vq', 'qv.vq')} AS BIGINT) AS d2
  FROM steps st
  CROSS JOIN qc
  JOIN caf r ON r.cluster = qc.cluster AND r.step <= st.s
  JOIN q v ON v.vec_id = r.vec_id
  JOIN qv ON qv.query_id = qc.query_id
), atop AS MATERIALIZED (
  SELECT s, query_id, vec_id FROM (
    SELECT s, query_id, vec_id,
           row_number() OVER (PARTITION BY s, query_id
                              ORDER BY d2, vec_id) AS rn
    FROM cand
  ) WHERE rn <= {_PQ_TOPK}
), ex AS MATERIALIZED (
  SELECT s, query_id, vec_id FROM (
    SELECT st.s, qv.query_id, q.vec_id,
           row_number() OVER (PARTITION BY st.s, qv.query_id
                              ORDER BY CAST({_ivfpq_coarse_d2_sql('q.vq', 'qv.vq')} AS BIGINT),
                                       q.vec_id) AS rn
    FROM steps st JOIN q ON q.step <= st.s CROSS JOIN qv
  ) WHERE rn <= {_PQ_TOPK}
), hits AS MATERIALIZED (
  SELECT a.s, CAST(COUNT(e.vec_id) AS BIGINT) AS hits
  FROM atop a LEFT JOIN ex e
    ON e.s = a.s AND e.query_id = a.query_id AND e.vec_id = a.vec_id
  GROUP BY a.s
), bh AS MATERIALIZED (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS a
  FROM caf WHERE step = 0 GROUP BY cluster
), ah AS MATERIALIZED (
  SELECT st.s, c.cluster, CAST(COUNT(*) AS BIGINT) AS b
  FROM steps st JOIN caf c ON c.step >= 1 AND c.step <= st.s
  GROUP BY st.s, c.cluster
), grid AS (
  SELECT st.s, c.j AS cluster FROM steps st CROSS JOIN cc c
), jd AS MATERIALIZED (
  SELECT g.s, g.cluster, COALESCE(bh.a, 0) AS a, COALESCE(ah.b, 0) AS b
  FROM grid g LEFT JOIN bh ON bh.cluster = g.cluster
  LEFT JOIN ah ON ah.s = g.s AND ah.cluster = g.cluster
), tot AS (
  SELECT s, CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
  FROM jd GROUP BY s
), drift AS MATERIALIZED (
  SELECT jd.s, CAST(SUM(abs(jd.a * t.n2 - jd.b * t.n1)) AS BIGINT) AS drift_num,
         t.n1, t.n2
  FROM jd JOIN tot t ON t.s = jd.s GROUP BY jd.s, t.n1, t.n2
), counts AS (
  SELECT st.s, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(SUM(CASE WHEN q.step >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_arrived
  FROM steps st JOIN q ON q.step <= st.s GROUP BY st.s
)
SELECT CAST(h.s AS BIGINT) AS step, c.n_vectors, c.n_arrived,
       h.hits AS hits_at_k,
       round(CAST(h.hits AS DOUBLE) / {nk}, 6) AS recall_at_k,
       d.drift_num,
       CASE WHEN d.n2 = 0 THEN 0.0
            ELSE round(CAST(d.drift_num AS DOUBLE)
                       / (CAST(d.n1 AS DOUBLE) * CAST(d.n2 AS DOUBLE)), 6)
       END AS l1_assign_drift,
       (5 * h.hits < 4 * {nk})
         OR (d.n2 > 0 AND 2 * d.drift_num > d.n1 * d.n2) AS rebuild
FROM hits h JOIN drift d ON d.s = h.s JOIN counts c ON c.s = h.s"""


def index_staleness_gate(
    assigned: DataFrame,
    queries: DataFrame,
    n_steps: int,
    k: int,
    n_queries: int,
) -> DataFrame:
    """The s19 core over any pre-assigned corpus — factored so the
    streaming parity test can feed it the PERSISTED index's merged
    lake (base + streamed delta segments, cluster = on-disk list_id)
    and require the identical gate as the batch-assembled corpus.

    ``assigned``: (vec_id, step, vq array<long>, cluster) — step 0 =
    base, 1..n_steps = arrival order.  ``queries``: (query_id,
    qv array<long>, cells array<int>) — probe cells frozen at build
    time.  Emits one row per cumulative step with exact-integer
    hits/drift and the rebuild decision."""
    spark = assigned.sparkSession
    nk = n_queries * k
    steps = spark.range(0, n_steps + 1).select(F.col("id").cast("int").alias("s"))
    d2 = F.aggregate(
        F.zip_with(F.col("vq"), F.col("qv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # recall leg: probe-limited candidates vs exact truth, per step
    cand = assigned.join(
        F.broadcast(queries), F.array_contains(F.col("cells"), F.col("cluster"))
    ).select("query_id", "vec_id", "step", d2.alias("d2"))
    cand_s = cand.join(F.broadcast(steps), F.col("step") <= F.col("s")).select(
        "s", "query_id", "vec_id", "d2"
    )
    wa = Window.partitionBy("s", "query_id").orderBy("d2", "vec_id")
    atop = (
        cand_s.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= k)
        .select("s", "query_id", "vec_id")
    )
    ex = (
        assigned.crossJoin(F.broadcast(queries.select("query_id", "qv")))
        .select("query_id", "vec_id", "step", d2.alias("d2"))
        .join(F.broadcast(steps), F.col("step") <= F.col("s"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= k)
        .select("s", "query_id", "vec_id")
    )
    # left-join onto the full step range: a step with ZERO recall hits
    # (adversarial/low-recall data) must still emit a row with
    # hits_at_k = 0, matching the oracle's LEFT JOIN (round-9 advice)
    hits = steps.join(
        atop.join(ex, ["s", "query_id", "vec_id"], "left_semi")
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("hits_at_k")),
        "s",
        "left",
    ).select("s", F.coalesce("hits_at_k", F.lit(0).cast("long")).alias("hits_at_k"))
    # drift leg: base histogram vs cumulative arrival histogram (dq4's
    # integer cross-product form on the index's own cell occupancy)
    bh = (
        assigned.filter(F.col("step") == 0)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    ah = (
        assigned.filter(F.col("step") >= 1)
        .join(F.broadcast(steps), F.col("step") <= F.col("s"))
        .groupBy("s", "cluster")
        .agg(F.count(F.lit(1)).alias("b"))
    )
    cells = assigned.select("cluster").distinct()
    grid = steps.crossJoin(F.broadcast(cells))
    jd = (
        grid.join(bh, "cluster", "left")
        .join(ah, ["s", "cluster"], "left")
        .select(
            "s",
            "cluster",
            F.coalesce("a", F.lit(0).cast("long")).alias("a"),
            F.coalesce("b", F.lit(0).cast("long")).alias("b"),
        )
    )
    tot = jd.groupBy("s").agg(
        F.sum("a").alias("n1"), F.sum("b").alias("n2")
    )
    drift = (
        jd.join(tot, "s")
        .groupBy("s", "n1", "n2")
        .agg(
            F.sum(F.abs(F.col("a") * F.col("n2") - F.col("b") * F.col("n1"))).alias(
                "drift_num"
            )
        )
    )
    counts = (
        assigned.join(F.broadcast(steps), F.col("step") <= F.col("s"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("step") >= 1, 1).otherwise(0))
            .cast("long")
            .alias("n_arrived"),
        )
    )
    dbl = "double"
    return (
        hits.join(drift, "s")
        .join(counts, "s")
        .select(
            F.col("s").cast("long").alias("step"),
            "n_vectors",
            "n_arrived",
            F.col("hits_at_k").cast("long").alias("hits_at_k"),
            F.round(F.col("hits_at_k").cast(dbl) / F.lit(nk).cast(dbl), 6).alias(
                "recall_at_k"
            ),
            F.col("drift_num").cast("long").alias("drift_num"),
            F.when(F.col("n2") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("drift_num").cast(dbl)
                    / (F.col("n1").cast(dbl) * F.col("n2").cast(dbl)),
                    6,
                )
            )
            .alias("l1_assign_drift"),
            (
                (F.lit(5) * F.col("hits_at_k") < F.lit(4 * nk))
                | (
                    (F.col("n2") > 0)
                    & (F.lit(2) * F.col("drift_num") > F.col("n1") * F.col("n2"))
                )
            ).alias("rebuild"),
        )
    )


def _round_half_up(x: float, digits: int) -> float:
    """Spark's ``round(x, digits)`` on a double: the shortest decimal
    repr of ``x`` rounded HALF_UP (java.math.BigDecimal.valueOf)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP)
    )


def index_staleness_gate_driver(
    assigned: list[tuple[int, int, list[int], int]],
    queries: list[tuple[int, list[int], list[int]]],
    n_steps: int,
    k: int,
    n_queries: int,
) -> list[Row]:
    """``index_staleness_gate`` over COLLECTED inputs, in the driver:
    ``assigned`` rows are (vec_id, step, vq, cluster) and ``queries``
    rows (query_id, qv, cells).  The same predicates, the same
    (d2, vec_id) top-k order and exact integers; the two ratios use
    Spark's HALF_UP ``round(…, 6)``.  Returns the rows the DataFrame
    gate would collect, so c8 under the driver-collect cap and s19
    agree field for field."""
    from collections import Counter
    from heapq import nsmallest

    nk = n_queries * k
    cells = {r[3] for r in assigned}
    base = Counter(r[3] for r in assigned if r[1] == 0)
    n1 = sum(base.values())
    # (d2, vec_id) per query and row: the top-k order of both legs
    order = [
        [
            (sum((a - b) * (a - b) for a, b in zip(r[2], qv)), r[0])
            for r in assigned
        ]
        for _, qv, _ in queries
    ]
    out = []
    for s in range(n_steps + 1):
        cur = [i for i, r in enumerate(assigned) if r[1] <= s]
        if not cur:
            continue
        hits = 0
        for key, (_, _, probe) in zip(order, queries):
            probed = [i for i in cur if assigned[i][3] in probe]
            truth = {key[i][1] for i in nsmallest(k, cur, key=key.__getitem__)}
            hits += sum(
                key[i][1] in truth
                for i in nsmallest(k, probed, key=key.__getitem__)
            )
        arrived = Counter(assigned[i][3] for i in cur if assigned[i][1] >= 1)
        n2 = sum(arrived.values())
        drift = sum(abs(base[c] * n2 - arrived[c] * n1) for c in cells)
        out.append(
            Row(
                step=s,
                n_vectors=len(cur),
                n_arrived=n2,
                hits_at_k=hits,
                recall_at_k=_round_half_up(float(hits) / float(nk), 6),
                drift_num=drift,
                l1_assign_drift=0.0
                if n2 == 0
                else _round_half_up(float(drift) / (float(n1) * float(n2)), 6),
                rebuild=5 * hits < 4 * nk or (n2 > 0 and 2 * drift > n1 * n2),
            )
        )
    return out


@register(
    "s19_index_staleness_gate",
    oracle=_s19_oracle(),
    description="ANN INDEX STALENESS GATE (the lifecycle decision "
    "between building an IVF index and trusting it): the coarse "
    "quantizer trains on the base three-quarters of the corpus and "
    "FREEZES (ann_ingest's contract); the last quarter arrives in "
    "four steps assigned to the stale cells. Per cumulative step: "
    "probe-limited recall@5 for the fixed query panel at nprobe=2 "
    "(s15's machinery — exact-integer hits vs the exact top-5 over "
    "the CURRENT corpus) and the L1 cell-occupancy drift between "
    "base and arrivals (dq4's integer cross-product form), composed "
    "into a rebuild/keep decision via integer cross-multiplied "
    "thresholds (recall < 4/5 or drift > 1/2). One frozen-centroid "
    "corpus pass, one bounded histogram shuffle; the exact-truth leg "
    "is the fixed-panel calibration probe (s15's verification "
    "shape). Streaming twin proven in pytest: the same gate over "
    "ann_ingest's streamed delta segments + persisted base equals "
    "the batch-assembled corpus (north-star: similarity-search "
    "index operations)",
)
def s19_index_staleness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _PQ_QUERIES,
        _PQ_TOPK,
        _PQ_VQ_SPARK,
        _coarse_probe_panel,
        _ivfpq_coarse_expr,
        _query_rows,
        _train_coarse,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(_PQ_VQ_SPARK).alias("vq"),
        F.expr(
            "CASE WHEN vec_id % 4 = 3 "
            "THEN CAST((vec_id % 16) div 4 AS INT) + 1 ELSE 0 END"
        ).alias("step"),
    )
    with persisted(q):
        base = q.filter(F.col("step") == 0).select("vec_id", "vq")
        ccents = _train_coarse(base)  # frozen at base-build time
        assigned = q.select(
            "vec_id",
            "step",
            "vq",
            F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster"),
        )
        # fixed query panel: vectors + their frozen probe cells (3x64
        # integer collect — bounded by construction, e7 discipline)
        queries = local_rows_df(
            spark,
            _coarse_probe_panel(_query_rows(q), ccents),
            "query_id long, qv array<long>, cells array<int>",
        )
        out = index_staleness_gate(
            assigned,
            queries,
            n_steps=_S19_STEPS,
            k=_PQ_TOPK,
            n_queries=len(_PQ_QUERIES),
        )
        # the gate is 5 rows; materialize before releasing the corpus
        # cache so the persist guard can unpersist deterministically
        return local_rows_df(spark, out.collect(), out.schema)


# ---------------------------------------------------------------------------
# c8_ann_index_lifecycle — gate -> rebuild -> swap, CLOSED (the c6
# composition discipline applied to the SECOND artifact).  s19 emits
# the rebuild/keep decision and sources/ann_index.py persists the
# exact-integer coarse quantizer; c8 composes them: build the store
# on the base corpus (vec_id%4!=3), run s19's gate with the LOADED
# quantizer (assignment and the frozen probe panel both derive from
# the artifact — never an in-query retrain), and on a rebuild verdict
# train a fresh quantizer over the FULL corpus and swap it in
# atomically (sources.maintenance.swap_dir).  Emitted rows prove the
# whole flow: the gate quantities the decision was made from, the
# decision/swap bits, and pre/post quantizer fingerprints
# (order-independent 32-bit-md5 sums over 'j|c0,c1,...' — the t36
# recipe): post == pre iff keep, == the full-corpus trainer's hash
# iff rebuild, so the oracle (which embeds s19's ENTIRE oracle for
# the decision and unrolls BOTH quantizers via the prefixed CTE
# generator) catches a missing, wrong, or corrupted swap.
#
# Scale shape: two legs, chosen by the measured corpus size.  Under
# the session's driver-collect cap (64 cells a vector: 16,384
# vectors) each quantizer training and the gate are ONE collect of
# the vector table, with the Lloyd step, assignment, probe panel and
# every gate field computed in the driver in exact integers.  Above
# the cap the distributed plans run: s19's gate (one frozen-centroid
# corpus pass + bounded histogram shuffles + the |Q|-bounded
# exact-truth probe) plus at most one more _train_coarse run (one
# partial-agg shuffle, k x 64 integer collect).  On both legs the
# artifact is KB-scale, written and read back with its own schema,
# and the swap is two renames.
# ---------------------------------------------------------------------------


def _c8_oracle() -> str:
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _PQ_VQ_DUCK,
        _coarse_quantizer_stages,
    )

    h = (
        "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || "
        "array_to_string(list_transform(cv, x -> CAST(x AS VARCHAR)), ',')"
        "), 1, 8)) AS BIGINT)"
    )
    return f"""WITH s19g AS MATERIALIZED ({_s19_oracle()}),
q2 AS MATERIALIZED (
  SELECT vec_id, {_PQ_VQ_DUCK} AS vq FROM embeddings
), qb2 AS MATERIALIZED (
  SELECT vec_id, vq FROM q2 WHERE vec_id % 4 != 3
),
{_coarse_quantizer_stages("qb2", "p")},
{_coarse_quantizer_stages("q2", "f")},
dec AS (
  SELECT rebuild, hits_at_k, drift_num, n_vectors
  FROM s19g WHERE step = {_S19_STEPS}
), preh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM({h}) AS BIGINT) AS hsh
  FROM pcc
), posth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM({h}) AS BIGINT) AS hsh
  FROM fcc
)
SELECT check_name, value FROM (
  SELECT 'gate_drift_num' AS check_name, drift_num AS value FROM dec
  UNION ALL SELECT 'gate_hits_at_k', hits_at_k FROM dec
  UNION ALL SELECT 'gate_n_vectors', n_vectors FROM dec
  UNION ALL SELECT 'post_centroid_hash',
    (SELECT CASE WHEN d.rebuild THEN posth.hsh ELSE preh.hsh END
     FROM preh, posth) FROM dec d
  UNION ALL SELECT 'pre_centroid_hash', (SELECT hsh FROM preh) FROM dec
  UNION ALL SELECT 'rebuild',
    CAST(CASE WHEN rebuild THEN 1 ELSE 0 END AS BIGINT) FROM dec
  UNION ALL SELECT 'swapped',
    CAST(CASE WHEN rebuild THEN 1 ELSE 0 END AS BIGINT) FROM dec
)"""


@register(
    "c8_ann_index_lifecycle",
    oracle=_c8_oracle(),
    description="ANN-INDEX LIFECYCLE, CLOSED (gate -> rebuild -> swap "
    "— the c6 composition discipline on s19 + the persisted "
    "exact-integer coarse quantizer): build the quantizer store on "
    "the base corpus (vec_id%4!=3), run s19's staleness gate with "
    "the LOADED artifact (assignment + frozen probe panel from disk, "
    "never an in-query retrain), and on a rebuild verdict train a "
    "fresh quantizer over the full corpus and swap it in atomically "
    "(sources.maintenance.swap_dir — rollback on failure). Emits the "
    "gate quantities, decision/swap bits, and pre/post quantizer "
    "fingerprints (32-bit-md5 sums, the t36 recipe): post == pre iff "
    "keep, == the full-corpus trainer's hash iff rebuild — the "
    "oracle embeds s19's entire oracle for the decision and unrolls "
    "BOTH quantizers, so a missing, wrong, or corrupted swap breaks "
    "the hash match",
)
def c8_ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dww_data_pipeline_spark.plans.pipeline_ext2 import _PQ_VQ_SPARK
    from dww_data_pipeline_spark.sources import ann_index as ai

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(_PQ_VQ_SPARK).alias("vq"),
        F.expr(
            "CASE WHEN vec_id % 4 = 3 "
            "THEN CAST((vec_id % 16) div 4 AS INT) + 1 ELSE 0 END"
        ).alias("step"),
    )
    with persisted(q):
        store = tempfile.mkdtemp(prefix="dww_coarse_lc_")
        try:
            ai.build_coarse_store(
                q.filter(F.col("step") == 0).select("vec_id", "vq"), store
            )
            pre_hash = ai.coarse_centroid_fingerprint(
                ai.load_coarse_centroids(spark, store)
            )
            res = ai.coarse_index_lifecycle_tick(
                spark, store, q, retrain_vq=q.select("vec_id", "vq"),
                n_steps=_S19_STEPS,
            )
            post_hash = ai.coarse_centroid_fingerprint(
                ai.load_coarse_centroids(spark, store)
            )
            final = max(res["gate"], key=lambda r: r["step"])
        finally:
            shutil.rmtree(store, ignore_errors=True)
    rows = [
        ("gate_drift_num", int(final["drift_num"])),
        ("gate_hits_at_k", int(final["hits_at_k"])),
        ("gate_n_vectors", int(final["n_vectors"])),
        ("post_centroid_hash", post_hash),
        ("pre_centroid_hash", pre_hash),
        ("rebuild", int(res["rebuild"])),
        ("swapped", int(res["swapped"])),
    ]
    return local_rows_df(spark, rows, "check_name string, value long")


# ---------------------------------------------------------------------------
# ev21 — HOLT-WINTERS additive seasonal smoothing (Winters 1960; FPP
# 8.3), the seasonal completion of the forecasting tier: ev8 is the
# EWMA level, ev18 adds the trend, ev20 measures the day-of-week
# seasonality — ev21 is the model that carries level + trend + the
# m=7 seasonal ring TOGETHER and forecasts a full week ahead.
#
# Exact cross-engine contract (alpha = beta = gamma = 1/2, stated
# because the paper leaves initialization open):
#   * series = the ZERO-FILLED per-type daily counts on the corpus
#     [min_day, max_day] calendar (ev10's gap-fill discipline — a
#     missing day must not shift weekday alignment), ordered by day;
#   * init over the first two weeks (series shorter than 14 days is
#     excluded): A = (y1+..+y7)/7 (explicit left-to-right 7-term
#     sum — no list_sum, whose summation order is engine-internal),
#     B = (y8+..+y14)/7, l0 = A, b0 = (B-A)/7,
#     ring = [y1-A, .., y7-A];
#   * per step t = 8..n (textually identical expressions on both
#     engines — the b update re-inlines the l update because fold
#     state fields cannot reference siblings):
#       l' = (y - ring[1]) * 0.5 + (l + b) * 0.5
#       b' = (l' - l) * 0.5 + b * 0.5
#       ring' = ring[2..7] ++ [ (y - l') * 0.5 + ring[1] * 0.5 ]
#   * forecasts h = 1..7: f_h = l + b*h + ring[h]; rounding 1e-6 at
#     the very end only.
#
# The Spark side folds a bounded array (F.aggregate with struct
# state — the ev18 discipline; series length is the GENERATOR's
# 30-day span, SF grows rows-per-day, never days).  The oracle walks
# the identical recurrence as a RECURSIVE CTE — DuckDB's list_reduce
# mutates struct state mid-step (the ev18/ev19 hazard), so recursion
# is the only faithful SQL form.
#
# Scale shape: one corpus-scale daily aggregation (map-side
# partials), the calendar grid generated in-plan from a 1-row bounds
# agg, then per-type bounded-array folds — |types| rows of work
# after the first shuffle.
# ---------------------------------------------------------------------------


def _ev21_oracle() -> str:
    t7 = " + ".join(f"ys[{i}]" for i in range(1, 8))
    t14 = " + ".join(f"ys[{i}]" for i in range(8, 15))
    lnew = "(ys[t] - ring[1]) * 0.5 + (l + b) * 0.5"
    fcasts = ",\n           ".join(
        f"round(l + b * {h} + ring[{h}], 6) AS forecast_{h}"
        for h in range(1, 8)
    )
    return f"""
    WITH RECURSIVE bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events
    ), cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, c.day,
             CAST(COALESCE(d.cnt, 0) AS DOUBLE) AS y
      FROM cal c CROSS JOIN types t
      LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = c.day
    ), ser AS (
      SELECT event_type, list(y ORDER BY day) AS ys FROM grid
      GROUP BY event_type
    ), init AS (
      SELECT event_type, ys, len(ys) AS n,
             ({t7}) / 7.0 AS a,
             ({t14}) / 7.0 AS bb
      FROM ser WHERE len(ys) >= 14
    ), rec AS (
      SELECT event_type, ys, n, 8 AS t,
             a AS l, (bb - a) / 7.0 AS b,
             list_transform(list_slice(ys, 1, 7), y -> y - a) AS ring
      FROM init
      UNION ALL
      SELECT event_type, ys, n, t + 1,
             {lnew} AS l,
             (({lnew}) - l) * 0.5 + b * 0.5 AS b,
             list_append(list_slice(ring, 2, 7),
                         (ys[t] - ({lnew})) * 0.5 + ring[1] * 0.5) AS ring
      FROM rec WHERE t <= n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(l, 6) AS level, round(b, 6) AS trend,
           {fcasts}
    FROM rec WHERE t = n + 1
    """


@register(
    "ev21_holt_winters",
    oracle=_ev21_oracle(),
    description="HOLT-WINTERS ADDITIVE seasonal smoothing (Winters "
    "1960; FPP 8.3), alpha = beta = gamma = 1/2, m = 7: level + "
    "trend + the weekday seasonal ring evolved together over the "
    "ZERO-FILLED per-type daily series (ev10 gap-fill — missing days "
    "must not shift weekday alignment), with the full week of "
    "forecasts f_h = l + b*h + ring[h]. Init and step contract "
    "stated in the module header; both engines run textually "
    "identical expressions (Spark bounded-array fold / recursive-CTE "
    "oracle — list_reduce's struct-state hazard, the ev18 rule). "
    "One corpus daily shuffle; series bounded by the generator's "
    "30-day span, so the fold is |types| rows of bounded work "
    "(seasonal completion of ev8 level / ev18 trend / ev20 indices)",
)
def ev21_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return holt_winters(load_table(spark, sf_dir, "events"))


def holt_winters(ev: DataFrame) -> DataFrame:
    """The ev21 core over any (event_type, ts) relation — factored
    for property testing against a pure-Python walk (including
    gap-day zero-fill alignment)."""
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    cal = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = (
        cal.crossJoin(F.broadcast(types))
        .join(F.broadcast(daily), ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("double").alias("y"),
        )
    )
    ser = (
        grid.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("day"), F.col("y")))
            ).alias("s")
        )
        .select(
            "event_type",
            F.transform(F.col("s"), lambda x: x["y"]).alias("ys"),
        )
        .filter(F.size("ys") >= 14)
    )
    ys = F.col("ys")
    a = sum([F.element_at(ys, i) for i in range(2, 8)], F.element_at(ys, 1)) / 7.0
    bb = sum([F.element_at(ys, i) for i in range(9, 15)], F.element_at(ys, 8)) / 7.0
    ring0 = F.transform(F.slice(ys, 1, 7), lambda y: y - a)
    rest = F.slice(ys, 8, F.size(ys) - 7)

    def _step(acc, y):
        lnew = (y - F.element_at(acc["ring"], 1)) * F.lit(0.5) + (
            acc["l"] + acc["b"]
        ) * F.lit(0.5)
        # b' re-inlines l' (fold state fields cannot reference
        # siblings) — textually the oracle does the same
        lnew2 = (y - F.element_at(acc["ring"], 1)) * F.lit(0.5) + (
            acc["l"] + acc["b"]
        ) * F.lit(0.5)
        bnew = (lnew2 - acc["l"]) * F.lit(0.5) + acc["b"] * F.lit(0.5)
        snew = (y - lnew2) * F.lit(0.5) + F.element_at(
            acc["ring"], 1
        ) * F.lit(0.5)
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.concat(F.slice(acc["ring"], 2, 6), F.array(snew)).alias("ring"),
        )

    st = F.aggregate(
        rest,
        F.struct(
            a.alias("l"), ((bb - a) / 7.0).alias("b"), ring0.alias("ring")
        ),
        _step,
    )
    out = ser.select("event_type", F.size("ys").alias("n_days"), st.alias("st"))
    return out.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("st")["l"], 6).alias("level"),
        F.round(F.col("st")["b"], 6).alias("trend"),
        *[
            F.round(
                F.col("st")["l"]
                + F.col("st")["b"] * F.lit(float(h))
                + F.element_at(F.col("st")["ring"], h),
                6,
            ).alias(f"forecast_{h}")
            for h in range(1, 8)
        ],
    )


# ---------------------------------------------------------------------------
# st20_stream_ann_drift — s19/c8's streaming twin: ANN-index staleness
# monitoring AT INGEST (round-11 verdict ask #7; the st19 pattern
# applied to the SECOND artifact).  s19 is the cumulative lifecycle
# GATE (and c8 closes its rebuild); st20 is the per-micro-batch
# MONITOR a production vector ingest runs continuously: each arriving
# batch is assigned to cells under the FROZEN persisted coarse
# quantizer (sources/ann_index.py store — never an in-stream retrain,
# streaming/ann_ingest.py's contract), and the batch's cell-occupancy
# histogram is compared to the base corpus' histogram — batch-LOCAL
# L1 assignment drift in dq4's integer cross-product form, plus the
# batch's most-loaded cell, plus s19's drift threshold (> 1/2,
# integer cross-multiplied) applied batch-locally as the alarm bit.
#
# Batch locality: each vector's cell depends only on the frozen
# centroids and the vector itself (the st13 contract), so
# union-of-batches == one-shot batch for ANY stream chopping —
# tests/test_stream_ingest.py asserts it against
# streaming/ann_ingest.py's real foreachBatch path
# (stream_coarse_drift_monitor), and the registered query aggregates
# the identical per-row core.
#
# Scale shape: ONE narrow projection per arriving vector (argmin over
# k literal centroids — whole-stage codegen, no shuffle), then a
# (batch, cell)-bounded histogram shuffle; the base histogram is one
# corpus-pass aggregate reused across batches; the batches grid
# (4 rows x k cells) left-joins so zero-arrival batches still emit
# rows (the s19 rule).  Bounded collects: none beyond the store's
# k x 64-integer centroid load.
# ---------------------------------------------------------------------------


def _st20_oracle() -> str:
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _PQ_VQ_DUCK,
        _coarse_quantizer_stages,
        _ivfpq_coarse_d2_sql,
    )

    return f"""WITH q AS MATERIALIZED (
  SELECT vec_id, {_PQ_VQ_DUCK} AS vq,
         CASE WHEN vec_id % 4 = 3
              THEN CAST((vec_id % 16) // 4 AS INT) + 1 ELSE 0 END AS batch
  FROM embeddings
), qb AS MATERIALIZED (SELECT vec_id, vq FROM q WHERE batch = 0),
{_coarse_quantizer_stages("qb", "p")},
caf AS MATERIALIZED (
  SELECT vec_id, batch, j AS cluster FROM (
    SELECT q.vec_id, q.batch, c.j,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_ivfpq_coarse_d2_sql('q.vq', 'c.cv')}, c.j) AS rn
    FROM q CROSS JOIN pcc c
  ) WHERE rn = 1
), bh AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS a
  FROM caf WHERE batch = 0 GROUP BY cluster
), n1t AS (SELECT CAST(SUM(a) AS BIGINT) AS n1 FROM bh),
batches AS (
  SELECT CAST(unnest(generate_series(1, {_S19_STEPS})) AS INT) AS s
), ah AS (
  SELECT batch AS s, cluster, CAST(COUNT(*) AS BIGINT) AS b
  FROM caf WHERE batch >= 1 GROUP BY batch, cluster
), grid AS (
  SELECT st.s, c.j AS cluster FROM batches st CROSS JOIN pcc c
), jd AS (
  SELECT g.s, g.cluster, COALESCE(bh.a, 0) AS a, COALESCE(ah.b, 0) AS b
  FROM grid g LEFT JOIN bh ON bh.cluster = g.cluster
  LEFT JOIN ah ON ah.s = g.s AND ah.cluster = g.cluster
), tot AS (
  SELECT s, CAST(SUM(b) AS BIGINT) AS n2 FROM jd GROUP BY s
), drift AS (
  SELECT jd.s,
         CAST(SUM(abs(jd.a * t.n2 - jd.b * n1t.n1)) AS BIGINT) AS drift_num,
         t.n2, n1t.n1
  FROM jd JOIN tot t ON t.s = jd.s CROSS JOIN n1t
  GROUP BY jd.s, t.n2, n1t.n1
), topc AS (
  SELECT s, cluster, b FROM (
    SELECT s, cluster, b,
           row_number() OVER (PARTITION BY s
                              ORDER BY b DESC, cluster) AS rn
    FROM jd
  ) WHERE rn = 1
)
SELECT CAST(d.s AS BIGINT) AS batch,
       d.n2 AS n_arrived,
       d.drift_num,
       CASE WHEN d.n2 = 0 THEN 0.0
            ELSE round(CAST(d.drift_num AS DOUBLE)
                       / (CAST(d.n1 AS DOUBLE) * CAST(d.n2 AS DOUBLE)), 6)
       END AS l1_assign_drift,
       CASE WHEN d.n2 = 0 THEN NULL
            ELSE CAST(t.cluster AS BIGINT) END AS top_cell,
       CASE WHEN d.n2 = 0 THEN NULL
            ELSE round(CAST(t.b AS DOUBLE) / d.n2, 6) END AS top_share,
       d.n2 > 0 AND 2 * d.drift_num > d.n1 * d.n2 AS alarm
FROM drift d JOIN topc t ON t.s = d.s"""


def batch_assignment_drift(
    assigned: DataFrame, n_batches: int, n_cells: int
) -> DataFrame:
    """The st20 core over any pre-assigned corpus — factored so the
    streaming parity test can feed it streaming/ann_ingest.py's
    per-batch assignment segments and require the identical monitor
    rows as the batch-assembled corpus.

    ``assigned``: (vec_id, batch, cluster) with batch 0 = the base
    corpus the frozen quantizer was trained on, 1..n_batches = the
    arriving micro-batches.  Emits one row per batch (zero-arrival
    batches included) with the batch-LOCAL integer L1 occupancy
    drift vs base, the most-loaded cell, and the alarm bit."""
    spark = assigned.sparkSession
    batches = spark.range(1, n_batches + 1).select(
        F.col("id").cast("int").alias("s")
    )
    cells = spark.range(n_cells).select(F.col("id").cast("int").alias("cluster"))
    bh = (
        assigned.filter(F.col("batch") == 0)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    ah = (
        assigned.filter(F.col("batch") >= 1)
        .groupBy(F.col("batch").alias("s"), "cluster")
        .agg(F.count(F.lit(1)).alias("b"))
    )
    z = F.lit(0).cast("long")
    grid = batches.crossJoin(F.broadcast(cells))
    jd = (
        grid.join(bh, "cluster", "left")
        .join(ah, ["s", "cluster"], "left")
        .select(
            "s",
            "cluster",
            F.coalesce("a", z).alias("a"),
            F.coalesce("b", z).alias("b"),
        )
    )
    n1 = bh.agg(F.sum("a").cast("long").alias("n1"))
    tot = jd.groupBy("s").agg(F.sum("b").cast("long").alias("n2"))
    drift = (
        jd.join(tot, "s")
        .crossJoin(F.broadcast(n1))
        .groupBy("s", "n2", "n1")
        .agg(
            F.sum(
                F.abs(F.col("a") * F.col("n2") - F.col("b") * F.col("n1"))
            ).alias("drift_num")
        )
    )
    wt = Window.partitionBy("s").orderBy(F.col("b").desc(), F.col("cluster"))
    topc = (
        jd.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") == 1)
        .select("s", F.col("cluster").alias("top_cluster"), F.col("b").alias("top_b"))
    )
    dbl = "double"
    return (
        drift.join(topc, "s")
        .select(
            F.col("s").cast("long").alias("batch"),
            F.col("n2").alias("n_arrived"),
            F.col("drift_num").cast("long").alias("drift_num"),
            F.when(F.col("n2") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("drift_num").cast(dbl)
                    / (F.col("n1").cast(dbl) * F.col("n2").cast(dbl)),
                    6,
                )
            )
            .alias("l1_assign_drift"),
            F.when(F.col("n2") == 0, F.lit(None).cast("long"))
            .otherwise(F.col("top_cluster").cast("long"))
            .alias("top_cell"),
            F.when(F.col("n2") == 0, F.lit(None).cast(dbl))
            .otherwise(F.round(F.col("top_b").cast(dbl) / F.col("n2").cast(dbl), 6))
            .alias("top_share"),
            (
                (F.col("n2") > 0)
                & (F.lit(2) * F.col("drift_num") > F.col("n1") * F.col("n2"))
            ).alias("alarm"),
        )
    )


@register(
    "st20_stream_ann_drift",
    oracle=_st20_oracle(),
    description="ANN-INDEX STALENESS MONITORING AT INGEST (s19/c8's "
    "streaming twin, streaming/ann_ingest.py's "
    "stream_coarse_drift_monitor): the frozen PERSISTED coarse "
    "quantizer (sources/ann_index.py store, built on the base "
    "three-quarters and loaded — never an in-query or in-stream "
    "retrain) assigns each arriving micro-batch (s19's vec_id%4==3 "
    "quarter in 4 steps, each step = one batch) to cells; per batch "
    "— batch-LOCAL, the st19 difference from s19's cumulative gate — "
    "the cell-occupancy histogram vs the base corpus' histogram as "
    "integer cross-product L1 drift, the most-loaded cell + its "
    "share, and s19's drift threshold (> 1/2, integer "
    "cross-multiplied) batch-locally as the alarm. Per-vector cells "
    "depend only on the frozen store (st13 contract: "
    "union-of-batches == one-shot for any chopping, parity-tested "
    "against the real foreachBatch path). Per batch: one "
    "codegen-folded argmin projection + one (batch, cell)-bounded "
    "histogram shuffle; zero-arrival batches still emit rows",
)
def st20_stream_ann_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _IVF_K,
        _PQ_VQ_SPARK,
        _ivfpq_coarse_expr,
    )
    from dww_data_pipeline_spark.sources.ann_index import (
        build_coarse_store,
        load_coarse_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(_PQ_VQ_SPARK).alias("vq"),
        F.expr(
            "CASE WHEN vec_id % 4 = 3 "
            "THEN CAST((vec_id % 16) div 4 AS INT) + 1 ELSE 0 END"
        ).alias("batch"),
    )
    store = tempfile.mkdtemp(prefix="dww_coarse_st20_")
    try:
        build_coarse_store(
            q.filter(F.col("batch") == 0).select("vec_id", "vq"), store
        )
        ccents = load_coarse_centroids(spark, store)
        assigned = q.select(
            "vec_id",
            "batch",
            F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster"),
        )
        out = batch_assignment_drift(
            assigned, n_batches=_S19_STEPS, n_cells=_IVF_K
        )
        # 4 monitor rows; materialize before the store dir is removed
        return local_rows_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(store, ignore_errors=True)
