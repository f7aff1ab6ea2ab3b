"""Round-4d pipeline extensions — five operators rounding out the
analytics, governance, and retrieval tiers:

* ``ev7_market_basket`` — association-rule mining (support /
  confidence / lift) over per-order brand baskets, pairs generated
  IN PLACE from each basket's sorted distinct-brand array so the
  shuffle carries pair counts, never row pairs;
* ``dq13_k_anonymity`` — k-anonymity audit over quasi-identifier
  groups (the privacy-governance complement of
  ``ext_delete_propagate``);
* ``ev8_ewma_daily`` — exponentially-weighted daily activity in
  EXACT integer arithmetic (alpha = 1/2, 20-day horizon, power-of-two
  weights summed as BIGINT — no float accumulation-order hazard);
* ``t26_inverted_index`` — bounded posting-list construction for the
  top-df tokens (window-capped postings so no reducer ever
  materializes an unbounded list);
* ``ext_salted_join`` — the skew-defeating salted fact⋈dim join
  (operators/skew.py) proven bit-identical to the plain join.

Cross-engine determinism: integer or DECIMAL accumulation
everywhere; every double is a single correctly-rounded division of
exact integers. House conventions per plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.session import collect_under_cap, local_rows_df, persisted

from dww_data_pipeline_spark.plans.registry import register
from dww_data_pipeline_spark.plans.text_exprs import SQL_TOKS, spark_tokens
from dww_data_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# ev7_market_basket — association rules over order baskets.
#
# The scale shape: the only wide shuffle is distinct (order, brand) —
# after that each basket is a sorted array of at most |brands| (25)
# elements, pairs are generated INSIDE the row (flatten/transform, no
# self-join of the fact side), and the second shuffle carries
# (brand_a, brand_b) counts: at most 300 keys however large the fact
# table. The oracle reproduces the same counts with the textbook
# self-join formulation — different plan, identical relation.
# ---------------------------------------------------------------------------


@register(
    "ev7_market_basket",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets
    ), singles AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM baskets GROUP BY 1
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM baskets a
      JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           round(CAST(p.n_ab AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(p.n_ab AS DOUBLE) / sa.n_b, 6) AS confidence,
           round(CAST(p.n_ab * n.n_orders AS DOUBLE) / (sa.n_b * sb.n_b), 6)
             AS lift
    FROM pairs p
    CROSS JOIN n
    JOIN singles sa ON p.brand_a = sa.p_brand
    JOIN singles sb ON p.brand_b = sb.p_brand
    """,
    description="MARKET-BASKET ASSOCIATION RULES: support / confidence "
    "/ lift for brand pairs co-purchased within an order. Scale shape: "
    "ONE distinct (order, brand) shuffle, then pairs are generated "
    "in-place from each basket's sorted array (bounded by the 25-brand "
    "dimension, never a fact-side self-join) and the pair-count "
    "exchange carries at most |brands|^2/2 integer keys regardless of "
    "fact size. Confidence is reported for the a->b direction of each "
    "a<b pair; lift is symmetric. All ratios are single divisions of "
    "exact integers.",
)
def ev7_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    basket_arrays = baskets.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("bs")
    )
    # pairs (a, b) with a < b, generated from the sorted array in place
    pairs = basket_arrays.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, (x, i) -> "
                "transform(slice(bs, i + 2, size(bs)), y -> "
                "struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("brand_a"), F.col("p.b").alias("brand_b"))
    pair_counts = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )

    singles = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    n_orders = basket_arrays.agg(F.count(F.lit(1)).alias("n_orders"))

    out = (
        pair_counts.crossJoin(F.broadcast(n_orders))
        .join(
            F.broadcast(
                singles.select(
                    F.col("p_brand").alias("brand_a"), F.col("n_b").alias("n_a")
                )
            ),
            "brand_a",
        )
        .join(
            F.broadcast(
                singles.select(
                    F.col("p_brand").alias("brand_b"), F.col("n_b").alias("n_bb")
                )
            ),
            "brand_b",
        )
    )
    return out.select(
        "brand_a",
        "brand_b",
        "n_ab",
        F.round(F.col("n_ab").cast("double") / F.col("n_orders"), 6).alias("support"),
        F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias("confidence"),
        F.round(
            (F.col("n_ab") * F.col("n_orders")).cast("double")
            / (F.col("n_a") * F.col("n_bb")),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# dq13_k_anonymity — privacy-governance audit.
# ---------------------------------------------------------------------------

_K_ANON = 10  # groups smaller than this are re-identification risks


@register(
    "dq13_k_anonymity",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS k,
           COUNT(*) >= {_K_ANON} AS anonymous
    FROM customer
    GROUP BY 1, 2
    """,
    description="K-ANONYMITY AUDIT: group sizes over the "
    "quasi-identifier pair (nation, market segment) with the k>=10 "
    "gate per group — the re-identification-risk check a privacy "
    "review runs before releasing a derived dataset, and the "
    "measurement side of the GDPR tier next to ext_delete_propagate's "
    "enforcement side. One partial-agg shuffle of QI keys; at 100 TB "
    "the group count is bounded by the QI domain, not the row count.",
)
def dq13_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").cast("long").alias("c_nationkey"), "c_mktsegment"
        )
        .agg(F.count(F.lit(1)).alias("k"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            (F.col("k") >= _K_ANON).alias("anonymous"),
        )
    )


# ---------------------------------------------------------------------------
# ev8_ewma_daily — exact-integer exponentially-weighted daily activity.
#
# alpha = 1/2 makes every weight a power of two: the 20-day decayed
# sum  W(d) = sum_{lag=0..20} count(d - lag) * 2^(20 - lag)  is pure
# BIGINT arithmetic (no float accumulation order, no pow drift), and
# the normalized EWMA is ONE correctly-rounded division by the
# constant geometric total 2^21 - 1. The scale shape: raw events
# collapse to (type, day) partials first — the decay join then runs
# on the tiny aggregate (|types| x |days| rows), never on raw events.
# ---------------------------------------------------------------------------

_EWMA_HORIZON = 20  # days; weight 2^-(lag) truncated below 2^-20
_EWMA_NORM = (1 << (_EWMA_HORIZON + 1)) - 1  # sum of 2^0 .. 2^20


@register(
    "ev8_ewma_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, strftime(a.day, '%Y-%m-%d') AS day, a.n,
           CAST(SUM(b.n * (1::BIGINT << ({_EWMA_HORIZON}
                - date_diff('day', b.day, a.day)))) AS BIGINT) AS ewma_fp,
           round(CAST(SUM(b.n * (1::BIGINT << ({_EWMA_HORIZON}
                - date_diff('day', b.day, a.day)))) AS DOUBLE)
                / {_EWMA_NORM}, 6) AS ewma
    FROM daily a
    JOIN daily b
      ON a.event_type = b.event_type
     AND date_diff('day', b.day, a.day) BETWEEN 0 AND {_EWMA_HORIZON}
    GROUP BY 1, 2, 3
    """,
    description="EXACT-INTEGER EWMA of daily event volume (alpha=1/2, "
    "20-day horizon): power-of-two weights make the decayed sum pure "
    "BIGINT — no float accumulation-order hazard, no pow() drift — "
    "and the normalized EWMA is one division by the constant 2^21-1. "
    "Scale shape: raw events reduce to (type, day) partials in one "
    "map-side-combined shuffle; the decay self-join runs on that tiny "
    "aggregate (|types| x |days| rows) with a broadcast, so the fact "
    "table is scanned exactly once however large it grows. The "
    "trend-vs-today signal anomaly monitors (ev5) threshold against.",
)
def ev8_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.alias("a")
    b = daily.alias("b")
    lag = F.datediff(F.col("a.day"), F.col("b.day"))
    joined = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (lag >= 0)
        & (lag <= _EWMA_HORIZON),
    ).withColumn("_lag", lag)
    # shiftleft needs a literal bit count in the Python API — spell the
    # column-dependent shift in SQL
    w = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_EWMA_HORIZON} - _lag)")
    return (
        joined.groupBy(
            F.col("a.event_type").alias("event_type"),
            F.date_format(F.col("a.day"), "yyyy-MM-dd").alias("day"),
            F.col("a.n").alias("n"),
        )
        .agg(F.sum(F.col("b.n") * w).alias("ewma_fp"))
        .select(
            "event_type",
            "day",
            "n",
            "ewma_fp",
            F.round(F.col("ewma_fp").cast("double") / _EWMA_NORM, 6).alias("ewma"),
        )
    )


# ---------------------------------------------------------------------------
# t26_inverted_index — bounded posting-list construction.
# ---------------------------------------------------------------------------

_IDX_TOPK = 20  # tokens ranked by document frequency
_IDX_POSTINGS = 30  # posting-list cap per token


@register(
    "t26_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
    ), df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok
    ), top AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT {_IDX_TOPK}
    ), ranked AS (
      SELECT t.tok, p.df, t.doc_id,
             row_number() OVER (PARTITION BY t.tok ORDER BY t.doc_id) AS rn
      FROM toks t JOIN top p USING (tok)
    )
    SELECT tok, df,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), '|')
             AS postings
    FROM ranked
    WHERE rn <= {_IDX_POSTINGS}
    GROUP BY tok, df
    """,
    description="INVERTED-INDEX CONSTRUCTION (bounded): posting lists "
    "for the top-20 tokens by document frequency, capped at the first "
    "30 doc_ids per token BY WINDOW RANK BEFORE COLLECTION — no "
    "reducer ever materializes an unbounded list, which is what makes "
    "posting-list building safe on stop-word-frequency tokens at "
    "corpus scale (the full-index variant shards each token's "
    "postings by this same rank). One distinct (doc, token) shuffle; "
    "the df table is vocabulary-bounded; the top-k and cap joins are "
    "broadcasts. Retrieval-side complement of t18's BM25 scoring.",
)
def t26_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(spark_tokens(F.col("text"))).alias("tok")
    ).distinct()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.desc("df"), F.asc("tok")).limit(_IDX_TOPK)
    w = Window.partitionBy("tok").orderBy("doc_id")
    ranked = (
        toks.join(F.broadcast(top), "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IDX_POSTINGS)
    )
    return ranked.groupBy("tok", "df").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("postings")
    )


# ---------------------------------------------------------------------------
# ext_salted_join — skew-defeating join, result-identical to plain.
# ---------------------------------------------------------------------------


@register(
    "ext_salted_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS value_fp
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
    description="SALTED SKEW JOIN proven result-identical to the plain "
    "join: the fact side gets a deterministic 8-way salt (xxhash64 of "
    "the whole row), the dim side is exploded across all salt values, "
    "and the join key becomes (key, salt) — a hot fact key's rows "
    "spread over 8 reduce tasks instead of one straggler "
    "(operators/skew.py:salted_join_skewed_fact, the pattern for dims "
    "too big to broadcast under a skewed fact; AQE skew-split handles "
    "the sort-merge case, salting handles the hash-partitioned one). "
    "The oracle runs the plain join — identical relation is the "
    "correctness claim. Aggregation in fixed-point so no float "
    "accumulation order leaks through.",
)
def ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.skew import salted_join_skewed_fact

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join_skewed_fact(ev, dim, "user_id", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("value_fp"),
    )


# ---------------------------------------------------------------------------
# s10_pq_ann_topk — product-quantization ANN with asymmetric distance.
#
# PQ is the memory-side scale story the s-family was missing: IVF/LSH
# (s2/s4/s5/s7) prune WHICH vectors are scored; PQ compresses HOW
# each vector is stored — 64 dims collapse to M=8 one-byte codes, so
# a 100 TB float corpus becomes a ~1.5 TB code table that fits hot
# storage, and scoring is M table lookups per vector instead of a
# 64-dim dot product (Jegou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public method).
#
# Everything is the e7 exact-integer k-means discipline applied per
# 8-dim subspace (quantize floor((x+2)*1e6); init = 16 lowest
# vec_ids; one Lloyd iteration with round-half-up integer means;
# argmin ties to the lowest code), so codebooks, codes, and the
# asymmetric-distance top-k are bit-identical on both engines — a
# fully ORACLE-CHECKED approximate index, like e7/s4.
#
# Scale shape per pass: codebook training is ONE partial-agg shuffle
# of at most M*K*dim integer cells + one bounded driver collect
# (1024 ints — the IVF-quantizer pattern); encoding + ADC scoring is
# a single scan with codebooks and the per-query 8x16 lookup tables
# folded to plan-time literals (zero joins, whole-stage-codegen
# integer math); the only post-scan operator is the same per-query
# top-k window s1 uses.
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (8 x 8 = 64)
_PQ_K = 16  # codewords per subspace
_PQ_TOPK = 5
_PQ_QUERIES = (0, 1, 2)

_PQ_VQ_DUCK = (
    "list_transform(embedding, x -> "
    "CAST(floor((CAST(x AS DOUBLE) + 2) * 1000000) AS BIGINT))"
)
_PQ_VQ_SPARK = (
    "transform(embedding, x -> "
    "CAST(floor((CAST(x AS DOUBLE) + 2D) * 1000000D) AS BIGINT))"
)


def _pq_oracle() -> str:
    """Unroll per-subspace integer k-means + PQ encode + ADC top-k."""
    # every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    # this recurrence references each stage from 2+ consumers — inlined,
    # the plan tree grows exponentially in M and never finishes
    parts = [
        f"q AS MATERIALIZED (SELECT vec_id, {_PQ_VQ_DUCK} AS vq FROM embeddings)",
        f"""init AS MATERIALIZED (
  SELECT vq, row_number() OVER (ORDER BY vec_id) - 1 AS j
  FROM (SELECT vec_id, vq FROM q ORDER BY vec_id LIMIT {_PQ_K}))""",
        "qv AS MATERIALIZED (SELECT vec_id AS query_id, vq FROM q "
        f"WHERE vec_id IN {_PQ_QUERIES})",
    ]
    for m in range(_PQ_M):
        off = m * _PQ_SUB
        d2 = " + ".join(
            f"(q.vq[{off + i + 1}] - c.cv[{i + 1}]) * "
            f"(q.vq[{off + i + 1}] - c.cv[{i + 1}])"
            for i in range(_PQ_SUB)
        )
        sums = ", ".join(
            f"SUM(q.vq[{off + i + 1}]) AS s{i}" for i in range(_PQ_SUB)
        )
        upd = ", ".join(
            f"(2 * s.s{i} + s.n) // (2 * s.n)" for i in range(_PQ_SUB)
        )
        qd2 = " + ".join(
            f"(qv.vq[{off + i + 1}] - c.cv[{i + 1}]) * "
            f"(qv.vq[{off + i + 1}] - c.cv[{i + 1}])"
            for i in range(_PQ_SUB)
        )
        parts += [
            f"c0_{m} AS MATERIALIZED (SELECT j, list_slice(vq, {off + 1}, {off + _PQ_SUB}) "
            "AS cv FROM init)",
            f"""a_{m} AS MATERIALIZED (
  SELECT vec_id, code FROM (
    SELECT q.vec_id, c.j AS code,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d2}, c.j) AS rn
    FROM q CROSS JOIN c0_{m} c
  ) WHERE rn = 1)""",
            f"""s_{m} AS MATERIALIZED (
  SELECT a.code, CAST(COUNT(*) AS BIGINT) AS n, {sums}
  FROM a_{m} a JOIN q ON q.vec_id = a.vec_id GROUP BY a.code)""",
            f"""c1_{m} AS MATERIALIZED (
  SELECT p.j, CASE WHEN s.code IS NULL THEN p.cv
                   ELSE list_value({upd}) END AS cv
  FROM c0_{m} p LEFT JOIN s_{m} s ON s.code = p.j)""",
            f"""f_{m} AS MATERIALIZED (
  SELECT vec_id, code FROM (
    SELECT q.vec_id, c.j AS code,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d2.replace('c0_', 'c1_')}, c.j) AS rn
    FROM q CROSS JOIN c1_{m} c
  ) WHERE rn = 1)""",
            f"""dt_{m} AS MATERIALIZED (
  SELECT qv.query_id, c.j, CAST({qd2} AS BIGINT) AS d
  FROM qv CROSS JOIN c1_{m} c)""",
        ]
    code_cols = ", ".join(f"f_{m}.code AS code{m}" for m in range(_PQ_M))
    f_joins = " ".join(
        f"JOIN f_{m} ON f_{m}.vec_id = f_0.vec_id" for m in range(1, _PQ_M)
    )
    dt_joins = " ".join(
        f"JOIN dt_{m} ON dt_{m}.j = f.code{m} "
        f"AND dt_{m}.query_id = dt_0.query_id"
        for m in range(1, _PQ_M)
    )
    dsum = " + ".join(f"dt_{m}.d" for m in range(_PQ_M))
    parts += [
        f"f_all AS MATERIALIZED (SELECT f_0.vec_id, {code_cols} FROM f_0 {f_joins})",
        f"""appr AS MATERIALIZED (
  SELECT dt_0.query_id, f.vec_id, CAST({dsum} AS BIGINT) AS approx_d2
  FROM f_all f
  JOIN dt_0 ON dt_0.j = f.code0
  {dt_joins})""",
    ]
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT query_id, vec_id, approx_d2, rank FROM (
  SELECT query_id, vec_id, approx_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, vec_id) AS rank
  FROM appr
) WHERE rank <= {_PQ_TOPK}"""


def _code_expr(book: list[list[int]], off: int, n: int, vec: str) -> str:
    """Spark SQL: argmin codeword index over ``vec[off:off+n]`` with
    the codebook folded to an array-of-arrays literal and the
    distance computed by aggregate(zip_with(...)) LOOPS rather than
    an unrolled sum. Measured: the unrolled form exceeds the
    whole-stage-codegen method limit (compile fails, interpreted
    fallback) and runs 4x slower — 2.25 s vs 0.53 s for the 8-way
    encode at sf0.1; results are identical."""
    cb = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(c)}L" for c in cw) + ")" for cw in book
        )
        + ")"
    )
    return (
        f"array_min(transform({cb}, (cw, j) -> named_struct("
        f"'d', aggregate(zip_with(slice({vec}, {off + 1}, {n}), cw, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), "
        f"'j', j))).j"
    )


def _pq_code_expr(book: list[list[int]], off: int) -> str:
    return _code_expr(book, off, _PQ_SUB, "vq")


@register(
    "s10_pq_ann_topk",
    oracle=_pq_oracle(),
    description="PRODUCT-QUANTIZATION ANN (Jegou et al. 2011): 64-dim "
    "vectors compress to 8 one-byte codes via per-subspace "
    "exact-integer k-means (the e7 discipline: floor-quantize, init = "
    "16 lowest vec_ids, one Lloyd iteration with round-half-up "
    "integer means, ties to lowest code), and queries rank the WHOLE "
    "corpus by asymmetric distance — 8 literal-table lookups per "
    "vector instead of a 64-dim dot product. The memory-side ANN "
    "scale story (a 100 TB float corpus becomes a ~1.5 TB code "
    "table) complementing the pruning-side s2/s4/s5/s7; codebook "
    "training is one M*K*dim partial-agg shuffle + a 1024-int driver "
    "collect, scoring is a single literal-folded scan + the s1 "
    "per-query top-k window. Fully oracle-checked, like e7/s4.",
)
def s10_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    vq = e.select("vec_id", F.expr(_PQ_VQ_SPARK).alias("vq"))
    with persisted(vq):
        init = vq.orderBy("vec_id").limit(_PQ_K).collect()
        books = [
            [list(r["vq"])[m * _PQ_SUB : (m + 1) * _PQ_SUB] for r in init]
            for m in range(_PQ_M)
        ]

        # one Lloyd iteration per subspace — all subspaces share ONE
        # assignment scan and ONE partial-agg shuffle
        assigned = vq.select(
            "vq",
            *[
                F.expr(_pq_code_expr(books[m], m * _PQ_SUB)).alias(f"c{m}")
                for m in range(_PQ_M)
            ],
        )
        sums = (
            assigned.select(
                F.posexplode("vq").alias("pos", "val"),
                *[F.col(f"c{m}") for m in range(_PQ_M)],
            )
            .withColumn("m", (F.col("pos") / _PQ_SUB).cast("int"))
            .withColumn(
                "code",
                F.element_at(
                    F.array(*[F.col(f"c{m}") for m in range(_PQ_M)]),
                    F.col("m") + 1,
                ),
            )
            .groupBy("m", "code", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: M * K * sub = 1024 integer rows
        )
        for r in sums:
            s, n = int(r["s"]), int(r["n"])
            books[r["m"]][r["code"]][r["pos"] - r["m"] * _PQ_SUB] = (
                2 * s + n
            ) // (2 * n)

        # asymmetric-distance tables per query, folded to literals
        qrows = _query_rows(vq)
        final = vq.select(
            "vec_id",
            *[
                F.expr(_pq_code_expr(books[m], m * _PQ_SUB)).alias(f"c{m}")
                for m in range(_PQ_M)
            ],
        )
        per_query = []
        for qid in _PQ_QUERIES:
            qv = qrows[qid]
            dist = None
            for m in range(_PQ_M):
                table = [
                    sum(
                        (qv[m * _PQ_SUB + i] - cw[i]) ** 2
                        for i in range(_PQ_SUB)
                    )
                    for cw in books[m]
                ]
                term = F.element_at(
                    F.array(*[F.lit(int(d)) for d in table]),
                    F.col(f"c{m}") + 1,
                )
                dist = term if dist is None else dist + term
            per_query.append(
                F.struct(
                    F.lit(qid).cast("long").alias("query_id"),
                    dist.cast("long").alias("approx_d2"),
                )
            )
        stacked = final.select(
            "vec_id", F.explode(F.array(*per_query)).alias("s")
        ).select("s.query_id", "vec_id", "s.approx_d2")
        w = Window.partitionBy("query_id").orderBy("approx_d2", "vec_id")
        return (
            stacked.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= _PQ_TOPK)
            .select("query_id", "vec_id", "approx_d2", "rank")
        )


# ---------------------------------------------------------------------------
# pr5_local_clustering — per-node clustering coefficient.
#
# Same strong-tie graph + degree-ordered wedge enumeration as pr4
# (shared helper / shared SQL prefix), but each triangle credits all
# THREE corners, and the coefficient lcc = 2*tri / (deg*(deg-1)) is
# the node-local density a fraud/cohesion analysis thresholds on.
# The only addition over the pr4 plan is a 3-way projection of the
# (tiny) triangle list + one node-keyed count — the fact table is
# still touched exactly once, inside the shared edge derivation.
# ---------------------------------------------------------------------------


@register(
    "pr5_local_clustering",
    oracle=None,  # assigned below — shares pipeline_ext._STRONG_GRAPH_SQL
    description="LOCAL CLUSTERING COEFFICIENT per node over the "
    "strong-tie co-supplier graph: triangles are enumerated once via "
    "the pr4 degree-ordered wedge join, then credited to all three "
    "corners; lcc = 2*tri/(deg*(deg-1)) with the division as the "
    "single double op. Scale shape identical to pr4 (the fact table "
    "is scanned once inside the shared localCheckpoint-ed edge "
    "derivation; triangle credits shuffle 1 integer per corner). "
    "The node-local density metric next to pr4's global census.",
)
def pr5_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.pipeline_ext import strong_tie_graph

    pairs, deg, oriented = strong_tie_graph(spark, sf_dir)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    tris = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    credits = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(credits, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    (2 * F.coalesce("n_tri", F.lit(0))).cast("double")
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def _pr5_attach_oracle() -> None:
    """pr5's oracle shares pr4's graph CTEs (single source of truth)."""
    from dww_data_pipeline_spark.plans.pipeline_ext import _STRONG_GRAPH_SQL
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    q = REGISTRY["pr5_local_clustering"]
    oracle = f"""
    WITH {_STRONG_GRAPH_SQL}, tris AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ), credits AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    )
    SELECT d.node, d.deg,
           CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.deg >= 2
                THEN round(CAST(2 * COALESCE(c.n_tri, 0) AS DOUBLE)
                           / (d.deg * (d.deg - 1)), 6)
                ELSE 0.0 END AS lcc
    FROM deg d LEFT JOIN credits c ON c.node = d.node
    """
    REGISTRY["pr5_local_clustering"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


_pr5_attach_oracle()


# ---------------------------------------------------------------------------
# m7_shot_boundaries — video shot-boundary detection with REAL pixels.
#
# The temporal-segmentation leg of the multimodal tier: a training
# pipeline samples ONE representative frame per shot rather than
# every frame, and the shot cut decision is exactly this operator —
# perceptual-hash distance between consecutive frames above a
# threshold. Videos are synthesized with a planted shot structure
# (frame seeds d, d, d+1, d+1, d+9: two cuts), frames are split and
# decoded by the pure-NumPy codec, each frame reduces to the m5
# integer aHash, and the cut test is bit_count(xor) >= 1 over a LAG
# window per video.
#
# The oracle re-derives every frame's aHash from the pixel-generator
# arithmetic alone (the m1/m3/m5 discipline — DuckDB never parses an
# image), so the differential covers synthesis, the self-delimiting
# frame split, decode, the aHash math, and the windowed cut logic.
#
# Scale shape: payload bytes cross into Python once (Arrow batches);
# after that only (video, frame_idx, 8-byte hash) rows exist; the
# boundary test is a per-video LAG — partitioned window, no global
# sort. 4-bit hashes here (2x2 frames); production 8x8 frames give
# the classic 64-bit aHash with identical plumbing.
# ---------------------------------------------------------------------------

_M7_OFFS = (0, 0, 1, 1, 9)  # frame seeds: shots {0,1} {2,3} {4}


def _m7_ahash_sql(seed: str) -> str:
    """DuckDB integer aHash of the 2x2 P3 image generated from
    ``seed`` (pixel i = (seed*(3i+7)+i) % 256) — m5's generator
    arithmetic parameterized over the seed expression."""
    grays = []
    for p in range(4):
        chans = " + ".join(
            f"((({seed}) * {3 * (3 * p + c) + 7} + {3 * p + c}) % 256)"
            for c in range(3)
        )
        grays.append(f"({chans})")
    tot = " + ".join(grays)
    bits = " + ".join(
        f"(CASE WHEN 4 * {grays[p]} > ({tot}) THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    return f"CAST({bits} AS BIGINT)"


def _m7_oracle() -> str:
    frames = ", ".join(f"({i}, {off})" for i, off in enumerate(_M7_OFFS))
    return f"""
    WITH h AS (
      SELECT doc_id AS video_id, f.idx AS frame_index,
             {_m7_ahash_sql('doc_id + f.off')} AS ahash
      FROM documents CROSS JOIN (VALUES {frames}) AS f(idx, off)
      WHERE doc_id < 300
    )
    SELECT video_id, frame_index, ahash,
           CAST(COALESCE(bit_count(
             xor(ahash, lag(ahash) OVER (PARTITION BY video_id
                                         ORDER BY frame_index))
           ), -1) AS BIGINT) AS ham_prev,
           COALESCE(bit_count(
             xor(ahash, lag(ahash) OVER (PARTITION BY video_id
                                         ORDER BY frame_index))
           ) >= 1, FALSE) AS is_cut
    FROM h
    """


@register(
    "m7_shot_boundaries",
    oracle=_m7_oracle(),
    description="VIDEO SHOT-BOUNDARY DETECTION with REAL pixels, "
    "ORACLE-CHECKED: concatenated-PPM videos with a planted shot "
    "structure (seeds d,d,d+1,d+1,d+9) are frame-split and decoded "
    "by the pure-NumPy codec inside Arrow-batched mapInPandas, each "
    "frame reduces to the m5 integer aHash, and a cut fires when "
    "bit_count(xor(hash, lag(hash))) >= 1 over the per-video LAG "
    "window. The oracle re-derives every hash from the pixel "
    "generator without parsing images, covering synthesis, split "
    "boundaries, decode, hash math and window logic end to end — "
    "the decide-which-frames-to-keep pass a video training pipeline "
    "runs before captioning (north-star multimodal)",
)
def m7_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dww_data_pipeline_spark.operators.documents import (
        image_ahash,
        sample_frames,
    )
    from dww_data_pipeline_spark.plans.streaming_plans import _p3_image_expr

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    videos = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.concat(
            *[_p3_image_expr(F.col("doc_id") + off) for off in _M7_OFFS]
        ).alias("payload"),
        F.lit("video/x-ppm-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(len(_M7_OFFS) * 1000).cast("long").alias("duration_ms"),
    )
    frames = sample_frames(videos, every_ms=1000, max_frames=len(_M7_OFFS))
    fr_media = frames.select(
        F.col("media_id").alias("video_id"),
        "frame_index",
        F.col("media_id").alias("media_id"),
        "payload",
    )
    hashed = image_ahash(
        fr_media.select(
            (F.col("video_id") * 1000 + F.col("frame_index")).alias("media_id"),
            "payload",
        )
    ).select(
        (F.col("media_id") / 1000).cast("long").alias("video_id"),
        F.pmod(F.col("media_id"), F.lit(1000)).cast("long").alias("frame_index"),
        "ahash",
    )
    w = Window.partitionBy("video_id").orderBy("frame_index")
    ham = F.bit_count(
        F.col("ahash").bitwiseXOR(F.lag("ahash").over(w))
    ).cast("long")
    return hashed.select(
        "video_id",
        "frame_index",
        "ahash",
        F.coalesce(ham, F.lit(-1)).alias("ham_prev"),
        F.coalesce(ham >= 1, F.lit(False)).alias("is_cut"),
    )


# ---------------------------------------------------------------------------
# ev9_rfm_segments — recency / frequency / monetary segmentation.
#
# Scoring uses FIXED business bands, not in-corpus quantiles, on
# purpose: band scoring is one scan + one customer-keyed partial agg
# with zero global windows (corpus-quantile scoring needs a total
# order — t17 / ext_percentiles cover that pattern), and fixed bands
# are how production RFM stays comparable across refreshes. Monetary
# is accumulated in integer cents so no float summation order leaks.
# ---------------------------------------------------------------------------


def _band_sql(col: str, bands: list[tuple[int, int]], default: int) -> str:
    """CASE over descending (threshold, score) bands: >= thr -> score."""
    cases = " ".join(f"WHEN {col} >= {t} THEN {s}" for t, s in bands)
    return f"(CASE {cases} ELSE {default} END)"


_RFM_R = [(731, 1), (366, 2), (181, 3), (61, 4)]  # recency: larger = worse
_RFM_F = [(15, 5), (10, 4), (6, 3), (3, 2)]
_RFM_M = [(400_000_000, 5), (250_000_000, 4), (150_000_000, 3), (50_000_000, 2)]


@register(
    "ev9_rfm_segments",
    oracle=f"""
    WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate), mx.maxd) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_fp
      FROM orders CROSS JOIN mx
      GROUP BY o_custkey, mx.maxd
    )
    SELECT o_custkey,
           recency_days, frequency, monetary_fp,
           CAST({_band_sql('recency_days', _RFM_R, 5)} AS BIGINT) AS r_score,
           CAST({_band_sql('frequency', _RFM_F, 1)} AS BIGINT) AS f_score,
           CAST({_band_sql('monetary_fp', _RFM_M, 1)} AS BIGINT) AS m_score,
           CAST({_band_sql('recency_days', _RFM_R, 5)} AS VARCHAR)
             || CAST({_band_sql('frequency', _RFM_F, 1)} AS VARCHAR)
             || CAST({_band_sql('monetary_fp', _RFM_M, 1)} AS VARCHAR)
             AS segment
    FROM base
    """,
    description="RFM CUSTOMER SEGMENTATION: per-customer recency (days "
    "since last order vs corpus max date), frequency (order count) and "
    "monetary (integer-cents total) scored into fixed 1-5 bands and a "
    "3-digit segment label. Fixed bands, not in-corpus quantiles, BY "
    "DESIGN: one scan + one customer-keyed partial agg, zero global "
    "windows (the quantile flavor needs a total order — t17 / "
    "ext_percentiles own that pattern), and band definitions stay "
    "comparable across refreshes. The max-date anchor is a 1-row "
    "in-plan broadcast.",
)
def ev9_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_fp"
            ),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("maxd"), F.col("lastd")).cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_fp",
        )
    )

    # CASE evaluates top-down on the FIRST match; the SQL bands are
    # listed highest-threshold-first, so build the WHEN chain from the
    # lowest threshold outward to preserve that order
    def band_expr(col: str, bands: list[tuple[int, int]], default: int):
        out = F.lit(default)
        for t, s in reversed(bands):
            out = F.when(F.col(col) >= t, F.lit(s)).otherwise(out)
        return out

    r_s = band_expr("recency_days", _RFM_R, 5).cast("long")
    f_s = band_expr("frequency", _RFM_F, 1).cast("long")
    m_s = band_expr("monetary_fp", _RFM_M, 1).cast("long")
    return base.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_fp",
        r_s.alias("r_score"),
        f_s.alias("f_score"),
        m_s.alias("m_score"),
        F.concat(
            r_s.cast("string"), f_s.cast("string"), m_s.cast("string")
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# ev10_gap_filled_daily — calendar densification.
# ---------------------------------------------------------------------------


@register(
    "ev10_gap_filled_daily",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events
    ), cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, strftime(c.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n
    FROM cal c
    CROSS JOIN types t
    LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = c.day
    """,
    description="CALENDAR GAP-FILL: the (event_type x day) grid from "
    "corpus min to max day with zero-filled missing days — the "
    "densification every time-series consumer (ev5 z-scores, ev8 "
    "EWMA, seasonality fits) needs before treating day offsets as "
    "array indexes. Scale shape: raw events reduce to daily partials "
    "first; the calendar is generated IN-PLAN from a 1-row bounds agg "
    "(sequence + explode, no driver round-trip) and the fill join "
    "runs on the tiny (types x days) grid, never on raw events.",
)
def ev10_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        cal.crossJoin(F.broadcast(types))
        .join(F.broadcast(daily), ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# c1_curation_pipeline — the one-call end-to-end curation flow.
#
# What a corpus owner actually runs: every document gets a final
# disposition in ONE query — 'filtered' (failed the t13 quality/
# repetition/rarity gate), 'duplicate' (passed, but another surviving
# document with identical text has the lower id), or 'kept' (with
# its deterministic training-shard assignment, t21 arithmetic). The
# stages are the already-verified building blocks COMPOSED, and the
# oracle composes the same blocks (t13's registered oracle embedded
# as a CTE — the s8-over-s6 precedent), so the differential check
# covers the composition, not just the parts.
#
# Scale shape: the gate is t13's (one token-model shuffle + one
# scan); dedup among survivors shuffles 16-byte text fingerprints,
# never text (d1 discipline); shard assignment is pure hash
# arithmetic; the final disposition join is doc-keyed. Nothing here
# exceeds the scale envelope of its verified components.
# ---------------------------------------------------------------------------


def _c1_attach_oracle() -> None:
    # text_plans loads after this module in registry._load_all — import
    # it explicitly so t13's oracle exists before we embed it
    from dww_data_pipeline_spark.plans import text_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.dedup_plans import _D20_K, _d20_stages
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    t13 = REGISTRY["t13_corpus_filter_decision"].oracle
    q = REGISTRY["c1_curation_pipeline"]
    oracle = f"""
    WITH gate AS MATERIALIZED ({t13}),
    surv AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN gate g ON g.doc_id = d.doc_id
      WHERE g.keep
    ),
    dedup AS MATERIALIZED (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
      FROM surv
    ),
    keptdocs AS MATERIALIZED (
      SELECT s.doc_id, s.text
      FROM surv s JOIN dedup dd ON dd.doc_id = s.doc_id
      WHERE dd.is_keeper
    ),
    {_d20_stages(src="keptdocs")},
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_D20_K - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    sp AS (
      SELECT doc_id, list([s, e]) AS spans FROM spans GROUP BY doc_id
    ),
    scrub AS MATERIALIZED (
      SELECT b.doc_id, b.toks, s.spans,
             CASE WHEN s.spans IS NULL THEN b.toks
                  ELSE list_filter(b.toks, (x, i) ->
                         len(list_filter(s.spans,
                             sp2 -> i >= sp2[1] AND i <= sp2[2])) = 0)
             END AS kept
      FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM keptdocs) b
      LEFT JOIN sp s USING (doc_id)
    )
    SELECT d.doc_id,
           CASE WHEN NOT g.keep THEN 'filtered'
                WHEN NOT dd.is_keeper THEN 'duplicate'
                ELSE 'kept' END AS status,
           CAST(CASE WHEN g.keep AND dd.is_keeper
                     THEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) % 16
                     ELSE -1 END AS BIGINT) AS shard,
           CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(sc.toks) - len(sc.kept), 0) AS BIGINT)
             AS n_removed,
           CAST(COALESCE(len(sc.spans), 0) AS BIGINT) AS n_spans,
           CASE WHEN g.keep AND dd.is_keeper
                THEN COALESCE(array_to_string(sc.kept, ' '), '')
                ELSE '' END AS scrubbed_text
    FROM documents d
    JOIN gate g ON g.doc_id = d.doc_id
    LEFT JOIN dedup dd ON dd.doc_id = d.doc_id
    LEFT JOIN scrub sc ON sc.doc_id = d.doc_id
    """
    REGISTRY["c1_curation_pipeline"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "c1_curation_pipeline",
    oracle=None,  # attached below — embeds t13's registered oracle
    description="END-TO-END CURATION in one call, detection through "
    "REWRITE: every document gets its final disposition — 'filtered' "
    "(t13 quality/repetition/rarity gate), 'duplicate' (identical-"
    "text survivor with a lower id exists; d1 fingerprint discipline, "
    "text never shuffles), or 'kept' with its deterministic t21 shard "
    "assignment — and every kept document additionally gets d25's "
    "duplicated-span scrub, run over the KEPT corpus: original/"
    "removed token counts and span count as exact integers plus the "
    "scrubbed training text, so the one call emits the surviving "
    "corpus and its per-stage audit (sum n_tokens = corpus tokens; "
    "sum n_tokens - n_removed over kept = surviving tokens). The "
    "stages are the already-verified operators COMPOSED (t13, d1, "
    "t21, d20/d25), and the oracle embeds t13's registered SQL plus "
    "d20's span stages scoped to the kept corpus, so the "
    "differential check verifies the composition itself.",
)
def c1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.dedup_plans import span_scrub

    return _curation_pipeline(spark, sf_dir, span_scrub)


def _curation_pipeline(spark: SparkSession, sf_dir: str, scrub_fn) -> DataFrame:
    """The shared c1/c4 flow: t13 gate -> d1 fingerprint dedup -> t21
    shards, with the kept-corpus rewrite stage pluggable — c1 ships
    d25's K-gram span scrub, c4 the published ExactSubstr (d27)."""
    from pyspark.sql import Window

    from dww_data_pipeline_spark.plans.text_plans import (
        t13_corpus_filter_decision,
    )

    gate = t13_corpus_filter_decision(spark, sf_dir).select("doc_id", "keep")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = d.join(gate, "doc_id")
    surv = j.filter(F.col("keep")).select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    dedup = surv.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )
    # detection -> rewrite: d25's scrub over the KEPT corpus only
    # (spans duplicated among surviving docs are what a training run
    # would otherwise ingest twice); doc_id-keyed joins throughout
    kept = (
        j.filter(F.col("keep"))
        .join(dedup, "doc_id")
        .filter(F.col("is_keeper"))
        .select("doc_id", "text")
    )
    scrub = scrub_fn(kept).select(
        "doc_id", "n_removed", "n_spans", "scrubbed_text"
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    return (
        j.join(dedup, "doc_id", "left")
        .join(scrub, "doc_id", "left")
        .select(
            "doc_id",
            F.when(~F.col("keep"), F.lit("filtered"))
            .when(~F.col("is_keeper"), F.lit("duplicate"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(
                F.col("keep") & F.col("is_keeper"), shard
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("shard"),
            F.size(spark_tokens(F.col("text"))).cast("long").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.when(
                F.col("keep") & F.col("is_keeper"),
                F.coalesce("scrubbed_text", F.lit("")),
            )
            .otherwise(F.lit(""))
            .alias("scrubbed_text"),
        )
    )


_c1_attach_oracle()


# ---------------------------------------------------------------------------
# c4_curation_exactsubstr — c1 with the PUBLISHED rewrite stage.
#
# c1's scrub is d25's K-gram approximation (duplicated K-grams,
# cross-doc only); the published curation pipeline (Lee et al.
# 2107.06499) ships ExactSubstr — keep ONE occurrence of every
# duplicated >= L-token substring, within- or cross-doc.  c4 is the
# identical gate -> dedup -> shard flow with the rewrite stage being
# d27's suffix-rank scrub SCOPED TO THE KEPT CORPUS (spans are
# detected among surviving documents — what a training run would
# actually ingest twice), emitting the same audit integers, so the
# two flows differ ONLY in the scrub semantics and a corpus owner can
# diff them span-by-span.
#
# Scale shape: c1's gate/dedup/shard stages unchanged; the rewrite is
# d27's (suffix ranks by prefix doubling over the kept corpus — no
# new corpus-scale term beyond d26's two super-rounds).  The oracle
# embeds t13's registered SQL and d27's full scrub chain scoped to
# the keptdocs CTE (the c1 embedding discipline), so the differential
# check covers the composition.
# ---------------------------------------------------------------------------


def _c4_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import text_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.dedup_plans import _d27_scrub_stages
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    t13 = REGISTRY["t13_corpus_filter_decision"].oracle
    q = REGISTRY["c4_curation_exactsubstr"]
    oracle = f"""
    WITH gate AS MATERIALIZED ({t13}),
    surv AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN gate g ON g.doc_id = d.doc_id
      WHERE g.keep
    ),
    dedup AS MATERIALIZED (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
      FROM surv
    ),
    keptdocs AS MATERIALIZED (
      SELECT s.doc_id, s.text
      FROM surv s JOIN dedup dd ON dd.doc_id = s.doc_id
      WHERE dd.is_keeper
    ),
    {_d27_scrub_stages(src="keptdocs")}
    SELECT d.doc_id,
           CASE WHEN NOT g.keep THEN 'filtered'
                WHEN NOT dd.is_keeper THEN 'duplicate'
                ELSE 'kept' END AS status,
           CAST(CASE WHEN g.keep AND dd.is_keeper
                     THEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) % 16
                     ELSE -1 END AS BIGINT) AS shard,
           CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(sc.toks) - len(sc.kept), 0) AS BIGINT)
             AS n_removed,
           CAST(COALESCE(len(sc.spans), 0) AS BIGINT) AS n_spans,
           CASE WHEN g.keep AND dd.is_keeper
                THEN COALESCE(array_to_string(sc.kept, ' '), '')
                ELSE '' END AS scrubbed_text
    FROM documents d
    JOIN gate g ON g.doc_id = d.doc_id
    LEFT JOIN dedup dd ON dd.doc_id = d.doc_id
    LEFT JOIN scrub sc ON sc.doc_id = d.doc_id
    """
    REGISTRY["c4_curation_exactsubstr"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "c4_curation_exactsubstr",
    oracle=None,  # attached below — embeds t13's oracle + d27's stages
    description="END-TO-END CURATION with the PUBLISHED rewrite (Lee "
    "et al. ExactSubstr): c1's gate -> fingerprint dedup -> shard "
    "flow unchanged, but every kept document is scrubbed by d27's "
    "suffix-rank keep-one-occurrence rewrite run over the KEPT "
    "corpus — duplicated >= 50-token substrings (within- or "
    "cross-doc, the paper's definition) survive exactly once, with "
    "the same exact audit integers as c1, so the K-gram and "
    "published scrubs diff span-by-span. Oracle embeds t13's "
    "registered SQL plus d27's full scrub chain scoped to the "
    "keptdocs CTE — the differential check covers the composition.",
)
def c4_curation_exactsubstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.dedup_plans import exactsubstr_scrub

    return _curation_pipeline(spark, sf_dir, exactsubstr_scrub)


_c4_attach_oracle()


# ---------------------------------------------------------------------------
# c5_curation_quality_stack — the STACKED quality gate the published
# web-corpus pipelines ship (FineWeb / RefinedWeb / MassiveText
# ordering): heuristic quality gate (t13), THEN the Gopher repetition
# rule set (t37), THEN exact dedup among the survivors — each document
# gets the FIRST stage that rejected it as its disposition, so the
# output is simultaneously the surviving corpus manifest and the
# per-stage attrition audit (the published pipelines report exactly
# this funnel).  c1/c4 end detection->rewrite; c5 is the gate-stack
# complement: which rule kills how much, before any rewrite runs.
#
# Scale shape: t13's stages (one token-model shuffle + one scan) plus
# t37's (ZERO shuffle, per-row signals) plus d1's fingerprint dedup
# (16-byte keys, text never shuffles) and the t21 shard arithmetic —
# the composition adds doc_id-keyed joins only, no new corpus-scale
# term.  The oracle embeds t13's AND t37's registered SQL as CTEs
# (the c1 embedding discipline), so the differential check covers the
# composition itself.
# ---------------------------------------------------------------------------


def _c5_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import text_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    t13 = REGISTRY["t13_corpus_filter_decision"].oracle
    t37 = REGISTRY["t37_gopher_repetition"].oracle
    q = REGISTRY["c5_curation_quality_stack"]
    oracle = f"""
    WITH gate1 AS MATERIALIZED ({t13}),
    gate2 AS MATERIALIZED ({t37}),
    surv AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN gate1 g1 ON g1.doc_id = d.doc_id
      JOIN gate2 g2 ON g2.doc_id = d.doc_id
      WHERE g1.keep AND g2.keep = 1
    ),
    dedup AS MATERIALIZED (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
      FROM surv
    )
    SELECT d.doc_id,
           CASE WHEN NOT g1.keep THEN 'filtered_quality'
                WHEN g2.keep = 0 THEN 'filtered_repetition'
                WHEN NOT dd.is_keeper THEN 'duplicate'
                ELSE 'kept' END AS status,
           CAST(CASE WHEN g1.keep AND g2.keep = 1 AND dd.is_keeper
                     THEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) % 16
                     ELSE -1 END AS BIGINT) AS shard,
           CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens
    FROM documents d
    JOIN gate1 g1 ON g1.doc_id = d.doc_id
    JOIN gate2 g2 ON g2.doc_id = d.doc_id
    LEFT JOIN dedup dd ON dd.doc_id = d.doc_id
    """
    REGISTRY["c5_curation_quality_stack"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "c5_curation_quality_stack",
    oracle=None,  # attached below — embeds t13's AND t37's oracles
    description="STACKED QUALITY-GATE CURATION (the FineWeb/RefinedWeb/"
    "MassiveText funnel): heuristic gate (t13) -> Gopher repetition "
    "rule set (t37) -> exact dedup among survivors -> t21 shard; every "
    "document is labeled by the FIRST stage that rejected it "
    "('filtered_quality' / 'filtered_repetition' / 'duplicate' / "
    "'kept'), so one call emits the surviving manifest AND the "
    "per-stage attrition funnel the published pipelines report. "
    "Composition adds doc_id-keyed joins only: t13's one small "
    "shuffle, t37's zero, 16-byte fingerprint dedup; the oracle "
    "embeds both gates' registered SQL (c1 discipline) so the "
    "differential check covers the composition.",
)
def c5_curation_quality_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dww_data_pipeline_spark.plans.text_plans import (
        gopher_repetition,
        t13_corpus_filter_decision,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g1 = t13_corpus_filter_decision(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep1")
    )
    g2 = gopher_repetition(d).select(
        "doc_id", (F.col("keep") == 1).alias("keep2")
    )
    j = d.join(g1, "doc_id").join(g2, "doc_id")
    surv = j.filter(F.col("keep1") & F.col("keep2")).select(
        "doc_id", F.md5("text").alias("fp")
    )
    w = Window.partitionBy("fp")
    dedup = surv.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    return j.join(dedup, "doc_id", "left").select(
        "doc_id",
        F.when(~F.col("keep1"), F.lit("filtered_quality"))
        .when(~F.col("keep2"), F.lit("filtered_repetition"))
        .when(~F.col("is_keeper"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.when(F.col("keep1") & F.col("keep2") & F.col("is_keeper"), shard)
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("shard"),
        F.size(spark_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )


_c5_attach_oracle()


# ---------------------------------------------------------------------------
# s11_ivfpq_topk — IVF + PQ (IVFADC): the canonical billion-scale ANN.
#
# The two scale levers COMPOSED (Jegou et al. 2011, the layout behind
# faiss's IVFxx,PQyy indexes): a coarse quantizer prunes WHICH
# vectors are scored (only the nprobe=2 nearest of 4 coarse cells
# per query are visited — the s2/s4 pruning idea), and product
# quantization on the RESIDUAL x - c compresses HOW they are scored
# (8 one-byte codes + per-query lookup tables — the s10 idea;
# residual PQ beats raw PQ because residuals concentrate near 0).
#
# Everything follows the e7 exact-integer discipline end to end:
# coarse k-means (k=4, init = 4 lowest vec_ids, one Lloyd iteration,
# round-half-up integer means) over int64-quantized vectors;
# residuals shifted +4e6 onto the positive domain (the round-half-up
# mean is only engine-portable there; PQ is translation-invariant);
# per-subspace PQ k-means (k=16, init = residuals of the
# 16 lowest vec_ids, one iteration); argmin ties to the lowest
# index. Every stage is bit-identical on both engines, so the WHOLE
# index — coarse cells, residual codebooks, codes, probed cells,
# ADC top-k — is differentially verified.
#
# Scale shape: two training passes (each ONE partial-agg shuffle +
# one bounded driver collect — 256 and 1024 integer cells), one
# encode scan with centroids/codebooks folded to literals, and the
# query pass touches only the probed cells' rows (cluster-pruned
# scan) with 8 literal lookups per row. No join, no global sort; the
# top-k is the s1 per-query window over the probed subset.
# ---------------------------------------------------------------------------

_IVF_K = 4  # coarse cells
_IVF_NPROBE = 2
_IVF_ITERS = 1


def _ivfpq_coarse_d2_sql(vec: str, cv: str) -> str:
    return " + ".join(
        f"({vec}[{i + 1}] - {cv}[{i + 1}]) * ({vec}[{i + 1}] - {cv}[{i + 1}])"
        for i in range(64)
    )


def _ivf_coarse_parts() -> list[str]:
    """The coarse-quantizer CTE prefix SHARED by s11 (IVF+PQ) and s2
    (IVF-Flat): quantized vectors (q), k-means init from the lowest
    vec_ids (cinit), one exact-integer Lloyd iteration (ca0/cs/cc),
    final cell assignment (caf), query vectors (qv), and each query's
    nprobe nearest cells (qc)."""
    d2c = _ivfpq_coarse_d2_sql("q.vq", "c.cv")
    csums = ", ".join(f"SUM(q.vq[{i + 1}]) AS s{i}" for i in range(64))
    cupd = ", ".join(f"(2 * s.s{i} + s.n) // (2 * s.n)" for i in range(64))
    return [
        f"q AS MATERIALIZED (SELECT vec_id, {_PQ_VQ_DUCK} AS vq FROM embeddings)",
        f"""cinit AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
  FROM (SELECT vec_id, vq FROM q ORDER BY vec_id LIMIT {_IVF_K}))""",
        f"""ca0 AS MATERIALIZED (
  SELECT vec_id, j AS cluster FROM (
    SELECT q.vec_id, c.j,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {d2c}, c.j) AS rn
    FROM q CROSS JOIN cinit c
  ) WHERE rn = 1)""",
        f"""cs AS MATERIALIZED (
  SELECT a.cluster, CAST(COUNT(*) AS BIGINT) AS n, {csums}
  FROM ca0 a JOIN q ON q.vec_id = a.vec_id GROUP BY a.cluster)""",
        f"""cc AS MATERIALIZED (
  SELECT p.j, CASE WHEN s.cluster IS NULL THEN p.cv
                   ELSE list_value({cupd}) END AS cv
  FROM cinit p LEFT JOIN cs s ON s.cluster = p.j)""",
        f"""caf AS MATERIALIZED (
  SELECT vec_id, j AS cluster FROM (
    SELECT q.vec_id, c.j,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d2c.replace('cinit', 'cc')}, c.j) AS rn
    FROM q CROSS JOIN cc c
  ) WHERE rn = 1)""",
        f"qv AS MATERIALIZED (SELECT vec_id AS query_id, vq FROM q "
        f"WHERE vec_id IN {_PQ_QUERIES})",
        f"""qc AS MATERIALIZED (
  SELECT query_id, j AS cluster FROM (
    SELECT qv.query_id, c.j,
           row_number() OVER (PARTITION BY qv.query_id
                              ORDER BY {_ivfpq_coarse_d2_sql('qv.vq', 'c.cv')}, c.j)
             AS rn
    FROM qv CROSS JOIN cc c
  ) WHERE rn <= {_IVF_NPROBE})""",
    ]


def _ivfpq_oracle() -> str:
    parts = _ivf_coarse_parts() + [
        """res AS MATERIALIZED (
  SELECT q.vec_id, caf.cluster,
         list_transform(list_zip(q.vq, cc.cv),
                        p -> p[1] - p[2] + 4000000) AS rv
  FROM q JOIN caf ON caf.vec_id = q.vec_id JOIN cc ON cc.j = caf.cluster)""",
        f"""pinit AS MATERIALIZED (
  SELECT rv, row_number() OVER (ORDER BY vec_id) - 1 AS j
  FROM (SELECT vec_id, rv FROM res ORDER BY vec_id LIMIT {_PQ_K}))""",
        """qres AS MATERIALIZED (
  SELECT p.query_id, p.cluster,
         list_transform(list_zip(qv.vq, cc.cv),
                        x -> x[1] - x[2] + 4000000) AS rv
  FROM qc p JOIN qv ON qv.query_id = p.query_id
  JOIN cc ON cc.j = p.cluster)""",
    ]
    for m in range(_PQ_M):
        off = m * _PQ_SUB
        d2 = " + ".join(
            f"(r.rv[{off + i + 1}] - c.cv[{i + 1}]) * "
            f"(r.rv[{off + i + 1}] - c.cv[{i + 1}])"
            for i in range(_PQ_SUB)
        )
        sums = ", ".join(
            f"SUM(r.rv[{off + i + 1}]) AS s{i}" for i in range(_PQ_SUB)
        )
        upd = ", ".join(
            f"(2 * s.s{i} + s.n) // (2 * s.n)" for i in range(_PQ_SUB)
        )
        qd2 = " + ".join(
            f"(qr.rv[{off + i + 1}] - c.cv[{i + 1}]) * "
            f"(qr.rv[{off + i + 1}] - c.cv[{i + 1}])"
            for i in range(_PQ_SUB)
        )
        parts += [
            f"p0_{m} AS MATERIALIZED (SELECT j, list_slice(rv, {off + 1}, "
            f"{off + _PQ_SUB}) AS cv FROM pinit)",
            f"""pa_{m} AS MATERIALIZED (
  SELECT vec_id, code FROM (
    SELECT r.vec_id, c.j AS code,
           row_number() OVER (PARTITION BY r.vec_id
                              ORDER BY {d2.replace('p0_', 'p0_')}, c.j) AS rn
    FROM res r CROSS JOIN p0_{m} c
  ) WHERE rn = 1)""",
            f"""ps_{m} AS MATERIALIZED (
  SELECT a.code, CAST(COUNT(*) AS BIGINT) AS n, {sums}
  FROM pa_{m} a JOIN res r ON r.vec_id = a.vec_id GROUP BY a.code)""",
            f"""pc_{m} AS MATERIALIZED (
  SELECT p.j, CASE WHEN s.code IS NULL THEN p.cv
                   ELSE list_value({upd}) END AS cv
  FROM p0_{m} p LEFT JOIN ps_{m} s ON s.code = p.j)""",
            f"""pf_{m} AS MATERIALIZED (
  SELECT vec_id, code FROM (
    SELECT r.vec_id, c.j AS code,
           row_number() OVER (PARTITION BY r.vec_id
                              ORDER BY {d2.replace('p0_', 'pc_').replace('pc_' + str(m), 'pc_' + str(m))}, c.j) AS rn
    FROM res r CROSS JOIN pc_{m} c
  ) WHERE rn = 1)""",
            f"""dt_{m} AS MATERIALIZED (
  SELECT qr.query_id, qr.cluster, c.j, CAST({qd2} AS BIGINT) AS d
  FROM qres qr CROSS JOIN pc_{m} c)""",
        ]
    code_cols = ", ".join(f"pf_{m}.code AS code{m}" for m in range(_PQ_M))
    f_joins = " ".join(
        f"JOIN pf_{m} ON pf_{m}.vec_id = pf_0.vec_id" for m in range(1, _PQ_M)
    )
    dt_joins = " ".join(
        f"JOIN dt_{m} ON dt_{m}.j = f.code{m} "
        f"AND dt_{m}.query_id = dt_0.query_id AND dt_{m}.cluster = r.cluster"
        for m in range(1, _PQ_M)
    )
    dsum = " + ".join(f"dt_{m}.d" for m in range(_PQ_M))
    parts += [
        f"""f_all AS MATERIALIZED (
  SELECT pf_0.vec_id, {code_cols} FROM pf_0 {f_joins})""",
        f"""appr AS MATERIALIZED (
  SELECT dt_0.query_id, r.vec_id, CAST({dsum} AS BIGINT) AS approx_d2
  FROM res r
  JOIN qc ON qc.cluster = r.cluster
  JOIN f_all f ON f.vec_id = r.vec_id
  JOIN dt_0 ON dt_0.query_id = qc.query_id AND dt_0.cluster = r.cluster
       AND dt_0.j = f.code0
  {dt_joins})""",
    ]
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT query_id, vec_id, approx_d2, rank FROM (
  SELECT query_id, vec_id, approx_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_d2, vec_id) AS rank
  FROM appr
) WHERE rank <= {_PQ_TOPK}"""


def _ivfpq_coarse_expr(cents: list[list[int]]) -> str:
    """Spark SQL argmin cluster over literal 64-dim coarse centroids
    (loop form — see _code_expr)."""
    return _code_expr(cents, 0, 64, "vq")


def _pq_code_expr_rv(book: list[list[int]], off: int) -> str:
    """Like _pq_code_expr but over the residual column ``rv``."""
    return _code_expr(book, off, _PQ_SUB, "rv")


def _coarse_quantizer_stages(src: str, prefix: str) -> str:
    """DuckDB unroll of ``_train_coarse`` over CTE ``src`` (vec_id,
    vq): {p}cinit (k lowest vec_ids), {p}ca0 (init assignment),
    {p}cs (per-cluster integer sums), {p}cc (one round-half-up Lloyd
    update) — the exact-integer coarse quantizer shared by the
    s19 oracle's frozen leg and c8's pre/post rebuild fingerprints."""
    p = prefix
    csums = ", ".join(f"SUM(t.vq[{i + 1}]) AS s{i}" for i in range(64))
    cupd = ", ".join(f"(2 * s.s{i} + s.n) // (2 * s.n)" for i in range(64))
    return f"""{p}cinit AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
  FROM (SELECT vec_id, vq FROM {src} ORDER BY vec_id LIMIT {_IVF_K})
), {p}ca0 AS MATERIALIZED (
  SELECT vec_id, j AS cluster FROM (
    SELECT t.vec_id, c.j,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {_ivfpq_coarse_d2_sql('t.vq', 'c.cv')}, c.j) AS rn
    FROM {src} t CROSS JOIN {p}cinit c
  ) WHERE rn = 1
), {p}cs AS MATERIALIZED (
  SELECT a.cluster, CAST(COUNT(*) AS BIGINT) AS n, {csums}
  FROM {p}ca0 a JOIN {src} t ON t.vec_id = a.vec_id GROUP BY a.cluster
), {p}cc AS MATERIALIZED (
  SELECT p.j, CASE WHEN s.cluster IS NULL THEN p.cv
                   ELSE list_value({cupd}) END AS cv
  FROM {p}cinit p LEFT JOIN {p}cs s ON s.cluster = p.j
)"""


def _coarse_rank(vec: list[int], cents: list[list[int]]) -> list[int]:
    """Centroid indices ordered by exact squared distance to ``vec``,
    ties to the lowest j — the order ``_ivfpq_coarse_expr``'s argmin
    and the oracles' (d2, j) row_number use.  [0] is the assigned cell,
    [:_IVF_NPROBE] a query's probe set."""
    d2 = [sum((a - b) * (a - b) for a, b in zip(vec, c)) for c in cents]
    return sorted(range(len(cents)), key=lambda j: (d2[j], j))


def _coarse_probe_panel(
    qrows: dict[int, list[int]], cents: list[list[int]]
) -> list[tuple[int, list[int], list[int]]]:
    """The fixed query panel (query_id, qv, cells) with each query's
    ``_IVF_NPROBE`` probe cells frozen against ``cents``."""
    return [
        (qid, qrows[qid], _coarse_rank(qrows[qid], cents)[:_IVF_NPROBE])
        for qid in _PQ_QUERIES
    ]


def _query_rows(vq: DataFrame) -> dict[int, list[int]]:
    """The fixed query panel's vectors from ``vq`` (vec_id, vq): a
    bounded ``len(_PQ_QUERIES)`` x 64 integer collect."""
    return {
        int(r["vec_id"]): list(r["vq"])
        for r in vq.filter(F.col("vec_id").isin(*_PQ_QUERIES)).collect()
    }


def _exact_d2_col(qv: list[int]) -> Column:
    """Exact integer squared L2 from ``vq`` to the query vector ``qv``,
    folded to a BIGINT array literal (loop-form aggregate/zip_with
    inside whole-stage codegen)."""
    qlit = "array(" + ", ".join(f"{int(x)}L" for x in qv) + ")"
    return F.expr(
        f"aggregate(zip_with(vq, {qlit}, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )


def _ivf_probe_topk(
    assigned: DataFrame, panel: list[tuple[int, list[int], list[int]]]
) -> DataFrame:
    """IVF-Flat query pass shared by s2 and s14: for each (query_id,
    qv, cells) of the probe panel, score the ``assigned`` rows
    (vec_id, vq, cluster) inside the probed cells exactly and keep the
    top ``_PQ_TOPK`` by (d2, vec_id)."""
    from functools import reduce

    from pyspark.sql import Window

    per_q = [
        assigned.filter(F.col("cluster").isin(cells)).select(
            F.lit(qid).cast("long").alias("query_id"),
            "vec_id",
            _exact_d2_col(qv).alias("d2"),
        )
        for qid, qv, cells in panel
    ]
    u = reduce(lambda a, b: a.unionByName(b), per_q)
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return u.select(
        "query_id", "vec_id", "d2", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= _PQ_TOPK)


def _train_coarse(vq: DataFrame) -> list[list[int]]:
    """Exact-integer coarse quantizer shared by s11 (IVF+PQ), s2
    (IVF-Flat), s19 and c8's store: k=_IVF_K, init = the k lowest
    vec_ids, ONE Lloyd iteration with round-half-up integer means
    ((2s+n)//(2n)) — every step bit-identical to the oracle's unrolled
    CTE recurrence.  Two legs, chosen by the measured input size:
    when ``vq`` (vec_id, vq) fits under the session's driver-collect
    cap at 64 cells a row (16,384 vectors) it is collected once and
    the init, assignment and update run in the driver in exact Python
    integers (``_train_coarse_driver``); above the cap the distributed
    plan runs — one partial-agg shuffle + a bounded (k x 64 integer)
    driver collect."""
    rows = collect_under_cap(vq.select("vec_id", "vq"), row_cells=64)
    if rows is not None:
        return _train_coarse_driver([(r[0], list(r[1])) for r in rows])
    cinit = vq.orderBy("vec_id").limit(_IVF_K).collect()
    ccents = [list(r["vq"]) for r in cinit]
    assigned = vq.select(
        "vq", F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster")
    )
    csums = (
        assigned.select("cluster", F.posexplode("vq").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    new = [list(c) for c in ccents]
    for r in csums:
        s, n = int(r["s"]), int(r["n"])
        new[r["cluster"]][r["pos"]] = (2 * s + n) // (2 * n)
    return new


def _train_coarse_driver(rows: list[tuple[int, list[int]]]) -> list[list[int]]:
    """``_train_coarse`` over the collected (vec_id, vq) rows: the same
    init, argmin (ties to the lowest j) and round-half-up update."""
    rows = sorted(rows, key=lambda r: r[0])
    cents = [v for _, v in rows[:_IVF_K]]
    sums = [[0] * len(c) for c in cents]
    counts = [0] * len(cents)
    for _, v in rows:
        j = _coarse_rank(v, cents)[0]
        counts[j] += 1
        sums[j] = [a + x for a, x in zip(sums[j], v)]
    return [
        [(2 * s + n) // (2 * n) for s in sums[j]] if n else list(c)
        for j, (c, n) in enumerate(zip(cents, counts))
    ]


@register(
    "s11_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    description="IVF+PQ ANN (IVFADC, Jegou et al. 2011 — the faiss "
    "billion-scale layout): an exact-integer coarse quantizer (k=4, "
    "e7 discipline) prunes each query to its nprobe=2 nearest cells, "
    "and product quantization of the RESIDUAL x-c (8 subspaces x 16 "
    "codes, trained one Lloyd iteration on integer residuals) scores "
    "only the probed cells' vectors via per-query lookup tables. "
    "Composes the pruning lever (s2/s4) with the compression lever "
    "(s10) exactly as a production index does; every stage is "
    "bit-identical on both engines, so the ENTIRE index — cells, "
    "residual codebooks, codes, probe set, ADC top-k — is "
    "differentially verified. Training: two bounded partial-agg "
    "shuffles (256 + 1024 integer cells); query: cluster-pruned scan "
    "+ 8 literal lookups per row + the s1 top-k window.",
)
def s11_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    vq = e.select("vec_id", F.expr(_PQ_VQ_SPARK).alias("vq"))
    with persisted(vq):
        # ---- coarse quantizer: k=4, one exact-integer Lloyd iteration
        ccents = _train_coarse(vq)

        # ---- residuals vs the final coarse assignment (in-plan)
        cents_lit = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{int(x)}L" for x in c) + ")"
                for c in ccents
            )
            + ")"
        )
        res = vq.select(
            "vec_id",
            F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster"),
            "vq",
        ).select(
            "vec_id",
            "cluster",
            # +4e6 keeps residuals on the POSITIVE domain: the
            # round-half-up integer mean (2s+n)//(2n) is only
            # engine-portable there (floor vs truncate divergence on
            # negatives — the e7 rule); PQ assignment and ADC are
            # translation-invariant, so the shift changes nothing else
            F.expr(
                f"transform(vq, (x, i) -> x - element_at("
                f"element_at({cents_lit}, cluster + 1), i + 1) + 4000000L)"
            ).alias("rv"),
        )
        with persisted(res):
            # ---- PQ on residuals: init from the 16 lowest vec_ids
            pinit = res.orderBy("vec_id").limit(_PQ_K).collect()
            books = [
                [list(r["rv"])[m * _PQ_SUB : (m + 1) * _PQ_SUB] for r in pinit]
                for m in range(_PQ_M)
            ]
            passigned = res.select(
                "rv",
                *[
                    F.expr(_pq_code_expr_rv(books[m], m * _PQ_SUB)).alias(f"c{m}")
                    for m in range(_PQ_M)
                ],
            )
            psums = (
                passigned.select(
                    F.posexplode("rv").alias("pos", "val"),
                    *[F.col(f"c{m}") for m in range(_PQ_M)],
                )
                .withColumn("m", (F.col("pos") / _PQ_SUB).cast("int"))
                .withColumn(
                    "code",
                    F.element_at(
                        F.array(*[F.col(f"c{m}") for m in range(_PQ_M)]),
                        F.col("m") + 1,
                    ),
                )
                .groupBy("m", "code", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            for r in psums:
                s, n = int(r["s"]), int(r["n"])
                books[r["m"]][r["code"]][r["pos"] - r["m"] * _PQ_SUB] = (
                    2 * s + n
                ) // (2 * n)

            # ---- final codes for every vector
            final = res.select(
                "vec_id",
                "cluster",
                *[
                    F.expr(_pq_code_expr_rv(books[m], m * _PQ_SUB)).alias(f"c{m}")
                    for m in range(_PQ_M)
                ],
            )

            # ---- queries: probe nprobe coarse cells, ADC over residuals
            # ONE pass over the encoded corpus: per query, a CASE over its
            # probed cells selects the matching lookup-table sum (NULL =
            # row not in this query's probe set), stacked via explode —
            # no per-(query, cell) branch unions re-running the encode scan
            per_query = []
            for qid, qv, probed in _coarse_probe_panel(_query_rows(vq), ccents):
                dist = F.lit(None).cast("long")
                for cl in probed:
                    qr = [qv[i] - ccents[cl][i] + 4_000_000 for i in range(64)]
                    d_cl = None
                    for m in range(_PQ_M):
                        table = [
                            sum(
                                (qr[m * _PQ_SUB + i] - cw[i]) ** 2
                                for i in range(_PQ_SUB)
                            )
                            for cw in books[m]
                        ]
                        term = F.element_at(
                            F.array(*[F.lit(int(d)) for d in table]),
                            F.col(f"c{m}") + 1,
                        )
                        d_cl = term if d_cl is None else d_cl + term
                    dist = F.when(F.col("cluster") == cl, d_cl).otherwise(dist)
                per_query.append(
                    F.struct(
                        F.lit(qid).cast("long").alias("query_id"),
                        dist.cast("long").alias("approx_d2"),
                    )
                )
            stacked = (
                final.select(
                    "vec_id", F.explode(F.array(*per_query)).alias("s")
                )
                .select("s.query_id", "vec_id", "s.approx_d2")
                .filter(F.col("approx_d2").isNotNull())
            )
            w = Window.partitionBy("query_id").orderBy("approx_d2", "vec_id")
            return (
                stacked.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= _PQ_TOPK)
                .select("query_id", "vec_id", "approx_d2", "rank")
            )


# ---------------------------------------------------------------------------
# t28_langid_confusion — prediction-vs-label evaluation.
# ---------------------------------------------------------------------------


def _t28_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import text_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    t3 = REGISTRY["t3_lang_id"].oracle
    q = REGISTRY["t28_langid_confusion"]
    oracle = f"""
    WITH pred AS MATERIALIZED ({t3})
    SELECT d.lang, p.lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY d.lang), 6) AS share
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY d.lang, p.lang_guess
    """
    REGISTRY["t28_langid_confusion"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "t28_langid_confusion",
    oracle=None,  # attached below — embeds t3's registered oracle
    description="LANG-ID CONFUSION MATRIX: the t3 marker-vote "
    "predictions cross-tabulated against the corpus's labeled lang "
    "column, with per-label shares — the evaluation loop that turns "
    "a heuristic classifier into a monitored one (label drift or a "
    "marker-lexicon regression shows up as a share shift). One "
    "label-keyed partial-agg shuffle over (label, guess) pairs; the "
    "matrix is language-domain bounded. Oracle embeds t3's "
    "registered SQL, so the composition itself is verified.",
)
def t28_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dww_data_pipeline_spark.functions import text as tx

    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        "lang", tx.lang_id(F.col("text")).alias("lang_guess")
    )
    counts = pairs.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "lang_guess",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "share"
        ),
    )


_t28_attach_oracle()


# ---------------------------------------------------------------------------
# j14_spatial_grid_join — grid-bucketed distance join.
#
# The geo analog of LSH bucketing: points land in 2-degree grid
# cells, candidate pairs come from a bounded NEIGHBOR-CELL join
# (never the cross product), and the exact haversine check keeps
# only true <= 200 km pairs — so false candidates cost a predicate,
# never a shuffle of the cross product. Neighbor cover is PROVEN for
# the operator's contract (|lat| < 60): a 2-degree lat cell is
# ~222 km > 200 (±1 lat suffices); at |lat| <= 60 a 2-degree lon
# cell is >= 111 km (cos 60 = 0.5), so ±2 lon cells cover 200 km;
# lon cells wrap at the antimeridian via modular arithmetic.
# Coordinates are synthesized from keys (f16's convention — the
# test tables carry no geo columns); the oracle is the brute-force
# cross join + the same exact check: different plan, identical
# relation, which is precisely the bucketing correctness claim.
# ---------------------------------------------------------------------------

_GEO_MAX_KM = 200.0


def _geo_sql(key: str, a: int, b: int) -> tuple[str, str]:
    return (
        f"CAST(({key} * {a}) % 120 - 60 AS DOUBLE)",
        f"CAST(({key} * {b}) % 360 - 180 AS DOUBLE)",
    )


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    h = (
        f"sin(radians(({lat2}) - ({lat1}))/2) * sin(radians(({lat2}) - ({lat1}))/2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1}))/2) * sin(radians(({lon2}) - ({lon1}))/2)"
    )
    return f"(2 * 6371.0 * atan2(sqrt({h}), sqrt(1 - ({h}))))"


def _j14_oracle() -> str:
    clat, clon = _geo_sql("c_custkey", 7, 11)
    slat, slon = _geo_sql("s_suppkey", 13, 17)
    d = _hav_sql("c.lat", "c.lon", "s.lat", "s.lon")
    return f"""
    WITH c AS (
      SELECT c_custkey, {clat} AS lat, {clon} AS lon FROM customer
    ), s AS (
      SELECT s_suppkey, {slat} AS lat, {slon} AS lon FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST(floor({d}) AS BIGINT) AS dist_km_floor
    FROM c CROSS JOIN s
    WHERE {d} <= {_GEO_MAX_KM}
    """


@register(
    "j14_spatial_grid_join",
    oracle=_j14_oracle(),
    description="SPATIAL GRID-BUCKETED DISTANCE JOIN (<= 200 km "
    "customer-supplier pairs): 2-degree grid cells + a PROVEN "
    "neighbor cover (±1 lat, ±2 lon with antimeridian wrap, valid "
    "for the |lat| < 60 contract) generate candidates from a "
    "cell-keyed equi-join — the geo analog of LSH bucketing; the "
    "exact haversine predicate then keeps only true pairs, so the "
    "result is identical to the cross-join oracle while the shuffle "
    "stays cell-bounded (Σ cell-pair products, never |C|x|S|). "
    "Coordinates synthesized from keys per f16's convention; "
    "distances reported as floor-km BIGINT (the f16 trig-parity "
    "rule).",
)
def j14_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.functions.geo import haversine_km

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 120 - 60).cast("double").alias("lat"),
        ((F.col("c_custkey") * 11) % 360 - 180).cast("double").alias("lon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 13) % 120 - 60).cast("double").alias("lat"),
        ((F.col("s_suppkey") * 17) % 360 - 180).cast("double").alias("lon"),
    )

    def cells(df, explode_neighbors: bool):
        latc = F.floor(F.col("lat") / 2).cast("int")
        lonc = F.floor(F.col("lon") / 2).cast("int")
        if not explode_neighbors:
            return df.withColumn("latc", latc).withColumn("lonc", lonc)
        # ±1 lat x ±2 lon neighbor cover, lon wrapped mod 180 cells
        offs = [
            F.struct(
                (latc + dy).alias("latc"),
                (F.pmod(lonc + 90 + dx, F.lit(180)) - 90).alias("lonc"),
            )
            for dy in (-1, 0, 1)
            for dx in (-2, -1, 0, 1, 2)
        ]
        return df.withColumn("cell", F.explode(F.array(*offs))).select(
            df["*"], F.col("cell.latc").alias("latc"), F.col("cell.lonc").alias("lonc")
        )

    c_cells = cells(cust, explode_neighbors=True)
    s_cells = cells(supp, explode_neighbors=False).select(
        "s_suppkey",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        "latc",
        "lonc",
    )
    dist = haversine_km(
        F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
    )
    return (
        c_cells.join(s_cells, ["latc", "lonc"])
        .filter(dist <= _GEO_MAX_KM)
        .select(
            "c_custkey",
            "s_suppkey",
            F.floor(dist).cast("long").alias("dist_km_floor"),
        )
    )


# ---------------------------------------------------------------------------
# e9_power_iteration_pc1 — ORACLE-CHECKED top principal component.
#
# e6's top-8 PCA is rows-only (eigh is not SQL-expressible); this
# operator closes the verification gap for the DOMINANT component by
# replacing eigh with a fixed-point POWER ITERATION — a pure integer
# recurrence both engines can run: v0 = all-1000s; 64 rounds of
# w = G v (G = e5's exact fixed-point Gram, a bounded 64x64 integer
# artifact) followed by max-abs renormalization to scale 1000. All
# divisions run as sign(w) * (|w| * S // m): |w| is positive, and
# positive-domain integer division is the ONLY portable kind
# (DuckDB // truncates, Python // floors — the s11 lesson).
#
# Scale shape: the distributed work is exactly e5's (one constant
# 4096-cell partial-agg exchange); the 8-round iteration happens on
# the bounded artifact (driver-side in Spark, unrolled CTEs in the
# oracle — the e7/HITS pattern); the projection pass folds the final
# integer eigenvector to plan-time literals, one scan, zero joins.
# Overflow audit: |G| <= 4e13 (sf0.1) x |v| <= 1e3 x 64 = 2.6e18 <
# 2^63.
# ---------------------------------------------------------------------------

_PI_ITERS = 64
_PI_SCALE = 1000


def _e9_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import corpus_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    e5 = REGISTRY["e5_embedding_gram"].oracle
    q = REGISTRY["e9_power_iteration_pc1"]
    parts = [
        f"g AS MATERIALIZED ({e5})",
        f"q AS MATERIALIZED (SELECT vec_id, {_PQ_VQ_DUCK} AS vq FROM embeddings)",
        "v0 AS MATERIALIZED (SELECT j, CAST(1000 AS BIGINT) AS val "
        "FROM generate_series(0, 63) AS t(j))",
    ]
    prev = "v0"
    for it in range(1, _PI_ITERS + 1):
        parts += [
            f"""w{it} AS MATERIALIZED (
  SELECT g.i, CAST(SUM(g.s_fp * v.val) AS BIGINT) AS w
  FROM g JOIN {prev} v ON v.j = g.j GROUP BY g.i)""",
            f"m{it} AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w{it})",
            f"""v{it} AS MATERIALIZED (
  SELECT w.i AS j,
         CAST(CASE WHEN w.w < 0
              THEN -((ABS(w.w) * {_PI_SCALE}) // m.m)
              ELSE (w.w * {_PI_SCALE}) // m.m END AS BIGINT) AS val
  FROM w{it} w CROSS JOIN m{it} m)""",
        ]
        prev = f"v{it}"
    body = ",\n".join(parts)
    oracle = f"""WITH {body}
SELECT q.vec_id, CAST(SUM(q.vq[v.j + 1] * v.val) AS BIGINT) AS pc1_fp
FROM q CROSS JOIN {prev} v
GROUP BY q.vec_id"""
    REGISTRY["e9_power_iteration_pc1"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "e9_power_iteration_pc1",
    oracle=None,  # attached below — embeds e5's registered oracle
    description="TOP PRINCIPAL COMPONENT, ORACLE-CHECKED: 64 rounds of "
    "fixed-point power iteration (v <- Gv, max-abs renormalized to "
    "scale 1000 — sized for the measured lambda2/lambda1 = 0.93 "
    "spectrum: cos vs eigh 0.9996 at 64 rounds, 0.33 at 8; "
    "sign*(abs//m) so integer division stays on the "
    "portable positive domain) over e5's exact integer Gram matrix, "
    "then every vector's projection onto the resulting integer "
    "eigenvector as literal-folded arithmetic — the hash-checkable "
    "counterpart of e6's rows-only eigh PCA. Distributed cost is "
    "exactly e5's constant 4096-cell exchange; the iteration runs on "
    "the bounded artifact (driver / unrolled CTEs — the e7 and HITS "
    "pattern); the projection is one scan with zero joins.",
)
def e9_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.similarity import gram_fixed_point

    e = load_table(spark, sf_dir, "embeddings")
    gram = {
        (r["pos"] // 64, r["pos"] % 64): int(r["s_fp"])
        for r in gram_fixed_point(e, "embedding", dim=64).collect()
    }
    # int64-domain contract: the oracle runs the same recurrence in
    # DuckDB BIGINTs, where |w_i| <= max|G| * PI_SCALE * 64 must stay
    # < 2^63.  Gram entries grow linearly with row count (|G| <= 4e13
    # at sf0.1 -> headroom to sf ≈ 360); past that Spark's Python ints
    # would keep going where DuckDB errors, silently breaking the
    # differential check — so fail loudly at the contract edge.
    g_max = max((abs(x) for x in gram.values()), default=0)
    if g_max * _PI_SCALE * 64 >= 2**63:
        raise ValueError(
            f"e9 power iteration out of int64 oracle domain: max|G|={g_max:.3e}"
            " (renormalize the Gram by row count or reduce _PI_SCALE)"
        )
    v = [_PI_SCALE] * 64
    for _ in range(_PI_ITERS):
        w = [
            sum(gram.get((i, j), 0) * v[j] for j in range(64))
            for i in range(64)
        ]
        m = max(abs(x) for x in w)
        # sign * (abs // m): positive-domain division only (portable)
        v = [
            (1 if x >= 0 else -1) * ((abs(x) * _PI_SCALE) // m) for x in w
        ]
    vq = e.select("vec_id", F.expr(_PQ_VQ_SPARK).alias("vq"))
    proj = None
    for i in range(64):
        term = F.element_at("vq", i + 1) * F.lit(int(v[i]))
        proj = term if proj is None else proj + term
    return vq.select("vec_id", proj.cast("long").alias("pc1_fp"))


_e9_attach_oracle()


# ---------------------------------------------------------------------------
# dq14_reconciliation — cross-table financial reconciliation.
# ---------------------------------------------------------------------------


@register(
    "dq14_reconciliation",
    oracle="""
    WITH r AS (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice * 100) AS BIGINT) AS header_fp,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                 * (1 + l.l_tax) * 100) AS BIGINT))
                  AS BIGINT) AS detail_fp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN abs(detail_fp - header_fp) <= 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(MAX(abs(detail_fp - header_fp)) AS BIGINT)
             AS max_abs_diff_fp,
           CAST(SUM(abs(detail_fp - header_fp)) AS BIGINT)
             AS sum_abs_diff_fp
    FROM r
    """,
    description="CROSS-TABLE RECONCILIATION: order-header totals vs "
    "the detail-line reconstruction sum(extendedprice*(1-disc)*"
    "(1+tax)), reported as integer-cent diffs (floor-to-cents per "
    "line, identical multiply order both engines, so the report is "
    "hash-exact). The classic warehouse integrity check next to "
    "dq3's FK orphans — and an honest finding here: the synthetic "
    "corpus generates o_totalprice independently of its lineitems, "
    "which is exactly what this operator exists to catch. One "
    "order-keyed partial-agg shuffle; the report is a single row.",
)
def dq14_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("header_fp"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice")
            * (F.lit(1) - F.col("l_discount"))
            * (F.lit(1) + F.col("l_tax"))
            * 100
        )
        .cast("long")
        .alias("line_fp"),
    )
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "header_fp")
        .agg(F.sum("line_fp").alias("detail_fp"))
    )
    diff = F.abs(F.col("detail_fp") - F.col("header_fp"))
    return r.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(diff <= 1, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.max(diff).alias("max_abs_diff_fp"),
        F.sum(diff).alias("sum_abs_diff_fp"),
    )


# ---------------------------------------------------------------------------
# pr6_kcore — k-core peeling over the strong-tie graph.
#
# The density-tier completion next to pr4/pr5: iteratively remove
# nodes of degree < k until (bounded) convergence — the subgraph
# that survives is the k-core, the standard cohesion screen (spam
# rings, collusive clusters, "only count mutually-dense ties").
# Semantics are the DEFINED 8-round recurrence (not loop-to-
# convergence, which is not SQL-unrollable): after 8 peels the
# survivor set and its internal degrees are reported; at the test
# SFs 8 rounds reach the fixpoint (asserted in pytest).
#
# Scale shape: the edge list is node-dimension-bounded (the pr4
# threshold discipline); each round is one degree partial-agg + two
# broadcast semi-joins of the keep set; lineage is truncated by the
# shared strong_tie_graph checkpoint up front and lazy checkpoints
# per round (the d6/pr1 iterative rule).
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _pr6_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans.pipeline_ext import _STRONG_GRAPH_SQL
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    parts = [f"{_STRONG_GRAPH_SQL}", "e0 AS MATERIALIZED (SELECT u, v FROM pairs)"]
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        parts += [
            f"""d{r} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
  ) GROUP BY node)""",
            f"k{r} AS MATERIALIZED (SELECT node FROM d{r} "
            f"WHERE deg >= {_KCORE_K})",
            f"""e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN k{r} a ON a.node = e.u JOIN k{r} b ON b.node = e.v)""",
        ]
        prev = f"e{r}"
    body = ",\n".join(parts)
    oracle = f"""WITH {body},
    fin AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
      ) GROUP BY node
    )
    SELECT d.node, d.deg AS deg0,
           CAST(COALESCE(f.core_deg, 0) AS BIGINT) AS core_deg,
           f.node IS NOT NULL AS in_core
    FROM deg d LEFT JOIN fin f ON f.node = d.node"""
    q = REGISTRY["pr6_kcore"]
    REGISTRY["pr6_kcore"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "pr6_kcore",
    oracle=None,  # attached below — shares pipeline_ext._STRONG_GRAPH_SQL
    description="K-CORE PEELING (k=3, 8 defined rounds — fixpoint at "
    "test SFs, asserted): iteratively drop nodes with fewer than 3 "
    "strong ties; report each node's original degree, surviving "
    "in-core degree, and membership — the cohesion screen next to "
    "pr4's census and pr5's local density. Per round: one degree "
    "partial-agg + two broadcast semi-joins of the node-bounded keep "
    "set over the checkpointed strong-tie edge list; the fact table "
    "is touched exactly once (shared pr4 derivation).",
)
def pr6_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.pipeline_ext import strong_tie_graph

    pairs, deg0, _ = strong_tie_graph(spark, sf_dir)
    edges = pairs
    for _ in range(_KCORE_ROUNDS):
        deg_r = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg_r.filter(F.col("deg") >= _KCORE_K).select("node")
        edges = (
            edges.join(
                F.broadcast(keep.withColumnRenamed("node", "u")), "u", "leftsemi"
            )
            .join(
                F.broadcast(keep.withColumnRenamed("node", "v")), "v", "leftsemi"
            )
            .localCheckpoint(eager=False)
        )
    fin = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
    return (
        deg0.withColumnRenamed("deg", "deg0")
        .join(fin, "node", "left")
        .select(
            "node",
            "deg0",
            F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
            F.col("core_deg").isNotNull().alias("in_core"),
        )
    )


_pr6_attach_oracle()


# ---------------------------------------------------------------------------
# ev11_cohort_ltv — cohort revenue (lifetime-value) matrix.
# ---------------------------------------------------------------------------


@register(
    "ev11_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             strftime(date_trunc('month', MIN(o_orderdate)), '%Y-%m')
               AS cohort
      FROM orders GROUP BY 1
    ), monthly AS (
      SELECT f.cohort,
             strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
             CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_fp
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT cohort, month, n_active, revenue_fp FROM monthly
    """,
    description="COHORT LIFETIME-VALUE MATRIX: customers grouped by "
    "first-order month, then per (cohort, activity month) the active "
    "count and integer-cent revenue — the revenue companion of ev2's "
    "user-count retention triangle. Scale shape: the cohort map is "
    "one customer-keyed partial agg (broadcastable — customer-"
    "dimension bounded), the matrix one (cohort, month) agg; months "
    "bound the output, not the fact volume.",
)
def ev11_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM").alias("cohort")
    )
    return (
        o.join(F.broadcast(firsts), "o_custkey")
        .groupBy(
            "cohort", F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_fp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dq15_benford — first-digit forensic screen.
#
# Benford's law: in many natural monetary distributions the leading
# digit d appears with probability log10(1 + 1/d). The chi-square
# distance of the observed first-digit histogram from that curve is
# the classic fraud/synthetic-data screen. Expected probabilities are
# PLAN-TIME LITERALS (computed once in Python, identical text in the
# oracle), so the only cross-engine float ops are the same
# multiply/divide sequence on integer counts — hash-exact.
# ---------------------------------------------------------------------------

_BENFORD_P = [0.0] + [
    __import__("math").log10(1 + 1 / d) for d in range(1, 10)
]


def _benford_cases(expr: str) -> str:
    """Full ``CASE {expr} WHEN d THEN p(d) ... END`` text."""
    whens = " ".join(
        f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    return f"CASE {expr} {whens} END"


@register(
    "dq15_benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ), hist AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist)
    SELECT h.d, h.n,
           round(CAST(h.n AS DOUBLE) / t.total, 6) AS observed,
           round({_benford_cases("h.d")}, 6) AS expected,
           round(
             (CAST(h.n AS DOUBLE) - ({_benford_cases("h.d")})
                                    * t.total)
             * (CAST(h.n AS DOUBLE) - ({_benford_cases("h.d")})
                                      * t.total)
             / (({_benford_cases("h.d")}) * t.total), 6)
             AS chi2_term
    FROM hist h CROSS JOIN tot t
    """,
    description="BENFORD FIRST-DIGIT SCREEN over order totals: "
    "observed vs log10(1+1/d) expected shares and per-digit "
    "chi-square terms — the forensic test for fabricated or "
    "synthetic monetary data (here an honest screen over the "
    "generator's uniform-ish totals, which SHOULD flag — the test "
    "pins the deviation). Expected probabilities are plan-time "
    "literals; one digit-keyed partial agg bounded at 9 groups.",
)
def dq15_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    hist = o.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = hist.agg(F.sum("n").alias("total"))
    exp = F.lit(None).cast("double")
    for dd in range(9, 0, -1):
        exp = F.when(F.col("d") == dd, F.lit(_BENFORD_P[dd])).otherwise(exp)
    obs = F.col("n").cast("double")
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(obs / F.col("total"), 6).alias("observed"),
            F.round(exp, 6).alias("expected"),
            F.round(
                (obs - exp * F.col("total"))
                * (obs - exp * F.col("total"))
                / (exp * F.col("total")),
                6,
            ).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# j15_edit_distance_join — FastSS deletion-neighborhood fuzzy join.
#
# Finding all name pairs within Levenshtein distance 1 WITHOUT the
# quadratic compare: every string emits its deletion neighborhood
# (itself + each single-character deletion, length+1 keys); two
# strings within distance 1 necessarily SHARE a key (substitution →
# same deletion at the edit position; insert/delete → one string IS
# a deletion of the other), so candidates come from a key-grouped
# equi-join and the exact levenshtein predicate only prunes the
# collision false positives (shared-deletion pairs at distance 2).
# This is the FastSS / SymSpell blocking scheme — the edit-distance
# analog of d2's LSH bands and j14's grid cells: candidate volume is
# Σ bucket², bounded by digit fan-out here, never |names|².
# Levenshtein is an integer on both engines — hash-exact.
#
# KEY-LENGTH GUARD: deletion neighborhoods emit length+1 keys of
# length-1 characters each — O(len²) bytes per string, which is the
# wrong trade for long strings (a 10 KB key would emit ~100 MB of
# variants). Strings longer than _J15_MAX_DEL_LEN fall back to
# LENGTH BUCKETING: distance <= 1 implies |len(a) - len(b)| <= 1, so
# each long string emits keys {len, len+1} and every qualifying pair
# shares a key. The two families OVERLAP at exactly the threshold
# length (a string of len == T emits both), so a (T-1, T) pair meets
# in the deletion family and a (T, T+1) pair meets in the length
# family — no pair is lost at the boundary. A spurious key collision
# between families can only ADD candidates (pruned by the exact
# levenshtein), never lose one. Property-tested with long strings in
# tests/test_pipeline_ext2.py::TestJ15LongKeys.
#
# Oracle robustness: the candidate side dedups (name, key) pairs, so
# the relation is over DISTINCT names — the oracle selects DISTINCT
# c_name explicitly rather than relying on the generator's
# name-uniqueness.
# ---------------------------------------------------------------------------

_J15_MAX_DEL_LEN = 64  # deletion neighborhood above this → length buckets


def edit_distance_one_pairs(df: DataFrame, col: str) -> DataFrame:
    """All DISTINCT value pairs of ``df[col]`` within Levenshtein
    distance 1, without the quadratic compare (FastSS blocking +
    length-bucket fallback for strings > _J15_MAX_DEL_LEN chars).
    Columns: name_a < name_b, dist."""
    variants = _j15_variants(df.select(F.col(col).alias("c_name")))
    a = variants.select(F.col("c_name").alias("name_a"), "key")
    b = variants.select(F.col("c_name").alias("name_b"), "key")
    cand = (
        a.join(b, "key")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return cand.filter(dist <= 1).select(
        "name_a", "name_b", dist.cast("long").alias("dist")
    )


def _j15_variants(c: DataFrame) -> DataFrame:
    """The FastSS blocking relation: (c_name, key) variant pairs —
    deletion neighborhood for short strings, length buckets above
    _J15_MAX_DEL_LEN.  ``edit_distance_one_pairs`` self-joins it on
    ``key``: two names within distance 1 always share a key, so the
    equi-join yields every candidate pair without the quadratic
    compare, and candidate volume is the sum of squared key-bucket
    sizes.  That distribution, over exactly these keys, was measured
    by ``git show eb998ef:tools/j15_candidate_study.py``.

    r14 (guide §2.3): variant keys hash to fixed-width longs
    (xxhash64) before the dedup + self-join — the distinct exchanges
    and the join relation carry 8 bytes per key instead of an
    up-to-65-char string.  A hash collision can only ADD a candidate
    pair (equal keys hash equal), and every candidate is verified by
    the exact levenshtein predicate, so the result is unchanged.
    Measured same-session A/B at sf0.1: 3.83 -> 3.24 s.  Two measured
    NEGATIVES kept out: dropping the dedup entirely (candidates blow
    up with key multiplicity, 6.7 s) and moving the dedup to name
    level before the explode (7.1 s — the post-explode distinct is
    what lets the join consume two already-shuffled, already-deduped
    sides)."""
    short = c.filter(F.length("c_name") <= _J15_MAX_DEL_LEN)
    long_ = c.filter(F.length("c_name") >= _J15_MAX_DEL_LEN)
    del_keys = short.select(
        "c_name",
        F.explode(
            F.concat(
                F.array(F.col("c_name")),
                F.expr(
                    "transform(sequence(1, length(c_name)), i -> "
                    "concat(substring(c_name, 1, i - 1), "
                    "substring(c_name, i + 1, length(c_name))))"
                ),
            )
        ).alias("key"),
    )
    len_keys = long_.select(
        "c_name",
        F.explode(
            F.array(
                F.concat(F.lit("\x00LEN|"), F.length("c_name").cast("string")),
                F.concat(
                    F.lit("\x00LEN|"),
                    (F.length("c_name") + F.lit(1)).cast("string"),
                ),
            )
        ).alias("key"),
    )
    return (
        del_keys.unionByName(len_keys)
        .select("c_name", F.xxhash64("key").alias("key"))
        .distinct()
    )


@register(
    "j15_edit_distance_join",
    oracle="""
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM (SELECT DISTINCT c_name FROM customer) a
    JOIN (SELECT DISTINCT c_name FROM customer) b
      ON a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    description="EDIT-DISTANCE SELF-JOIN (Levenshtein <= 1) via FastSS "
    "deletion neighborhoods: each name emits itself + every "
    "single-char deletion as join keys; distance-1 pairs provably "
    "share a key, so candidates come from a key-grouped equi-join "
    "(Σ bucket², digit-fan-out bounded) and exact levenshtein prunes "
    "the distance-2 shared-deletion collisions — never the |names|² "
    "cross the oracle runs. The string analog of d2's LSH bands / "
    "j14's grid cells, and the blocking scheme spell-correction and "
    "entity-resolution services ship (SymSpell). Integer distances: "
    "hash-exact on both engines.",
)
def j15_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return edit_distance_one_pairs(c, "c_name")


# ---------------------------------------------------------------------------
# d18_lsh_recall_gate — MinHash LSH quality as a verified quantity.
#
# The s9 pattern (approximation quality is itself differentially
# verified) applied to TEXT dedup: d2's banded-LSH candidate pairs
# are compared against the EXACT Jaccard >= 0.5 ground truth over
# the same 3-word shingles (0.5 = d2's S-curve midpoint for 4 bands
# x 2 rows), and recall/precision land in the hash-checked result.
# The ground truth is the verification-tier cost (shingle-sharing
# pair join — the thing LSH exists to avoid); the integer identity
# jaccard >= 1/2 ⇔ 3*|A∩B| >= |A|+|B| keeps the truth set exact.
# This is the continuous index-health monitor a dedup service runs
# on a sampled corpus slice.
# ---------------------------------------------------------------------------


def _d18_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import dedup_plans
    from dww_data_pipeline_spark.plans.dedup_plans import _SQL_SHINGLES
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    d2 = REGISTRY["d2_minhash_lsh_pairs"].oracle
    q = REGISTRY["d18_lsh_recall_gate"]
    oracle = f"""
    WITH cand AS MATERIALIZED ({d2}),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS s FROM documents
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE 3 * i.ni >= sa.n + sb.n
    ),
    hit AS (
      SELECT t.id_a FROM truth t JOIN cand c
        ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
           round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth), 6) AS recall,
           round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / (SELECT COUNT(*) FROM cand), 6) AS precision
    """
    REGISTRY["d18_lsh_recall_gate"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "d18_lsh_recall_gate",
    oracle=None,  # attached below — embeds d2's registered oracle
    description="MINHASH-LSH RECALL GATE: d2's banded candidates vs "
    "the EXACT Jaccard >= 0.5 truth set over the same 3-word "
    "shingles (the S-curve midpoint of d2's 4x2 banding), with "
    "recall and precision in the hash-checked result — the s9 "
    "index-health pattern applied to text dedup. Truth-set cost is "
    "the verification tier (shingle-sharing pair join, run on a "
    "sampled slice in production); the integer identity "
    "3|A∩B| >= |A|+|B| keeps it exact. Oracle embeds d2's SQL, so "
    "the gate verifies the composition.",
)
def d18_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.dedup_plans import lsh_pairs_cached
    from dww_data_pipeline_spark.plans.text_exprs import exploded_kgrams

    d = load_table(spark, sf_dir, "documents")
    cand = lsh_pairs_cached(spark, sf_dir)

    sh = (
        exploded_kgrams(d.select("doc_id", "text"), "text", 3,
                        carry=("doc_id",), out="s")
        .select("doc_id", "s")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    truth = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"),
                                     F.col("n").alias("na"))), "id_a"
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_b"),
                                     F.col("n").alias("nb"))), "id_b"
        )
        .filter(3 * F.col("ni") >= F.col("na") + F.col("nb"))
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    hit = truth.join(cand, ["id_a", "id_b"])
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_true"), 6
            ).alias("recall"),
            F.round(
                F.col("n_hit").cast("double") / F.col("n_cand"), 6
            ).alias("precision"),
        )
    )


_d18_attach_oracle()


# ---------------------------------------------------------------------------
# s12_hybrid_rrf — hybrid retrieval via reciprocal-rank fusion.
#
# THE production retrieval pattern (every hybrid-search engine:
# lexical BM25 + vector ANN, fused by RRF score Σ 1/(k + rank),
# k=60 per the original Cormack/Clarke formulation): rank lists are
# integers, each fused score is the sum of at most TWO exact
# divisions (IEEE addition of two terms is order-independent), so
# the fusion hash-checks. Embeddings are per-document (vec_id ≡
# doc_id in the corpus), queries pair a query vector with a query
# term. Oracle embeds t18's and s1's registered SQL — the
# composition itself is the verified thing.
#
# Scale shape: both rank lists are top-k tables (tiny); fusion is a
# union + per-query agg + the s1 top-k window. The expensive parts
# (BM25 postings, ANN scoring) keep their own verified scale paths.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_QUERIES = ((0, "spark"), (1, "window"), (2, "hash"))


def _s12_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import curation_plans, dedup_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    t18 = REGISTRY["t18_bm25_retrieval"].oracle
    s1 = REGISTRY["s1_ann_brute_force_topk"].oracle
    q = REGISTRY["s12_hybrid_rrf"]
    qvals = ", ".join(f"({qid}, '{t}')" for qid, t in _RRF_QUERIES)
    oracle = f"""
    WITH lex AS MATERIALIZED ({t18}),
    vec AS MATERIALIZED ({s1}),
    qmap(query_id, term) AS (VALUES {qvals}),
    contrib AS (
      SELECT q.query_id, l.doc_id, 1.0 / ({_RRF_K} + l.rank) AS c
      FROM qmap q JOIN lex l ON l.term = q.term
      UNION ALL
      SELECT v.query_id, v.vec_id AS doc_id, 1.0 / ({_RRF_K} + v.rank)
      FROM vec v
    ),
    fused AS (
      SELECT query_id, doc_id, round(SUM(c), 6) AS rrf,
             CAST(COUNT(*) AS BIGINT) AS n_systems
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rrf, n_systems, rank FROM (
      SELECT query_id, doc_id, rrf, n_systems,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 5
    """
    REGISTRY["s12_hybrid_rrf"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "s12_hybrid_rrf",
    oracle=None,  # attached below — embeds t18's and s1's oracles
    description="HYBRID RETRIEVAL (BM25 + vector) fused by reciprocal "
    "rank: rrf = sum 1/(60 + rank) over both systems' top-5 lists "
    "(Cormack/Clarke RRF — what production hybrid search ships), "
    "re-ranked per query with docs found by BOTH systems surfacing "
    "first. Rank lists are integers and each score sums at most two "
    "exact divisions, so the fusion hash-checks; the oracle embeds "
    "t18's and s1's registered SQL, verifying the composition. "
    "Fusion cost is top-k-bounded — the heavy lifting stays in the "
    "components' own verified scale paths (s4/s10/s11 swap in for "
    "s1 at scale).",
)
def s12_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dww_data_pipeline_spark.plans.curation_plans import t18_bm25_retrieval
    from dww_data_pipeline_spark.plans.dedup_plans import s1_ann_brute_force_topk

    lex = t18_bm25_retrieval(spark, sf_dir)
    vec = s1_ann_brute_force_topk(spark, sf_dir)
    qmap = local_rows_df(
        spark, list(_RRF_QUERIES), "query_id long, term string"
    )
    contrib = (
        qmap.join(lex, "term")
        .select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (_RRF_K + F.col("rank"))).alias("c"),
        )
        .unionByName(
            vec.select(
                F.col("query_id").cast("long").alias("query_id"),
                F.col("vec_id").alias("doc_id"),
                (F.lit(1.0) / (_RRF_K + F.col("rank"))).alias("c"),
            )
        )
    )
    fused = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 6).alias("rrf"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "rrf", "n_systems", "rank")
    )


_s12_attach_oracle()


# ---------------------------------------------------------------------------
# m8_keyframes — shot-representative frame selection.
# ---------------------------------------------------------------------------


def _m8_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    m7 = REGISTRY["m7_shot_boundaries"].oracle
    q = REGISTRY["m8_keyframes"]
    oracle = f"""
    WITH cuts AS MATERIALIZED ({m7})
    SELECT video_id,
           CAST(COUNT(*) FILTER (WHERE frame_index = 0 OR is_cut) AS BIGINT)
             AS n_shots,
           array_to_string(
             list(CAST(frame_index AS VARCHAR) ORDER BY frame_index)
               FILTER (WHERE frame_index = 0 OR is_cut), '|') AS keyframes,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM cuts
    GROUP BY video_id
    """
    REGISTRY["m8_keyframes"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "m8_keyframes",
    oracle=None,  # attached below — embeds m7's registered oracle
    description="KEYFRAME SELECTION: one representative frame per "
    "detected shot (frame 0 + every m7 cut) with the per-video shot "
    "count — the decide-what-to-caption sampling pass that turns the "
    "multimodal chain (synthesize → split → decode → aHash → cut) "
    "into a training-data decision. Oracle embeds m7's generator-"
    "arithmetic SQL, so the whole chain re-verifies through the "
    "selection. Per-video agg over the tiny frame table; payload "
    "bytes crossed into Python exactly once, back in m7.",
)
def m8_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.pipeline_ext2 import m7_shot_boundaries

    cuts = m7_shot_boundaries(spark, sf_dir)
    key = (F.col("frame_index") == 0) | F.col("is_cut")
    return cuts.groupBy("video_id").agg(
        F.sum(key.cast("long")).alias("n_shots"),
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(key, F.col("frame_index")))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("keyframes"),
        F.count(F.lit(1)).alias("n_frames"),
    )


_m8_attach_oracle()


# ---------------------------------------------------------------------------
# dq16_schema_inventory — schema-contract snapshot.
# ---------------------------------------------------------------------------

_SCHEMA_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@register(
    "dq16_schema_inventory",
    oracle=f"""
    SELECT table_name AS tbl, column_name AS col,
           CAST(ordinal_position AS BIGINT) AS pos
    FROM information_schema.columns
    WHERE table_name IN ({", ".join(f"'{t}'" for t in _SCHEMA_TABLES)})
    """,
    description="SCHEMA INVENTORY: every (table, column, position) of "
    "the catalog as DATA — the contract snapshot a pipeline diffs "
    "between runs to catch upstream schema drift BEFORE a renamed or "
    "reordered column silently corrupts a join (the schema-level "
    "companion of d13's row-level snapshot diff). Spark reads parquet "
    "footers only (no data scan); the oracle reads DuckDB's "
    "information_schema over the same files — agreement IS the "
    "cross-engine schema contract.",
)
def dq16_schema_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for t in _SCHEMA_TABLES:
        for i, c in enumerate(load_table(spark, sf_dir, t).columns, 1):
            rows.append((t, c, i))
    return local_rows_df(spark, rows, "tbl string, col string, pos long")


# ---------------------------------------------------------------------------
# d6b_components_star — the O(log n) CC algorithm, same relation.
# ---------------------------------------------------------------------------


def _d6b_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans import dedup_plans  # noqa: F401
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    q = REGISTRY["d6b_components_star"]
    REGISTRY["d6b_components_star"] = Query(
        name=q.name,
        spark=q.spark,
        # the algorithm-independence claim: the STAR variant must
        # produce d6's exact relation, so it verifies against d6's
        # recursive-CTE reachability oracle verbatim
        oracle=REGISTRY["d6_dup_components"].oracle,
        description=q.description,
    )


@register(
    "d6b_components_star",
    oracle=None,  # attached below — d6's oracle verbatim
    description="CONNECTED COMPONENTS via alternating large-star / "
    "small-star (Kiveris et al. SoCC 2014) over the same MinHash-LSH "
    "pair graph as d6 — O(log n) rounds instead of O(diameter), the "
    "variant that wins on deep or hub-heavy graphs at 100 TB. "
    "Verified against d6's recursive-CTE reachability oracle "
    "VERBATIM: two different distributed algorithms, one relation — "
    "the algorithm-independence claim made differentially checkable "
    "(the ext_salted_join pattern applied to iterative graph "
    "connectivity).",
)
def d6b_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.dedup import (
        connected_components_star,
    )
    from dww_data_pipeline_spark.plans.dedup_plans import lsh_pairs_cached

    pairs = lsh_pairs_cached(spark, sf_dir)
    return connected_components_star(pairs)


_d6b_attach_oracle()


# ---------------------------------------------------------------------------
# t30_bpe_merge_step — the byte-pair-encoding training step.
#
# BPE tokenizer training is: count adjacent symbol pairs across the
# corpus (weighted by word frequency), merge the most frequent pair,
# repeat. The COUNT-AND-RANK step is the distributed unit — this
# operator computes the top-20 merge candidates exactly: word
# frequencies first (vocabulary-bounded shuffle — the corpus
# collapses to its word histogram before any character work), then
# each distinct word explodes to its adjacent character pairs IN
# PLACE and pair counts aggregate weighted by word frequency.
# Integer counts end to end. The production loop re-runs this step
# after each merge on the re-segmented vocabulary (word histogram,
# not corpus, so iterations cost vocabulary-size, the reason BPE
# training is feasible at all — same two-phase shape here).
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


@register(
    "t30_bpe_merge_step",
    oracle=f"""
    WITH words AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({SQL_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ), pairs AS (
      SELECT substr(w.tok, p.i, 2) AS pair, CAST(SUM(w.n) AS BIGINT) AS n
      FROM words w
      CROSS JOIN LATERAL unnest(generate_series(1, len(w.tok) - 1)) AS p(i)
      WHERE len(w.tok) >= 2
      GROUP BY 1
    )
    SELECT pair, n, rank FROM (
      SELECT pair, n,
             row_number() OVER (ORDER BY n DESC, pair) AS rank
      FROM pairs
    ) WHERE rank <= {_BPE_TOPK}
    """,
    description="BPE MERGE STEP (the distributed unit of tokenizer "
    "training): exact corpus-weighted adjacent character-pair counts "
    "with the top-20 merge candidates ranked — computed the way BPE "
    "training stays feasible: the corpus collapses to its word "
    "HISTOGRAM first (vocabulary-bounded shuffle), then pairs explode "
    "from distinct words in place and counts weight by word "
    "frequency. Integer counts end to end; the production loop "
    "re-runs this step per merge on the re-segmented vocabulary. "
    "Completes the tokenizer tier next to t25's fertility report.",
)
def t30_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(spark_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        words.filter(F.length("tok") >= 2)
        .select(
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("n"))
    )
    # TakeOrdered top-k first (distributed per-partition top-k +
    # merge); rank the k survivors WITHOUT a global window (house
    # window discipline) via the v4 tiny triangular broadcast join:
    # rank = 1 + how many of the k rows sort strictly before
    top = pairs.orderBy(F.desc("n"), F.asc("pair")).limit(_BPE_TOPK)
    b = top.select(F.col("n").alias("b_n"), F.col("pair").alias("b_pair"))
    before = (F.col("b_n") > F.col("n")) | (
        (F.col("b_n") == F.col("n")) & (F.col("b_pair") < F.col("pair"))
    )
    return (
        top.join(F.broadcast(b), before, "left")
        .groupBy("pair", "n")
        .agg((F.count("b_pair") + 1).cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# t33_bpe_train — the FULL BPE training loop (round-6 verdict ask #6).
#
# t30 proves one count-and-rank step; training is the closed loop:
# count adjacent symbol pairs across the word histogram, merge the
# most frequent pair everywhere, re-segment, repeat.  Segmentations
# are space-delimited symbol strings with sentinel spaces
# (" a b c "); re-segmentation is a left-to-right greedy FOLD over
# the symbol array (append each symbol; when the incoming symbol is
# the pair's right half and the rebuilt string's trailing symbol is
# its left half, pop the tail and append the merged symbol instead).
# A just-merged symbol can never be re-consumed as a left half in the
# same pass (merged = left||right ≠ left since right is non-empty),
# so the fold is EXACTLY the reference greedy rule — merge at i, skip
# to i+2 — including overlapping runs (" a n a n a n " → an/an/an,
# " a a a a a " → aa/aa/a), which a single literal replace of
# " a b "→" ab " gets wrong because the match consumes the shared
# sentinel space (the round-7 advisor finding).  Boundary-safe
# because every symbol is space-wrapped and symbols never contain
# spaces; tests/test_pipeline_ext2.py::TestBpeTrain pins the table
# against a from-scratch sequential trainer.
#
# Scale shape: the corpus collapses to its word HISTOGRAM once (the
# only corpus-scale shuffle, the t30/t14 two-phase rule); each of the
# 16 iterations then costs one vocabulary-bounded pair aggregation
# plus a 1-row argmax (bounded driver artifact, the e7/pr1
# discipline) — the reason BPE training is feasible on 100 TB at all.
# Each iteration's re-segmentation localCheckpoints the vocabulary-
# bounded histogram so plan depth stays one fold per job (16 nested
# higher-order functions would defeat codegen and re-evaluate the
# whole chain every iteration).  The oracle unrolls the same
# recurrence as 16 CTE stages with DuckDB's list_reduce fold.
# ---------------------------------------------------------------------------

_BPE_TRAIN_MERGES = 16

# Driver-side trainer (r14, guide §4.1/§2.4): the merge recurrence
# is information-sequential — each argmax depends on the previous
# fold — so the distributed loop's floor is n_merges sequential driver
# round-trips (~150 ms each locally = the measured wall of every
# train-bearing query after the r13 fixes).  The vocabulary histogram
# is BOUNDED (the loop's own scale invariant: the corpus collapses to
# its word histogram once, and the merge table is already collected
# driver-side), so when the measured vocabulary fits under the
# session's driver-collect cap (session.collect_under_cap, one cell
# per histogram row) the recurrence runs in the driver over the
# collected histogram — the published single-node trainer shape — and
# ships the result as the same bounded artifacts.  Above the cap (a
# 100 TB corpus can hold ~10-100 M distinct tokens ≈ GBs with
# segmentations) the distributed loop below runs unchanged.


def _bpe_train_driver(
    rows: list, n_merges: int
) -> tuple[list[tuple[str, str, int]], list[tuple[str, int, str]]]:
    """The 16-merge recurrence over the COLLECTED (tok, n) histogram —
    arithmetic-identical to the distributed fold (pair = corpus-
    weighted adjacent-symbol count; argmax by count desc then pair
    lexicographic, which matches Spark's UTF8 binary string order
    because UTF-8 byte order equals code-point order; merge applied
    as the exact left-to-right greedy fold of ``_bpe_apply_merge``).
    Returns (merges, seg_rows) with seg in sentinel-space form."""
    toks: list[str] = []
    ns: list[int] = []
    segs: list[str] = []
    for tok, n in rows:
        toks.append(tok)
        ns.append(int(n))
        # seg0: one space-wrapped single-character symbol per char —
        # Python str iteration is per code point, as Spark's substring
        segs.append(" " + " ".join(tok) + " ")
    merges: list[tuple[str, str, int]] = []
    for it in range(1, n_merges + 1):
        counts: dict[str, int] = {}
        for n, s in zip(ns, segs):
            syms = s.strip(" ").split(" ")
            for i in range(len(syms) - 1):
                p = " " + syms[i] + " " + syms[i + 1] + " "
                counts[p] = counts.get(p, 0) + n
        if not counts:
            raise ValueError(
                f"t33: vocabulary exhausted after {it - 1} merges "
                f"(need {n_merges}) — corpus too small"
            )
        pair = min(counts, key=lambda p: (-counts[p], p))
        m = pair.strip(" ").replace(" ", "")
        merged = " " + m + " "
        merges.append((pair, merged, counts[pair]))
        la, rb = pair.strip(" ").split(" ")
        for j, s in enumerate(segs):
            if pair in s:  # same exact-identity guard as the fold
                segs[j] = _bpe_fold_driver(s, la, rb, m)
    return merges, list(zip(toks, ns, segs))


def _bpe_fold_driver(seg: str, left: str, right: str, merged: str) -> str:
    """Python twin of ``_bpe_apply_merge`` over one sentinel-space
    segmentation: the same left-to-right fold (merge, then skip) on
    code-point strings, shared by the driver trainer and the driver
    encoder."""
    tail = " " + left + " "
    cut = len(left) + 1
    acc = " "
    for x in seg.strip(" ").split(" "):
        if x == right and acc.endswith(tail):
            acc = acc[:-cut] + merged + " "
        else:
            acc = acc + x + " "
    return acc


def _bpe_encode_driver(tok: str, merges: list[tuple[str, str]]) -> str:
    """Python twin of ``sources.tokenizer_store.encode_words`` for one
    word: character seg0, then each trimmed (pair, merged) merge in
    rank order through ``_bpe_fold_driver``.  Returns the trimmed
    segmentation."""
    seg = " " + " ".join(tok) + " "
    for pair, merged in merges:
        if " " + pair + " " in seg:  # the trainer's identity guard
            la, rb = pair.split(" ")
            seg = _bpe_fold_driver(seg, la, rb, merged)
    return seg.strip(" ")


def _bpe_apply_merge(seg, left: str, right: str, merged: str):
    """Exact greedy BPE merge application as a left-to-right fold
    over the sentinel-space segmentation: append each symbol; when
    the incoming symbol is ``right`` and the rebuilt string's
    trailing symbol is ``left``, pop the tail and append ``merged``
    instead (merge, then skip — the reference rule; a just-merged
    symbol can't be re-consumed because merged != left).  Dynamic
    symbols enter only as Column literals — raw-text symbols may
    contain quotes/backslashes, never inline them into SQL text."""
    tail = F.lit(" " + left + " ")
    return F.aggregate(
        F.split(F.trim(seg), " "),
        F.lit(" "),
        lambda acc, x: F.when(
            (x == F.lit(right)) & acc.endswith(tail),
            F.concat(
                F.substring(acc, F.lit(1), F.length(acc) - (len(left) + 1)),
                F.lit(merged),
                F.lit(" "),
            ),
        ).otherwise(F.concat(acc, x, F.lit(" "))),
    )


def _bpe_oracle_stages(where: str = "", prefix: str = "") -> str:
    """The DuckDB unroll of the training recurrence (seg0..seg16 with
    per-iteration pair counts p{it} and argmax b{it}), shared by the
    t33/t35/t25/t36 oracles and (with ``where`` restricting the
    training corpus to the base slice) s20's frozen-vocabulary leg.
    Carries tok through every stage so the encode oracle can key the
    final segmentation back to its word.  ``prefix`` renames every
    CTE ({prefix}words, {prefix}seg{it}, ...) so one oracle can unroll
    TWO tokenizers (c6 trains base + full in a single statement)."""
    q = prefix
    seg0 = (
        "' ' || array_to_string(list_transform(generate_series(1, "
        "len(tok)), i -> substr(tok, i, 1)), ' ') || ' '"
    )
    parts = [
        f"""{q}words AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({SQL_TOKS}) AS tok FROM documents{where})
  GROUP BY tok
)""",
        f"{q}seg0 AS MATERIALIZED (SELECT tok, n, {seg0} AS seg FROM {q}words)",
    ]
    for it in range(1, _BPE_TRAIN_MERGES + 1):
        prev = f"{q}seg{it - 1}"
        parts += [
            f"""{q}p{it} AS (
  SELECT ' ' || syms[i] || ' ' || syms[i + 1] || ' ' AS pair,
         CAST(SUM(n) AS BIGINT) AS n
  FROM (SELECT n, string_split(trim(seg), ' ') AS syms FROM {prev})
  CROSS JOIN LATERAL unnest(generate_series(1, len(syms) - 1)) AS t(i)
  WHERE len(syms) >= 2
  GROUP BY 1
)""",
            f"""{q}b{it} AS MATERIALIZED (
  SELECT pair, n,
         string_split(trim(pair), ' ')[1] AS la,
         string_split(trim(pair), ' ')[2] AS rb,
         replace(trim(pair), ' ', '') AS m
  FROM {q}p{it} ORDER BY n DESC, pair LIMIT 1
)""",
            f"""{q}seg{it} AS MATERIALIZED (
  SELECT s.tok, s.n,
         list_reduce(
           list_prepend(' ', string_split(trim(s.seg), ' ')),
           (acc, x) -> CASE
             WHEN x = b.rb AND ends_with(acc, ' ' || b.la || ' ')
             THEN substr(acc, 1, len(acc) - len(b.la) - 1) || b.m || ' '
             ELSE acc || x || ' ' END) AS seg
  FROM {prev} s CROSS JOIN {q}b{it} b
)""",
        ]
    return ",\n".join(parts)


def _bpe_encode_stages(src: str, out: str, merge_prefix: str = "") -> str:
    """DuckDB unroll of FROZEN-merge-list encoding: CTEs {out}0 ..
    {out}N segment the distinct ``tok`` column of CTE ``src`` by
    rank-ordered greedy application of the merges learned in
    {merge_prefix}b1..bN — the oracle twin of
    ``sources.tokenizer_store.encode_words`` (shared by s20 and c6)."""
    seg0 = (
        "' ' || array_to_string(list_transform(generate_series(1, "
        "len(tok)), i -> substr(tok, i, 1)), ' ') || ' '"
    )
    parts = [f"{out}0 AS MATERIALIZED (SELECT tok, {seg0} AS seg FROM {src})"]
    for it in range(1, _BPE_TRAIN_MERGES + 1):
        parts.append(
            f"""{out}{it} AS MATERIALIZED (
  SELECT s.tok,
         list_reduce(
           list_prepend(' ', string_split(trim(s.seg), ' ')),
           (acc, x) -> CASE
             WHEN x = b.rb AND ends_with(acc, ' ' || b.la || ' ')
             THEN substr(acc, 1, len(acc) - len(b.la) - 1) || b.m || ' '
             ELSE acc || x || ' ' END) AS seg
  FROM {out}{it - 1} s CROSS JOIN {merge_prefix}b{it} b
)"""
        )
    return ",\n".join(parts)


def _t33_oracle() -> str:
    rows = "\nUNION ALL ".join(
        f"SELECT {it} AS step, trim(pair) AS pair, "
        f"replace(trim(pair), ' ', '') AS merged, n FROM b{it}"
        for it in range(1, _BPE_TRAIN_MERGES + 1)
    )
    return (
        f"WITH {_bpe_oracle_stages()}\n"
        f"SELECT CAST(step AS BIGINT) AS step, pair, merged, n FROM ({rows})"
    )


@register(
    "t33_bpe_train",
    oracle=_t33_oracle(),
    description="FULL BPE TRAINING LOOP: 16 merges learned end-to-end "
    "— per iteration, exact corpus-weighted adjacent symbol-pair "
    "counts over the word histogram, argmax merge (count desc, pair "
    "lex tie-break), exact greedy re-segmentation via a left-to-right "
    "fold over sentinel-space-delimited symbol strings (merge, then "
    "skip — correct on overlapping runs, pinned vs a sequential "
    "trainer in pytest). "
    "Output is the learned merge table (step, pair, merged, n) — what "
    "a tokenizer trainer ships. Corpus-scale work is the ONE word-"
    "histogram shuffle; each iteration is vocabulary-bounded plus a "
    "1-row argmax (e7/pr1 bounded-artifact discipline). The oracle "
    "unrolls the identical recurrence as 16 CTE stages (tokenizer "
    "training tier: t25 fertility, t30 one step, t33 the loop). "
    "NOTE: training runs ONCE in production — "
    "sources/tokenizer_store.py persists this loop's artifact and "
    "t25b/t35b serve from it; this entry is the trainer itself, so "
    "its wall IS the train-once cost, not a serving cost.",
)
def t33_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_train_segmentation(spark, sf_dir)
    rows = [
        (it + 1, p.strip(), m.strip(), n)
        for it, (p, m, n) in enumerate(merges)
    ]
    return local_rows_df(
        spark, rows, "step long, pair string, merged string, n long"
    )


# ---------------------------------------------------------------------------
# t35_bpe_encode — the ENCODE pass that closes the tokenizer loop.
#
# t33 learns the merge table; t35 applies it: each corpus word is
# segmented by applying the 16 learned merges in RANK ORDER, one
# exact greedy pass each (_bpe_apply_merge — merge, then skip).  On
# the training corpus that is by construction the trainer's own final
# segmentation state, which is the invariant the pytest replay pins:
# a sequential encoder applying the t33 merge list word-by-word must
# reproduce every segmentation here.  Output is the top-500 words by
# corpus frequency (n desc, tok lex tie-break) with their BPE
# segmentation and symbol count — the per-word view behind t25's
# corpus-wide real-BPE fertility report (rewired in round 9).
#
# Scale shape: identical to t33 (the two-phase word-histogram rule —
# corpus collapses to its vocabulary once; every encode step is
# vocabulary-bounded), plus one TakeOrdered top-500 over the
# vocabulary — never a partition-less rank window (the global-window
# discipline); ranks attach driver-side on the bounded artifact (the
# e7/pr1 rule).  The oracle unrolls the same 16 stages and reads the
# final segmentation from seg16.
# ---------------------------------------------------------------------------

_BPE_ENCODE_TOPK = 500


def _t35_oracle() -> str:
    return f"""WITH {_bpe_oracle_stages()}
SELECT CAST(rank AS BIGINT) AS rank, tok, n, trim(seg) AS seg,
       CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sym
FROM (
  SELECT tok, n, seg,
         row_number() OVER (ORDER BY n DESC, tok) AS rank
  FROM seg{_BPE_TRAIN_MERGES}
) WHERE rank <= {_BPE_ENCODE_TOPK}"""


@register(
    "t35_bpe_encode",
    oracle=_t35_oracle(),
    description="BPE ENCODE PASS (train -> apply, the closed "
    "tokenizer loop): segment the corpus with t33's learned merge "
    "list, applied in rank order as exact greedy folds over the word "
    "histogram — top-500 words by corpus frequency with their BPE "
    "segmentation and symbol count (real-BPE fertility per word). "
    "On the training corpus this equals the trainer's final "
    "segmentation state, pinned in pytest against a sequential "
    "encoder. Same two-phase vocabulary-bounded shape as t33 plus "
    "one vocabulary-sized rank window; the oracle unrolls the "
    "identical 16 CTE stages and reads seg16. NOTE: this entry "
    "RE-TRAINS IN-QUERY as its standalone contract; the PRODUCTION "
    "path is t35b_encode_top_from_store, which serves the identical "
    "result from the persisted artifact at ~13x less wall",
)
def t35_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, seg = _bpe_train_segmentation(spark, sf_dir)
    # top-k via TakeOrdered (never a partition-less rank window — the
    # global-window discipline); ranks attach driver-side on the
    # bounded top-500 artifact (the e7/pr1 bounded-collect rule)
    rows = (
        seg.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_BPE_ENCODE_TOPK)
        .select(
            "tok",
            "n",
            F.trim(F.col("seg")).alias("seg"),
            F.size(F.split(F.trim(F.col("seg")), " "))
            .cast("long")
            .alias("n_sym"),
        )
        .collect()
    )
    out = [
        (i + 1, r["tok"], r["n"], r["seg"], r["n_sym"])
        for i, r in enumerate(rows)
    ]
    return local_rows_df(
        spark, out, "rank long, tok string, n long, seg string, n_sym long"
    )


@register(
    "t35b_encode_top_from_store",
    oracle=None,  # attached below — t35's oracle verbatim
    description="BPE ENCODED VOCABULARY FROM THE PERSISTED STORE — "
    "t35's artifact-backed twin, the path a production pipeline "
    "actually runs: the top-500 encoded-vocabulary view reads "
    "straight from the persisted segmentation (exactness inherited "
    "from the t36 parity gate) — no training loop, no encode folds, "
    "one TakeOrdered on the KB-scale artifact. The store is built at "
    "most once per (application, table fingerprint) — the session "
    "artifact cache stands in for the lake's pre-existing artifact "
    "(the t25b discipline). "
    "Same oracle as t35: identical output, served from the artifact",
)
def t35b_encode_top_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.sources import tokenizer_store as ts

    return ts.encode_top_from_store(
        spark, ts.tokenizer_store_cached(spark, sf_dir), topk=_BPE_ENCODE_TOPK
    )


def _t35b_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query

    q = REGISTRY["t35b_encode_top_from_store"]
    REGISTRY["t35b_encode_top_from_store"] = Query(
        name=q.name,
        spark=q.spark,
        oracle=REGISTRY["t35_bpe_encode"].oracle,
        description=q.description,
    )


_t35b_attach_oracle()


# ---------------------------------------------------------------------------
# t36_tokenizer_artifact_parity — the PERSISTED tokenizer contract.
#
# Round 9's honest cost: every real-BPE consumer (t25, t35) re-runs
# the 16-merge training loop in-query because no tokenizer artifact
# existed.  sources/tokenizer_store.py is the artifact (train once ->
# parquet merges + segmentation, the ann_index precedent); t36 is the
# differential gate that the ARTIFACT PATH is exact: build the store,
# load it back from disk, re-encode the corpus vocabulary with the
# LOADED merge list, and emit order-independent exact fingerprints of
# every leg.  The oracle computes the same fingerprints from the
# in-query training recurrence (the 16 unrolled CTE stages), so ANY
# divergence in persist -> load -> re-apply — a quoting bug in the
# parquet round-trip, a rank-order slip in merge application, a
# trimmed-sentinel mismatch — breaks the hash match.
#
# Fingerprints are SUMs of 32-bit md5 prefixes (the ev12 cross-engine
# recipe: Spark conv(substring(md5 ..)) == DuckDB ('0x' || substr(md5
# ..))::BIGINT) — order-independent, exact integers, no float drift.
# reencode_hash == segmentation_hash additionally pins the t35
# invariant THROUGH the artifact: rank-ordered greedy application of
# the loaded merges reproduces the trainer's final state.
#
# Scale shape: one t33 training run (the one corpus-histogram
# shuffle), one vocabulary-bounded store write + read-back (pinned
# schemas, the merge table read once), one corpus pass for the
# vocabulary, and vocabulary-bounded hash aggregations.  The
# re-encode leg runs the driver fold (_bpe_encode_driver, which the
# s20 gate and t25b share and tests pin equal to encode_words) under
# the driver-collect cap, and encode_words' 16 folds above it.  The
# store lands in a fresh mkdtemp dir deleted after the bounded 5-row
# result materializes (the ext_orc_roundtrip discipline — concurrent
# runs never race on a shared path).
# ---------------------------------------------------------------------------


def _md5_32(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _md5_32_driver(text: str) -> int:
    """Python twin of ``_md5_32`` (hashlib md5 == Spark/DuckDB md5 over
    the UTF-8 bytes)."""
    import hashlib

    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


def _t36_oracle() -> str:
    mrows = "\nUNION ALL ".join(
        f"SELECT {it} AS step, trim(pair) AS pair, "
        f"replace(trim(pair), ' ', '') AS merged, n FROM b{it}"
        for it in range(1, _BPE_TRAIN_MERGES + 1)
    )
    h_seg = (
        "CAST(('0x' || substr(md5(tok || '|' || seg), 1, 8)) AS BIGINT)"
    )
    h_merge = (
        "CAST(('0x' || substr(md5(CAST(step AS VARCHAR) || '|' || pair "
        "|| '|' || merged || '|' || CAST(n AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
    return f"""WITH {_bpe_oracle_stages()},
final AS MATERIALIZED (
  SELECT tok, n, trim(seg) AS seg,
         CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sym
  FROM seg{_BPE_TRAIN_MERGES}
), mrows AS ({mrows})
SELECT 'corpus_bpe_tokens' AS check_name,
       CAST(SUM(n * n_sym) AS BIGINT) AS value FROM final
UNION ALL
SELECT 'merge_table_hash', CAST(SUM({h_merge}) AS BIGINT) FROM mrows
UNION ALL
SELECT 'n_words', CAST(COUNT(*) AS BIGINT) FROM final
UNION ALL
SELECT 'reencode_hash', CAST(SUM({h_seg}) AS BIGINT) FROM final
UNION ALL
SELECT 'segmentation_hash', CAST(SUM({h_seg}) AS BIGINT) FROM final"""


@register(
    "t36_tokenizer_artifact_parity",
    oracle=_t36_oracle(),
    description="PERSISTED TOKENIZER PARITY GATE: train the 16-merge "
    "BPE tokenizer, persist it (sources/tokenizer_store.py — parquet "
    "merge table + vocabulary segmentation, the ann_index artifact "
    "precedent), load it back from disk, re-encode the corpus "
    "vocabulary with the LOADED merge list, and fingerprint every "
    "leg with order-independent 32-bit-md5 sums (merge table, "
    "persisted segmentation, re-encoded segmentation, corpus BPE "
    "token count, vocabulary size). The oracle re-derives the same "
    "fingerprints from the in-query training recurrence, so any "
    "persist/load/re-apply divergence breaks the hash match — "
    "artifact-backed consumers (t25/t35 twins) inherit exactness "
    "from this gate. reencode_hash == segmentation_hash pins the "
    "train->apply closure THROUGH the artifact",
)
def t36_tokenizer_artifact_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dww_data_pipeline_spark.sources import tokenizer_store as ts

    d = load_table(spark, sf_dir, "documents")
    store = tempfile.mkdtemp(prefix="dww_tokstore_parity_")
    try:
        ts.build_tokenizer_store(d, store, n_merges=_BPE_TRAIN_MERGES)
        # bounded: n_merges rows, read once for the list and the hash
        mrows = sorted(
            ts.load_merge_table(spark, store).collect(), key=lambda r: r["step"]
        )
        merges = [(r["pair"], r["merged"]) for r in mrows]
        seg = ts.load_segmentation(spark, store)
        h_seg = _md5_32(F.concat_ws("|", "tok", "seg"))
        agg = seg.agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("n") * F.col("n_sym")).alias("corpus_bpe_tokens"),
            F.sum(h_seg).alias("segmentation_hash"),
        ).collect()[0]
        merge_hash = sum(
            _md5_32_driver(f"{r['step']}|{r['pair']}|{r['merged']}|{r['n']}")
            for r in mrows
        )
        # the re-encode leg is vocabulary-bounded: the driver fold under
        # the BPE driver cap, encode_words over the same cached
        # vocabulary above it
        vocab = (
            d.select(F.explode(spark_tokens(F.col("text"))).alias("tok"))
            .distinct()
        )
        with persisted(vocab):
            got = collect_under_cap(vocab)
            if got is not None:
                re_hash = sum(
                    _md5_32_driver(f"{t}|{_bpe_encode_driver(t, merges)}")
                    for (t,) in got
                )
            else:
                reenc = ts.encode_words(vocab, merges)
                re_hash = reenc.agg(F.sum(h_seg).alias("h")).collect()[0]["h"]
    finally:
        shutil.rmtree(store, ignore_errors=True)
    rows = [
        ("corpus_bpe_tokens", int(agg["corpus_bpe_tokens"])),
        ("merge_table_hash", int(merge_hash)),
        ("n_words", int(agg["n_words"])),
        ("reencode_hash", int(re_hash)),
        ("segmentation_hash", int(agg["segmentation_hash"])),
    ]
    return local_rows_df(spark, rows, "check_name string, value long")


# ---------------------------------------------------------------------------
# s20_tokenizer_staleness_gate — the tokenizer LIFECYCLE decision.
#
# The missing production step between persisting a tokenizer
# (sources/tokenizer_store.py, gated by t36) and trusting it: the
# vocabulary is FROZEN at train time, so as documents keep arriving
# the token distribution drifts — new scripts/domains produce
# out-of-vocabulary words and fertility decay (more symbols per
# character than the training corpus paid).  s20 measures both and
# emits the retrain/keep decision as an oracle-checked quantity —
# s19's index-lifecycle pattern transplanted onto the tokenizer.
#
# Deterministic lifecycle simulation on the documents table (the s19
# split, verbatim): the BASE corpus is doc_id % 4 != 3 (the
# tokenizer's training set); the remaining quarter ARRIVES in four
# steps (step = (doc_id % 16)//4 + 1).  The tokenizer is trained on
# BASE ONLY and frozen; arriving words segment via rank-ordered
# greedy application of the frozen merge list (encode_words — OOV
# words segment fine, BPE encoding is merge application, not a
# lookup).  Per step s in 0..4 (cumulative arrivals with step <= s):
#
#   * OOV leg: corpus-weighted share of arriving word tokens absent
#     from the frozen training vocabulary — exact integers;
#   * fertility leg: chars-per-BPE-token of the arrived stream under
#     the frozen tokenizer vs the training corpus' own fertility —
#     drift compared by integer cross-multiply (DECIMAL(38,0) on
#     both sides: chars x tokens products overflow BIGINT at 100 TB,
#     the dq10 rule);
#   * decision: retrain iff OOV share > 1/4 (4*oov > total) OR
#     relative fertility drift > 1/8
#     (8*|chars_a*toks_b - chars_b*bpe_a| > chars_b*bpe_a).
#
# Scale shape: ONE pass over the arriving slice builds its per-step
# word histogram and doc counts (the corpus-scale shuffles); every
# gate input after that is vocabulary-bounded — the frozen
# segmentation, the merge list, the (step, tok, n) histogram.  Under
# the driver-collect cap (the BPE trainer's switch) the inputs are
# collected behind limit(cap + 1) guards, novel words encode through
# the same Python greedy fold the driver trainer uses, and the exact
# integer sums run in the driver; one local table of 5 sum rows
# feeds the Spark projection that does the rounded ratios and the
# DECIMAL(38,0) decision.  Above the cap the distributed plan runs
# instead: 16 encode folds over the arrived vocab, a |steps|x|vocab|
# join (steps broadcast), a 5-row grid left-joined so zero-arrival
# steps still emit rows (the s19 zero-hits rule).  The oracle
# re-derives the frozen tokenizer with the 16 CTE training stages
# restricted to the base slice and encodes the arrived vocabulary
# with 16 more fold stages.
# ---------------------------------------------------------------------------

_S20_STEPS = 4


_GATE_SUMS_SCHEMA = (
    "s long, n_docs long, n_tokens long, oov_tokens long, chars_a long, "
    "bpe_a long, chars_b long, toks_b long"
)


def tokenizer_staleness_gate(
    base_seg: DataFrame,
    arrived_words: DataFrame,
    arrived_doc_counts: DataFrame,
    merges: list[tuple[str, str]],
    n_steps: int,
    cumulative: bool = True,
) -> DataFrame:
    """The s20 core over any frozen tokenizer — factored so the
    artifact-parity pytest can feed it the PERSISTED store
    (load_segmentation + load_merge_list) and require the identical
    gate as the in-query-trained path; c6 runs it through
    ``tokenizer_lifecycle_tick`` and st19 per step.

    ``base_seg``: the frozen vocabulary in store format
    (tok, n, seg, n_sym — seg trimmed).  ``arrived_words``:
    (step, tok, n) per-step word histogram of the arriving stream,
    step in 1..n_steps.  ``arrived_doc_counts``: (step, n_docs).
    ``merges``: the frozen merge list [(pair, merged)], trimmed.
    ``cumulative``: step s counts the arrivals with step <= s and the
    grid is 0..n_steps (s20, c6); otherwise step == s over 1..n_steps
    (st19's per-batch monitor).  Emits one row per grid step.

    All three inputs are vocabulary-bounded, so when each fits under
    the driver-collect cap they are collected and the exact integer
    sums run in the driver (novel words encode through
    ``_bpe_encode_driver``; in-vocabulary words read the stored
    n_sym, which is the same fold's output by the train->apply
    closure).  Above the cap the distributed plan runs over the cached
    arrivals.  The final ratio/decision projection is Spark's on
    both paths, and the result is backed by local rows either way, so
    it stays valid after the store's files are deleted."""
    spark = base_seg.sparkSession
    first = 0 if cumulative else 1
    seg = base_seg.select("tok", "n", "n_sym")
    # both arrival inputs are corpus-scale aggregates: one tagged frame,
    # persisted before its probe so the above-cap plan reuses it; the
    # frozen vocabulary is vocabulary-scale and is simply read again
    arrivals = (
        arrived_words.select(F.lit(False).alias("is_docs"), "step", "tok", "n")
        .unionByName(
            arrived_doc_counts.select(
                F.lit(True).alias("is_docs"),
                "step",
                F.lit(None).cast("string").alias("tok"),
                F.col("n_docs").alias("n"),
            )
        )
    )
    with persisted(arrivals):
        seg_rows = collect_under_cap(seg)
        arr_rows = None if seg_rows is None else collect_under_cap(arrivals)
        if arr_rows is not None:
            sums = _gate_sums_driver(
                seg_rows, arr_rows, merges, first, n_steps, cumulative
            )
            return local_rows_df(spark, sums, _GATE_SUMS_SCHEMA).selectExpr(
                *_GATE_DECISION_SQL
            )
        words = arrivals.filter(~F.col("is_docs")).select("step", "tok", "n")
        docs = arrivals.filter("is_docs").select(
            "step", F.col("n").alias("n_docs")
        )
        out = _gate_sums_spark(
            seg, words, docs, merges, first, n_steps, cumulative
        ).selectExpr(*_GATE_DECISION_SQL)
        # bounded: one row per grid step, collected while inputs are cached
        return local_rows_df(spark, out.collect(), out.schema)


def _gate_sums_driver(
    seg_rows: list,
    arr_rows: list,
    merges: list[tuple[str, str]],
    first: int,
    n_steps: int,
    cumulative: bool,
) -> list[tuple]:
    """The gate's exact integer sums over the collected inputs — the
    frozen vocabulary (tok, n, n_sym) and the tagged arrivals
    (is_docs, step, tok, n) — one ``_GATE_SUMS_SCHEMA`` row per grid
    step."""
    nsym = {tok: k for tok, _n, k in seg_rows}
    chars_b = toks_b = None  # SUM over no rows is NULL, as in Spark
    if seg_rows:
        chars_b = sum(n * len(tok) for tok, n, _k in seg_rows)
        toks_b = sum(n * k for _tok, n, k in seg_rows)
    # per arrival step: [n_docs, n_tokens, oov_tokens, chars_a, bpe_a]
    per_step: dict = {}
    novel: dict[str, int] = {}
    for is_docs, step, tok, n in arr_rows:
        acc = per_step.setdefault(step, [0] * 5)
        if is_docs:
            acc[0] += n
            continue
        k = nsym.get(tok)
        oov = 0
        if k is None:
            k = novel.get(tok)
            if k is None:
                k = novel[tok] = _bpe_encode_driver(tok, merges).count(" ") + 1
            oov = n
        acc[1] += n
        acc[2] += oov
        acc[3] += n * len(tok)
        acc[4] += n * k
    rows = []
    for s in range(first, n_steps + 1):
        tot = [0] * 5
        for step, acc in per_step.items():
            if step is not None and (step <= s if cumulative else step == s):
                tot = [a + b for a, b in zip(tot, acc)]
        rows.append((s, *tot, chars_b, toks_b))
    return rows


def _gate_sums_spark(
    base_seg: DataFrame,
    arrived_words: DataFrame,
    arrived_doc_counts: DataFrame,
    merges: list[tuple[str, str]],
    first: int,
    n_steps: int,
    cumulative: bool,
) -> DataFrame:
    """The distributed twin of ``_gate_sums_driver`` (the above-cap
    path): 16 encode folds over the arrived vocabulary, a
    |steps| x |vocab| join (steps broadcast), and a steps grid
    left-joined so zero-arrival steps still emit rows (the s19
    zero-hits rule)."""
    from dww_data_pipeline_spark.sources.tokenizer_store import encode_words

    spark = base_seg.sparkSession
    steps = spark.range(first, n_steps + 1).select(F.col("id").alias("s"))

    def hit():
        return (
            F.col("step") <= F.col("s") if cumulative
            else F.col("step") == F.col("s")
        )

    # frozen-tokenizer totals: one 1-row aggregate, cross-joined back
    bt = base_seg.agg(
        F.sum(F.col("n") * F.length("tok")).alias("chars_b"),
        F.sum(F.col("n") * F.col("n_sym")).alias("toks_b"),
    )
    # arrived vocabulary, segmented by the FROZEN merge list
    enc = encode_words(arrived_words.select("tok").distinct(), merges).select(
        "tok", "n_sym"
    )
    arr = (
        arrived_words.join(F.broadcast(enc), "tok")
        .join(
            base_seg.select("tok", F.lit(1).alias("in_vocab")), "tok", "left"
        )
        .join(F.broadcast(steps), hit())
    )
    cum = arr.groupBy("s").agg(
        F.sum("n").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0)).alias(
            "oov_tokens"
        ),
        F.sum(F.col("n") * F.length("tok")).alias("chars_a"),
        F.sum(F.col("n") * F.col("n_sym")).alias("bpe_a"),
    )
    docs = (
        steps.join(arrived_doc_counts, hit(), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs"))
    )
    z = F.lit(0).cast("long")
    return (
        steps.join(cum, "s", "left")
        .join(docs, "s")
        .crossJoin(F.broadcast(bt))
        .select(
            "s",
            "n_docs",
            F.coalesce("n_tokens", z).alias("n_tokens"),
            F.coalesce("oov_tokens", z).alias("oov_tokens"),
            F.coalesce("chars_a", z).alias("chars_a"),
            F.coalesce("bpe_a", z).alias("bpe_a"),
            "chars_b",
            "toks_b",
        )
    )


# The gate's output projection over ``_GATE_SUMS_SCHEMA`` sums: rounded
# ratios and the retrain decision (OOV share > 1/4 OR relative
# fertility drift > 1/8, integer cross-multiplies in DECIMAL(38,0)).
# Fixed column names only, so it is SQL text: one call builds it.
_GATE_DECISION_SQL = (
    "CAST(s AS BIGINT) AS step",
    "n_docs AS n_docs_arrived",
    "n_tokens AS n_tokens_arrived",
    "oov_tokens",
    "CASE WHEN n_tokens > 0 THEN round(CAST(oov_tokens AS DOUBLE)"
    " / CAST(n_tokens AS DOUBLE), 6) ELSE 0.0D END AS oov_rate",
    "chars_a AS chars_arrived",
    "bpe_a AS bpe_tokens_arrived",
    "CASE WHEN bpe_a > 0 THEN round(CAST(chars_a AS DOUBLE)"
    " / CAST(bpe_a AS DOUBLE), 6) END AS fertility_arrived",
    "round(CAST(chars_b AS DOUBLE) / CAST(toks_b AS DOUBLE), 6)"
    " AS fertility_base",
    "(4 * oov_tokens > n_tokens) OR (bpe_a > 0 AND"
    " CAST(8 AS DECIMAL(38,0)) * abs(CAST(chars_a AS DECIMAL(38,0)) * toks_b"
    " - CAST(chars_b AS DECIMAL(38,0)) * bpe_a)"
    " > CAST(chars_b AS DECIMAL(38,0)) * bpe_a) AS retrain",
)


def _s20_oracle() -> str:
    aseg_sql = _bpe_encode_stages("av", "aseg")
    return f"""WITH {_bpe_oracle_stages(" WHERE doc_id % 4 != 3")},
aw AS MATERIALIZED (
  SELECT CAST((doc_id % 16) // 4 AS INT) + 1 AS step, tok,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS tok
        FROM documents WHERE doc_id % 4 = 3)
  GROUP BY 1, 2
), adc AS (
  SELECT CAST((doc_id % 16) // 4 AS INT) + 1 AS step,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id % 4 = 3 GROUP BY 1
), av AS MATERIALIZED (SELECT DISTINCT tok FROM aw),
{aseg_sql},
aenc AS MATERIALIZED (
  SELECT tok,
         CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sym
  FROM aseg{_BPE_TRAIN_MERGES}
), bt AS (
  SELECT CAST(SUM(n * len(tok)) AS BIGINT) AS chars_b,
         CAST(SUM(n * len(string_split(trim(seg), ' '))) AS BIGINT) AS toks_b
  FROM seg{_BPE_TRAIN_MERGES}
), steps AS (
  SELECT CAST(unnest(generate_series(0, {_S20_STEPS})) AS INT) AS s
), cum AS (
  SELECT st.s,
         CAST(COALESCE(SUM(aw.n), 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(CASE WHEN w.tok IS NULL THEN aw.n
                                ELSE 0 END), 0) AS BIGINT) AS oov_tokens,
         CAST(COALESCE(SUM(aw.n * len(aw.tok)), 0) AS BIGINT) AS chars_a,
         CAST(COALESCE(SUM(aw.n * e.n_sym), 0) AS BIGINT) AS bpe_a
  FROM steps st
  LEFT JOIN aw ON aw.step <= st.s
  LEFT JOIN aenc e ON e.tok = aw.tok
  LEFT JOIN words w ON w.tok = aw.tok
  GROUP BY st.s
), cd AS (
  SELECT st.s, CAST(COALESCE(SUM(adc.n_docs), 0) AS BIGINT) AS n_docs
  FROM steps st LEFT JOIN adc ON adc.step <= st.s GROUP BY st.s
)
SELECT CAST(c.s AS BIGINT) AS step,
       cd.n_docs AS n_docs_arrived,
       c.n_tokens AS n_tokens_arrived,
       c.oov_tokens,
       CASE WHEN c.n_tokens > 0
            THEN round(CAST(c.oov_tokens AS DOUBLE) / c.n_tokens, 6)
            ELSE 0.0 END AS oov_rate,
       c.chars_a AS chars_arrived,
       c.bpe_a AS bpe_tokens_arrived,
       CASE WHEN c.bpe_a > 0
            THEN round(CAST(c.chars_a AS DOUBLE) / c.bpe_a, 6) END
         AS fertility_arrived,
       round(CAST(bt.chars_b AS DOUBLE) / bt.toks_b, 6) AS fertility_base,
       (4 * c.oov_tokens > c.n_tokens) OR
       (c.bpe_a > 0 AND
        8 * abs(CAST(c.chars_a AS DECIMAL(38,0)) * bt.toks_b
                - CAST(bt.chars_b AS DECIMAL(38,0)) * c.bpe_a)
          > CAST(bt.chars_b AS DECIMAL(38,0)) * c.bpe_a) AS retrain
FROM cum c JOIN cd ON cd.s = c.s CROSS JOIN bt"""


@register(
    "s20_tokenizer_staleness_gate",
    oracle=_s20_oracle(),
    description="TOKENIZER STALENESS GATE (s19's lifecycle pattern on "
    "the frozen tokenizer): train on the base slice (doc_id%4!=3), "
    "freeze; the remaining quarter arrives in 4 steps. Per cumulative "
    "step: corpus-weighted OOV share of arriving word tokens vs the "
    "frozen vocabulary, fertility of the arrived stream under the "
    "frozen merge list (rank-ordered greedy encode — OOV words "
    "segment by merge application, not lookup) vs the training "
    "corpus' own fertility, and the retrain/keep decision (OOV > 1/4 "
    "OR relative fertility drift > 1/8, integer cross-multiplies in "
    "DECIMAL(38,0) — chars x tokens overflows BIGINT at 100 TB). One "
    "corpus pass builds the arriving word histogram; everything else "
    "is vocabulary-bounded and summed in the driver under the BPE "
    "driver cap (16 encode folds and steps-grid joins above it); "
    "zero-arrival steps still emit rows (the s19 zero-hits rule). "
    "Oracle re-derives the frozen tokenizer with base-restricted CTE "
    "training stages + 16 arrived-vocab encode stages",
)
def s20_tokenizer_staleness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base_docs = d.filter(F.col("doc_id") % 4 != 3)
    merges_raw, seg_raw = bpe_train_segmentation_df(base_docs)
    base_seg = seg_raw.select(
        "tok",
        "n",
        F.trim(F.col("seg")).alias("seg"),
        F.size(F.split(F.trim(F.col("seg")), " ")).cast("long").alias("n_sym"),
    )
    merges = [(p.strip(), m.strip()) for p, m, _ in merges_raw]
    arrived_words, arrived_doc_counts = _s20_arrivals(d)
    return tokenizer_staleness_gate(
        base_seg, arrived_words, arrived_doc_counts, merges, _S20_STEPS
    )


def _s20_arrivals(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The s20 lifecycle simulation's arriving stream, as the gate's
    input shapes: the doc_id%4==3 quarter arrives in 4 steps; returns
    ((step, tok, n) word histogram, (step, n_docs)) — shared by s20
    and c6."""
    arr_docs = d.filter(F.col("doc_id") % 4 == 3).withColumn(
        "step", F.expr("CAST((doc_id % 16) DIV 4 AS INT) + 1")
    )
    arrived_words = (
        arr_docs.select("step", F.explode(spark_tokens(F.col("text"))).alias("tok"))
        .groupBy("step", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    arrived_doc_counts = arr_docs.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return arrived_words, arrived_doc_counts


# ---------------------------------------------------------------------------
# c6_tokenizer_lifecycle — gate -> rebuild -> swap, CLOSED.
#
# s20 emits the retrain/keep decision and sources/tokenizer_store.py
# has the artifact + swap discipline, but until now nothing COMPOSED
# them (the r10 verdict's gap #3: "the lifecycle is measured but not
# closed" — tokenizer_store.py documented the rebuild as manual).
# c6 is the closure, the c4 composition discipline applied to
# s20 + t36: build the frozen store on the base slice (doc_id%4!=3),
# run the staleness gate over the arriving quarter WITH THE PERSISTED
# ARTIFACT (loaded segmentation + merge list — not an in-query
# retrain), and on a retrain verdict train a fresh store over the
# full corpus and swap it in atomically (sources.maintenance.swap_dir
# — two renames, rollback on failure, readers never see a
# half-written store).  The emitted rows prove the WHOLE flow:
# pre/post vocabulary fingerprints (order-independent 32-bit-md5
# sums, the t36 recipe), the gate quantities the decision was made
# from, and the decision/swap bits themselves.  post hash == pre hash
# exactly when the verdict was keep; == the full-corpus trainer's
# hash exactly when it was retrain — so the oracle (which unrolls
# BOTH tokenizers: base-trained via the WHERE-restricted CTE stages,
# full-trained via the prefixed ones) catches a swap that didn't
# happen, swapped the wrong artifact, or corrupted it.
#
# Scale shape: two t33 training runs at most (base always, full only
# on retrain — each one corpus-histogram shuffle, then vocabulary-
# bounded folds), the arriving slice's histogram shuffles, and
# bounded collects only: s20's gate core reads the persisted store
# with its pinned schema and, under the driver-collect cap, sums the
# gate in the driver (the distributed gate plan runs above the cap);
# then the 5-row gate table and the 1-row hash aggregates.  The
# stores are KB-scale artifacts in mkdtemp dirs deleted after the
# 9-row result materializes.
# ---------------------------------------------------------------------------


def _c6_oracle() -> str:
    h = "CAST(('0x' || substr(md5(tok || '|' || trim(seg)), 1, 8)) AS BIGINT)"
    dec = "DECIMAL(38,0)"
    return f"""WITH {_bpe_oracle_stages(" WHERE doc_id % 4 != 3")},
{_bpe_oracle_stages(prefix="f")},
aw AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({SQL_TOKS}) AS tok
        FROM documents WHERE doc_id % 4 = 3)
  GROUP BY tok
), av AS MATERIALIZED (SELECT DISTINCT tok FROM aw),
{_bpe_encode_stages("av", "aenc_s")},
aenc AS MATERIALIZED (
  SELECT tok,
         CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sym
  FROM aenc_s{_BPE_TRAIN_MERGES}
), bt AS (
  SELECT CAST(SUM(n * len(tok)) AS BIGINT) AS chars_b,
         CAST(SUM(n * len(string_split(trim(seg), ' '))) AS BIGINT) AS toks_b
  FROM seg{_BPE_TRAIN_MERGES}
), tot AS (
  SELECT CAST(COALESCE(SUM(aw.n), 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(CASE WHEN w.tok IS NULL THEN aw.n
                                ELSE 0 END), 0) AS BIGINT) AS oov_tokens,
         CAST(COALESCE(SUM(aw.n * len(aw.tok)), 0) AS BIGINT) AS chars_a,
         CAST(COALESCE(SUM(aw.n * e.n_sym), 0) AS BIGINT) AS bpe_a
  FROM aw
  LEFT JOIN aenc e ON e.tok = aw.tok
  LEFT JOIN words w ON w.tok = aw.tok
), dec AS (
  SELECT t.*,
         ((4 * t.oov_tokens > t.n_tokens) OR
          (t.bpe_a > 0 AND
           8 * abs(CAST(t.chars_a AS {dec}) * bt.toks_b
                   - CAST(bt.chars_b AS {dec}) * t.bpe_a)
             > CAST(bt.chars_b AS {dec}) * t.bpe_a)) AS retrain
  FROM tot t CROSS JOIN bt
), preh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS words, CAST(SUM({h}) AS BIGINT) AS hsh
  FROM seg{_BPE_TRAIN_MERGES}
), posth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS words, CAST(SUM({h}) AS BIGINT) AS hsh
  FROM fseg{_BPE_TRAIN_MERGES}
)
SELECT check_name, value FROM (
  SELECT 'gate_bpe_tokens_arrived' AS check_name, bpe_a AS value FROM dec
  UNION ALL SELECT 'gate_n_tokens_arrived', n_tokens FROM dec
  UNION ALL SELECT 'gate_oov_tokens', oov_tokens FROM dec
  UNION ALL SELECT 'post_segmentation_hash',
    (SELECT CASE WHEN d.retrain THEN posth.hsh ELSE preh.hsh END
     FROM preh, posth) FROM dec d
  UNION ALL SELECT 'post_vocab_words',
    (SELECT CASE WHEN d.retrain THEN posth.words ELSE preh.words END
     FROM preh, posth) FROM dec d
  UNION ALL SELECT 'pre_segmentation_hash', hsh FROM preh
  UNION ALL SELECT 'pre_vocab_words', words FROM preh
  UNION ALL SELECT 'retrain', CAST(CASE WHEN retrain THEN 1 ELSE 0 END
                                   AS BIGINT) FROM dec
  UNION ALL SELECT 'swapped', CAST(CASE WHEN retrain THEN 1 ELSE 0 END
                                   AS BIGINT) FROM dec
)"""


@register(
    "c6_tokenizer_lifecycle",
    oracle=_c6_oracle(),
    description="TOKENIZER LIFECYCLE, CLOSED (gate -> rebuild -> "
    "swap — the c4 composition discipline on s20 + t36): build the "
    "frozen store on the base slice (doc_id%4!=3), run s20's "
    "staleness gate over the arriving quarter with the PERSISTED "
    "artifact (loaded segmentation + merge list), and on a retrain "
    "verdict train a fresh store over the full corpus and swap it in "
    "atomically (sources.maintenance.swap_dir — rollback on failure, "
    "readers never see a half-written store). Emits the gate "
    "quantities, the decision/swap bits, and pre/post vocabulary "
    "fingerprints (order-independent 32-bit-md5 sums, the t36 "
    "recipe): post == pre iff keep, post == the full-corpus "
    "trainer's hash iff retrain, so the oracle (which unrolls BOTH "
    "tokenizers) catches a missing, wrong, or corrupted swap",
)
def c6_tokenizer_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dww_data_pipeline_spark.sources import tokenizer_store as ts

    d = load_table(spark, sf_dir, "documents")
    h_seg = _md5_32(F.concat_ws("|", "tok", "seg"))

    def _fingerprint(store: str):
        # bounded: 1-row aggregate over the vocabulary-scale artifact
        r = (
            ts.load_segmentation(spark, store)
            .agg(F.count(F.lit(1)).alias("words"), F.sum(h_seg).alias("hsh"))
            .collect()[0]
        )
        return int(r["words"]), int(r["hsh"])

    store = tempfile.mkdtemp(prefix="dww_tokstore_lc_")
    try:
        ts.build_tokenizer_store(
            d.filter(F.col("doc_id") % 4 != 3), store,
            n_merges=_BPE_TRAIN_MERGES,
        )
        pre_words, pre_hash = _fingerprint(store)
        arrived_words, arrived_doc_counts = _s20_arrivals(d)
        res = ts.tokenizer_lifecycle_tick(
            spark, store, arrived_words, arrived_doc_counts,
            retrain_corpus=d, n_steps=_S20_STEPS,
            n_merges=_BPE_TRAIN_MERGES,
        )
        post_words, post_hash = _fingerprint(store)
        final = max(res["gate"], key=lambda r: r["step"])
    finally:
        shutil.rmtree(store, ignore_errors=True)
    rows = [
        ("gate_bpe_tokens_arrived", int(final["bpe_tokens_arrived"])),
        ("gate_n_tokens_arrived", int(final["n_tokens_arrived"])),
        ("gate_oov_tokens", int(final["oov_tokens"])),
        ("post_segmentation_hash", post_hash),
        ("post_vocab_words", post_words),
        ("pre_segmentation_hash", pre_hash),
        ("pre_vocab_words", pre_words),
        ("retrain", int(res["retrain"])),
        ("swapped", int(res["swapped"])),
    ]
    return local_rows_df(spark, rows, "check_name string, value long")


# ---------------------------------------------------------------------------
# st19_stream_tokenizer_oov — s20's streaming twin: tokenizer-drift
# monitoring AT INGEST.  s20 is the cumulative lifecycle GATE (and c6
# closes its rebuild); st19 is the per-micro-batch MONITOR a
# production ingest runs continuously: each arriving batch gets
# OOV/fertility drift metrics under the FROZEN persisted tokenizer
# (never an in-stream retrain — the mixture-design discipline of
# st18 applied to the vocabulary).  Per-document metrics depend only
# on the frozen store and the document itself (the st13 contract), so
# union-of-batches == one-shot batch for ANY stream chopping —
# tests/test_stream_ingest.py asserts it, and
# streaming/tokenizer_ingest.py runs the same per-doc rows via
# foreachBatch.  The registered query simulates the arrival (s20's
# doc_id%4==3 quarter in 4 steps, each step = one micro-batch) and
# sums the batch's arriving words, with the per-batch alarm bit
# (s20's thresholds applied batch-locally: OOV share > 1/4 OR
# relative fertility drift > 1/8, DECIMAL(38,0) cross-multiplies).
# A batch's sums are the sums of its documents' per-doc rows, so the
# query runs s20's gate core with per-step (step == s) arrivals
# instead of cumulative ones — the only difference from s20.
#
# Scale shape: s20's — one pass over the arriving slice builds the
# (step, tok, n) histogram and per-step doc counts; the frozen store
# reads with its pinned schema; under the driver-collect cap the sums
# run in the driver with the Python encode fold over NOVEL words
# only, and above it the distributed gate plan (16 encode folds over
# the arrived vocab, steps broadcast) runs instead.  The steps grid
# (4 rows) keeps zero-arrival batches in the output (the s19 rule).
# The oracle re-derives the frozen tokenizer with base-restricted CTE
# stages and encodes the arrived vocabulary with 16 more fold stages
# — per STEP, not cumulative (the one structural difference from
# s20's oracle).
# ---------------------------------------------------------------------------


def _st19_oracle() -> str:
    dec = "DECIMAL(38,0)"
    return f"""WITH {_bpe_oracle_stages(" WHERE doc_id % 4 != 3")},
aw AS MATERIALIZED (
  SELECT CAST((doc_id % 16) // 4 AS INT) + 1 AS step, tok,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS tok
        FROM documents WHERE doc_id % 4 = 3)
  GROUP BY 1, 2
), adc AS (
  SELECT CAST((doc_id % 16) // 4 AS INT) + 1 AS step,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id % 4 = 3 GROUP BY 1
), av AS MATERIALIZED (SELECT DISTINCT tok FROM aw),
{_bpe_encode_stages("av", "aseg")},
aenc AS MATERIALIZED (
  SELECT tok,
         CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sym
  FROM aseg{_BPE_TRAIN_MERGES}
), bt AS (
  SELECT CAST(SUM(n * len(tok)) AS BIGINT) AS chars_b,
         CAST(SUM(n * len(string_split(trim(seg), ' '))) AS BIGINT) AS toks_b
  FROM seg{_BPE_TRAIN_MERGES}
), steps AS (
  SELECT CAST(unnest(generate_series(1, {_S20_STEPS})) AS INT) AS s
), per AS (
  SELECT st.s,
         CAST(COALESCE(SUM(aw.n), 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(CASE WHEN w.tok IS NULL THEN aw.n
                                ELSE 0 END), 0) AS BIGINT) AS oov_tokens,
         CAST(COALESCE(SUM(aw.n * len(aw.tok)), 0) AS BIGINT) AS chars,
         CAST(COALESCE(SUM(aw.n * e.n_sym), 0) AS BIGINT) AS bpe_tokens
  FROM steps st
  LEFT JOIN aw ON aw.step = st.s
  LEFT JOIN aenc e ON e.tok = aw.tok
  LEFT JOIN words w ON w.tok = aw.tok
  GROUP BY st.s
), cd AS (
  SELECT st.s, CAST(COALESCE(SUM(adc.n_docs), 0) AS BIGINT) AS n_docs
  FROM steps st LEFT JOIN adc ON adc.step = st.s GROUP BY st.s
)
SELECT CAST(p.s AS BIGINT) AS batch,
       cd.n_docs, p.n_tokens, p.oov_tokens,
       CASE WHEN p.n_tokens > 0
            THEN round(CAST(p.oov_tokens AS DOUBLE) / p.n_tokens, 6)
            ELSE 0.0 END AS oov_rate,
       p.chars, p.bpe_tokens,
       CASE WHEN p.bpe_tokens > 0
            THEN round(CAST(p.chars AS DOUBLE) / p.bpe_tokens, 6) END
         AS fertility_batch,
       round(CAST(bt.chars_b AS DOUBLE) / bt.toks_b, 6) AS fertility_base,
       (4 * p.oov_tokens > p.n_tokens) OR
       (p.bpe_tokens > 0 AND
        8 * abs(CAST(p.chars AS {dec}) * bt.toks_b
                - CAST(bt.chars_b AS {dec}) * p.bpe_tokens)
          > CAST(bt.chars_b AS {dec}) * p.bpe_tokens) AS alarm
FROM per p JOIN cd ON cd.s = p.s CROSS JOIN bt"""


@register(
    "st19_stream_tokenizer_oov",
    oracle=_st19_oracle(),
    description="TOKENIZER-DRIFT MONITORING AT INGEST (s20's "
    "streaming twin, streaming/tokenizer_ingest.py): the frozen "
    "persisted tokenizer scores each arriving micro-batch (s20's "
    "doc_id%4==3 quarter in 4 steps, each step = one batch) — "
    "per-batch OOV share, exact char/BPE-token sums, fertility vs "
    "the frozen training corpus, and the per-batch alarm bit (s20's "
    "thresholds batch-locally: OOV > 1/4 OR fertility drift > 1/8, "
    "DECIMAL(38,0) cross-multiplies). Per-doc metrics depend only on "
    "the frozen store (st13 contract: union-of-batches == one-shot "
    "batch for any chopping, parity-tested). Runs s20's gate core "
    "with per-step arrivals: one pass builds the arriving word "
    "histogram, and the vocabulary-bounded sums run in the driver "
    "(novel words through the Python encode fold) under the BPE "
    "driver cap, distributed above it; zero-arrival batches still "
    "emit rows",
)
def st19_stream_tokenizer_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dww_data_pipeline_spark.sources import tokenizer_store as ts

    d = load_table(spark, sf_dir, "documents")
    store = tempfile.mkdtemp(prefix="dww_tokstore_st19_")
    try:
        ts.build_tokenizer_store(
            d.filter(F.col("doc_id") % 4 != 3), store,
            n_merges=_BPE_TRAIN_MERGES,
        )
        arrived_words, arrived_doc_counts = _s20_arrivals(d)
        # backed by local rows: valid after the store is deleted
        gate = tokenizer_staleness_gate(
            ts.load_segmentation(spark, store),
            arrived_words,
            arrived_doc_counts,
            ts.load_merge_list(spark, store),
            _S20_STEPS,
            cumulative=False,
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return gate.selectExpr(
        "step AS batch",
        "n_docs_arrived AS n_docs",
        "n_tokens_arrived AS n_tokens",
        "oov_tokens",
        "oov_rate",
        "chars_arrived AS chars",
        "bpe_tokens_arrived AS bpe_tokens",
        "fertility_arrived AS fertility_batch",
        "fertility_base",
        "retrain AS alarm",
    )


def _bpe_train_segmentation(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The 16-merge training loop over the full documents table —
    the registered t33/t35/t25 path (see ``bpe_train_segmentation_df``
    for the DataFrame core the tokenizer store and the s20 staleness
    gate train through)."""
    return bpe_train_segmentation_df(load_table(spark, sf_dir, "documents"))


def bpe_train_segmentation_df(
    d: DataFrame, n_merges: int = _BPE_TRAIN_MERGES
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The BPE training loop shared by t33 (the merge table), t35
    (the encode pass), the persisted tokenizer store, and s20's
    frozen-vocabulary training leg.  ``d`` is any (doc_id, text, ...)
    corpus slice.  Returns ``(merges, seg)`` where ``merges`` is the
    learned [(sentinel pair, sentinel merged, count)] list and ``seg``
    is the corpus word histogram (tok, n, seg) in its FINAL
    segmentation — which is by construction what rank-ordered greedy
    application of the merge list produces on the training corpus,
    i.e. the encoded corpus.

    r14 (guide §4.1/§2.4, the r13 verdict's top ask): the recurrence
    is information-sequential, so the distributed loop's wall is
    n_merges sequential argmax driver round-trips.  The histogram is
    vocabulary-BOUNDED; when it fits under the driver-collect cap
    the whole loop runs driver-side over the collected histogram (ONE
    Spark job — the corpus-scale word-histogram shuffle that was
    always required — instead of 17+) and ships the identical merges
    + segmentation as bounded artifacts.  The collect is guarded by
    ``limit(cap + 1)``: under the cap the limit is a no-op and the
    single job returns the complete histogram; at cap + 1 rows the
    distributed loop below runs unchanged (the 100 TB posture —
    parity between the two paths is pinned by
    tests/test_pipeline_ext2.py::TestBpeDriverTrainer).  The
    histogram is persisted before the probe and released on both
    paths, so above the cap the loop starts from the probe's
    histogram instead of shuffling the corpus a second time."""
    from dww_data_pipeline_spark.session import bounded_loop_shuffle

    hist = (
        d.select(F.explode(spark_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the probe's histogram is the loop's input above the cap
    with persisted(hist):
        got = collect_under_cap(hist)
        if got is not None:
            merges, seg_rows = _bpe_train_driver(
                [(r[0], r[1]) for r in got], n_merges
            )
            return merges, local_rows_df(
                d.sparkSession, seg_rows, "tok string, n long, seg string"
            )
        n_vocab = hist.count()  # materialize the histogram once
        seg = hist.select(
            "tok",
            "n",
            F.expr(
                "concat(' ', array_join(transform(sequence(1, "
                "length(tok)), i -> substring(tok, i, 1)), ' '), ' ')"
            ).alias("seg"),
        )
        merges: list[tuple[str, str, int]] = []
        # the whole loop is vocabulary-bounded: size its shuffles from
        # the measured histogram, not the corpus-level default (r13;
        # see session.bounded_loop_shuffle — restores on exit), and
        # collapse the cached histogram to the same width so every
        # fold/pair-count map side launches that many tasks instead of
        # the corpus-level scan width (narrow coalesce, no shuffle —
        # a no-op when the measured width meets or exceeds it)
        with bounded_loop_shuffle(
            d.sparkSession, n_vocab, disable_aqe=True
        ) as parts:
            seg = seg.coalesce(parts)
            for it in range(1, n_merges + 1):
                syms = "split(trim(seg), ' ')"
                pairs = (
                    seg.filter(F.expr(f"size({syms}) >= 2"))
                    .select(
                        "n",
                        F.explode(
                            F.expr(
                                f"transform(sequence(1, size({syms}) - 1), "
                                f"i -> concat(' ', element_at({syms}, i), ' ', "
                                f"element_at({syms}, i + 1), ' '))"
                            )
                        ).alias("pair"),
                    )
                    .groupBy("pair")
                    .agg(F.sum("n").alias("n"))
                )
                best = (
                    pairs.orderBy(F.desc("n"), F.asc("pair")).limit(1).collect()
                )
                if not best:
                    raise ValueError(
                        f"t33: vocabulary exhausted after {it - 1} merges "
                        f"(need {n_merges}) — corpus too small"
                    )
                pair, n = best[0]["pair"], int(best[0]["n"])
                merged = " " + pair.strip().replace(" ", "") + " "
                merges.append((pair, merged, n))
                la, rb = pair.strip().split(" ")
                # localCheckpoint keeps plan depth at one fold per job
                # on the vocabulary-bounded histogram (16 nested folds
                # would re-evaluate the chain under every iteration's
                # pair-count consumer).  LAZY (eager=False, r13): the
                # next iteration's argmax aggregates over EVERY
                # partition of this frame — its single consumer — so it
                # materializes the checkpoint inside that job; the
                # eager form paid one extra driver round-trip per merge
                # (2 jobs/iteration -> 1), and the final segmentation
                # materializes in its consumer (t33 never consumes it).
                # The fold is guarded by sentinel-substring
                # containment: a segmentation without " la rb " folds
                # to itself, so the guard skips rebuilding unchanged
                # rows — an exact identity, not an approximation.
                seg = seg.select(
                    "tok",
                    "n",
                    F.when(
                        F.col("seg").contains(F.lit(pair)),
                        _bpe_apply_merge(F.col("seg"), la, rb, merged.strip()),
                    )
                    .otherwise(F.col("seg"))
                    .alias("seg"),
                ).localCheckpoint(eager=False)
        return merges, seg


# ---------------------------------------------------------------------------
# ev12_ab_test — experiment analysis from exact integer moments.
#
# The experimentation primitive: users hash deterministically into
# two arms (the t9/t24 coin — reproducible, no assignment table),
# and the per-arm metric moments (n, Σx, Σx²) accumulate as exact
# integers (micro-units; squares in DECIMAL(38,0), the dq10 rule),
# so means, variances, and the Welch t statistic are bit-identical
# at any parallelism — a gate a launch review can trust. One scan,
# one 2-group agg; the statistic evaluates once per run.
# ---------------------------------------------------------------------------


@register(
    "ev12_ab_test",
    oracle="""
    WITH armed AS (
      SELECT CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 2 AS arm,
             CAST(floor(value * 1e6) AS BIGINT) AS v
      FROM events
    ), m AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS ss
      FROM armed GROUP BY arm
    ), w AS (
      SELECT a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) / a.n / 1e6 AS mean_a,
             CAST(b.s AS DOUBLE) / b.n / 1e6 AS mean_b,
             (CAST(a.n AS DOUBLE) * CAST(a.ss AS DOUBLE)
              - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE))
               / (CAST(a.n AS DOUBLE) * (a.n - 1)) AS var_a,
             (CAST(b.n AS DOUBLE) * CAST(b.ss AS DOUBLE)
              - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE))
               / (CAST(b.n AS DOUBLE) * (b.n - 1)) AS var_b
      FROM (SELECT * FROM m WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM m WHERE arm = 1) b
    )
    SELECT n_a, n_b,
           round(mean_a, 6) AS mean_a,
           round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / 1e12 / n_a + var_b / 1e12 / n_b), 6)
             AS welch_t
    FROM w
    """,
    description="A/B EXPERIMENT ANALYSIS: deterministic md5 arm "
    "assignment (reproducible, no assignment table — the t9/t24 "
    "coin), per-arm metric moments as exact integers (micro-units; "
    "squares in DECIMAL(38,0), the dq10 rule), and the Welch t "
    "statistic from those moments — bit-identical at any "
    "parallelism, which is what a launch-review gate requires. One "
    "scan + one 2-group partial agg; the statistic evaluates once.",
)
def ev12_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    v = F.floor(F.col("value") * 1e6).cast("long")
    m = (
        ev.select(arm.alias("arm"), v.alias("v"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ss"),
        )
    )
    a = m.filter(F.col("arm") == 0).alias("a")
    b = m.filter(F.col("arm") == 1).alias("b")

    def var(side: str):
        n = F.col(f"{side}.n").cast("double")
        s = F.col(f"{side}.s").cast("double")
        ss = F.col(f"{side}.ss").cast("double")
        return (n * ss - s * s) / (n * (F.col(f"{side}.n") - 1))

    mean_a = F.col("a.s").cast("double") / F.col("a.n") / 1e6
    mean_b = F.col("b.s").cast("double") / F.col("b.n") / 1e6
    return a.crossJoin(b).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(
            (mean_a - mean_b)
            / F.sqrt(
                var("a") / 1e12 / F.col("a.n") + var("b") / 1e12 / F.col("b.n")
            ),
            6,
        ).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# dq17_pk_uniqueness — primary-key integrity audit.
# ---------------------------------------------------------------------------

_PK_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    # composite (orderkey, linenumber) encoded injectively:
    # linenumber <= 7, so *10 + linenumber is collision-free
    "lineitem": "l_orderkey * 10 + l_linenumber",
}


@register(
    "dq17_pk_uniqueness",
    oracle=" UNION ALL ".join(
        f"""SELECT '{t}' AS tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {k}) AS BIGINT) AS n_keys,
           COUNT(*) = COUNT(DISTINCT {k}) AS pk_ok
    FROM {t}"""
        for t, k in sorted(_PK_KEYS.items())
    ),
    description="PRIMARY-KEY UNIQUENESS AUDIT across the whole "
    "catalog: per table row count vs distinct key count and the "
    "pass/fail gate (lineitem's composite key encoded injectively) — "
    "the integrity check next to dq3's FK orphans and dq16's schema "
    "contract; a duplicate-key regression upstream is the classic "
    "silent join-fanout bug. And an honest finding here (the dq14 "
    "pattern): the generator assigns l_linenumber randomly, so "
    "lineitem's (orderkey, linenumber) is NOT a key in this corpus — "
    "pk_ok=false, pinned in pytest. One count-distinct partial agg "
    "per table, each a single scan.",
)
def dq17_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for t, k in sorted(_PK_KEYS.items()):
        df = load_table(spark, sf_dir, t)
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(F.expr(k)).alias("n_keys"),
            ).select(
                F.lit(t).alias("tbl"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") == F.col("n_keys")).alias("pk_ok"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# c2_data_card — the dataset documentation artifact.
#
# One row summarizing what a corpus consumer needs to know before
# training: volume (docs, tokens), curation outcome (kept /
# duplicate / filtered via the verified c1 dispositions), language
# spread, and quality pressure — all as INTEGER-SAFE aggregates
# (counts and one ratio; a float AVG over doubles would be
# partition-order dependent, so "mean quality" is reported as the
# count above the t13 gate threshold instead). The machine-readable
# core of a Datasheets/Data-Card release artifact, regenerated per
# corpus version and diffable across versions.
# ---------------------------------------------------------------------------


def _c2_attach_oracle() -> None:
    from dww_data_pipeline_spark.plans.registry import REGISTRY, Query
    from dww_data_pipeline_spark.plans.text_plans import _QUALITY_SQL

    c1 = REGISTRY["c1_curation_pipeline"].oracle
    q = REGISTRY["c2_data_card"]
    oracle = f"""
    WITH disp AS MATERIALIZED ({c1}),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(CASE WHEN ({_QUALITY_SQL}) >= 0.5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_high_quality
      FROM documents
    ),
    d AS (
      SELECT CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN status = 'duplicate' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_duplicate,
             CAST(SUM(CASE WHEN status = 'filtered' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_filtered
      FROM disp
    )
    SELECT s.n_docs, s.n_tokens, s.n_langs, s.n_high_quality,
           d.n_kept, d.n_duplicate, d.n_filtered,
           round(CAST(d.n_kept AS DOUBLE) / s.n_docs, 6) AS kept_share
    FROM stats s CROSS JOIN d
    """
    REGISTRY["c2_data_card"] = Query(
        name=q.name, spark=q.spark, oracle=oracle, description=q.description
    )


@register(
    "c2_data_card",
    oracle=None,  # attached below — embeds c1's registered oracle
    description="DATA CARD: the one-row machine-readable corpus "
    "summary a dataset release ships (Datasheets for Datasets made "
    "queryable) — volume (docs, exact token count), curation outcome "
    "via the verified c1 dispositions (kept / duplicate / filtered + "
    "kept share), language spread, and quality pressure as the count "
    "above the t13 gate threshold (counts, not float means: a double "
    "AVG is partition-order dependent, a threshold count is exact). "
    "Diffable across corpus versions; oracle embeds c1's SQL so the "
    "whole curation chain re-verifies through the summary.",
)
def c2_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.functions import text as tx
    from dww_data_pipeline_spark.plans.pipeline_ext2 import c1_curation_pipeline

    d = load_table(spark, sf_dir, "documents")
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(spark_tokens(F.col("text")))).cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum((tx.quality_score(F.col("text")) >= 0.5).cast("long")).alias("n_high_quality"),
    )
    disp = c1_curation_pipeline(spark, sf_dir)
    counts = disp.agg(
        F.sum((F.col("status") == "kept").cast("long")).alias("n_kept"),
        F.sum((F.col("status") == "duplicate").cast("long")).alias(
            "n_duplicate"
        ),
        F.sum((F.col("status") == "filtered").cast("long")).alias("n_filtered"),
    )
    return stats.crossJoin(counts).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_high_quality",
        "n_kept",
        "n_duplicate",
        "n_filtered",
        F.round(F.col("n_kept").cast("double") / F.col("n_docs"), 6).alias(
            "kept_share"
        ),
    )


_c2_attach_oracle()


# ---------------------------------------------------------------------------
# s15_ann_probe_curve — the IVF tuning curve: recall@k vs nprobe.
#
# The operating decision every IVF deployment makes — how many cells
# to probe — computed as an oracle-checked quantity: for each probe
# count p (1..all cells) and each query, the number of the exact
# top-k answers the p-cell search recovers. Monotone by construction
# (probe sets nest); equals k at p = #cells (full scan). The d21/d22
# calibration-pattern applied to the ANN family: parameter sweeps are
# first-class verified outputs, not notebook one-offs.
#
# Scale shape: the sweep reuses ONE cell assignment of the corpus
# (the persisted IVF index); per (query, p) work is the probed cells
# only, exactly the production cost model being charted. Exact
# integer d2 end to end (the s2/s11 quantizer), so the curve
# hash-matches across engines.
# ---------------------------------------------------------------------------


def _s15_oracle() -> str:
    exact_d2 = _ivfpq_coarse_d2_sql("v.vq", "qv.vq")
    truth_d2 = _ivfpq_coarse_d2_sql("q.vq", "qv.vq")
    parts = _ivf_coarse_parts()[:-1]  # drop qc (nprobe-filtered); rank all
    parts += [
        f"""qcr AS MATERIALIZED (
  SELECT qv.query_id, c.j AS cluster,
         row_number() OVER (PARTITION BY qv.query_id
                            ORDER BY {_ivfpq_coarse_d2_sql('qv.vq', 'c.cv')}, c.j)
           AS cell_rank
  FROM qv CROSS JOIN cc c)""",
        f"probes AS (SELECT unnest(generate_series(1, {_IVF_K})) AS p)",
        f"""cand AS MATERIALIZED (
  SELECT pr.p, qc.query_id, r.vec_id, CAST({exact_d2} AS BIGINT) AS d2
  FROM qcr qc
  JOIN probes pr ON qc.cell_rank <= pr.p
  JOIN caf r ON r.cluster = qc.cluster
  JOIN q v ON v.vec_id = r.vec_id
  JOIN qv ON qv.query_id = qc.query_id)""",
        f"""atop AS (
  SELECT p, query_id, vec_id FROM (
    SELECT p, query_id, vec_id,
           row_number() OVER (PARTITION BY p, query_id
                              ORDER BY d2, vec_id) AS rn
    FROM cand
  ) WHERE rn <= {_PQ_TOPK})""",
        f"""ex AS (
  SELECT query_id, vec_id FROM (
    SELECT qv.query_id, q.vec_id,
           row_number() OVER (PARTITION BY qv.query_id
                              ORDER BY CAST({truth_d2} AS BIGINT), q.vec_id)
             AS rn
    FROM q CROSS JOIN qv
  ) WHERE rn <= {_PQ_TOPK})""",
    ]
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT CAST(a.p AS BIGINT) AS nprobe, a.query_id,
       CAST(COUNT(e.vec_id) AS BIGINT) AS hits_at_k
FROM atop a LEFT JOIN ex e
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY a.p, a.query_id"""


@register(
    "s15_ann_probe_curve",
    oracle=_s15_oracle(),
    description="IVF PROBE-COUNT TUNING CURVE: for every nprobe p "
    "(1..all 4 cells) and every query, how many of the exact top-5 "
    "the p-cell IVF search recovers (hits_at_k; monotone in p, = k "
    "at full probe). The d21/d22 calibration pattern applied to ANN: "
    "the recall-vs-cost operating curve as an oracle-checked integer "
    "quantity on the SAME exact-integer quantizer as s2/s11, so cell "
    "assignment, probe sets, and both top-k rankings hash-match "
    "across engines. One corpus cell assignment reused across the "
    "whole sweep; per-(query,p) cost is the probed cells only — the "
    "production cost model being charted (north-star: similarity-"
    "search tuning)",
)
def s15_ann_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    vq = e.select("vec_id", F.expr(_PQ_VQ_SPARK).alias("vq"))
    with persisted(vq):
        ccents = _train_coarse(vq)
        assigned = vq.select(
            "vec_id", "vq", F.expr(_ivfpq_coarse_expr(ccents)).alias("cluster")
        )
        with persisted(assigned):
            qrows = _query_rows(vq)
            branches = []
            truth = []
            for qid in _PQ_QUERIES:
                ranked_cells = _coarse_rank(qrows[qid], ccents)
                d2 = _exact_d2_col(qrows[qid])
                truth.append(
                    vq.select(
                        F.lit(qid).cast("long").alias("query_id"),
                        "vec_id",
                        d2.alias("d2"),
                    )
                )
                for p in range(1, _IVF_K + 1):
                    branches.append(
                        assigned.filter(F.col("cluster").isin(ranked_cells[:p])).select(
                            F.lit(p).cast("long").alias("nprobe"),
                            F.lit(qid).cast("long").alias("query_id"),
                            "vec_id",
                            d2.alias("d2"),
                        )
                    )
            wa = Window.partitionBy("nprobe", "query_id").orderBy("d2", "vec_id")
            atop = (
                reduce(lambda a, b: a.unionByName(b), branches)
                .withColumn("rn", F.row_number().over(wa))
                .filter(F.col("rn") <= _PQ_TOPK)
                .select("nprobe", "query_id", "vec_id")
            )
            wt = Window.partitionBy("query_id").orderBy("d2", "vec_id")
            ex = (
                reduce(lambda a, b: a.unionByName(b), truth)
                .withColumn("rn", F.row_number().over(wt))
                .filter(F.col("rn") <= _PQ_TOPK)
                .select("query_id", "vec_id")
            )
            # LEFT join (not left_semi) so a (nprobe, query_id) whose probed
            # candidates contain zero true-top-k hits still emits a row with
            # hits_at_k=0, mirroring the oracle's LEFT JOIN + COUNT shape.
            # Today 0-hit pairs are unreachable (every query vector is a
            # corpus member, its own nearest cell ranks first, so p>=1
            # always retrieves the query itself, which is in its own exact
            # top-k) — but the parity must not depend on that invariant.
            return (
                atop.join(
                    ex.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
                )
                .groupBy("nprobe", "query_id")
                .agg(
                    F.coalesce(F.sum("hit"), F.lit(0))
                    .cast("long")
                    .alias("hits_at_k")
                )
            )
