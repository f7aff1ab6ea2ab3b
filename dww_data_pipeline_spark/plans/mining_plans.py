"""Round-4b mining / clustering plans.

Five additions that round out the corpus-mining tier of the engine:

* ``e7_kmeans_clusters`` — exact-arithmetic Lloyd k-means over the
  embedding table (the clustering pass SemDeDup / data-mixing
  pipelines run before per-cluster dedup or sampling);
* ``s8_reciprocal_nn`` — mutual-kNN pairs from the s6 graph (the
  high-precision edge set NN-descent / dedup clustering keeps);
* ``ev3_markov_transitions`` — user-journey event transition matrix;
* ``dq9_entropy_profile`` — per-column cardinality / concentration /
  entropy profile from value histograms;
* ``t23_dsir_importance`` — DSIR-style importance weights (target
  vs raw unigram log-likelihood ratio) for data selection.

Cross-engine determinism notes (house conventions, see registry.py):
integer/fixed-point arithmetic wherever an aggregate feeds a
comparison (k-means distances are PURE INT64 — quantization is
``floor((x+2)*1e6)``, floor of an IEEE product, bit-identical across
engines); ``ln()`` evaluates once per model/histogram row and 1e-6
rounding swamps summation-order noise (the t19 argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import dww_data_pipeline_spark.plans.dedup_plans  # noqa: F401  (s8 reads the s6 oracle from the registry)
from dww_data_pipeline_spark.plans.pipeline_ext2 import (
    _BPE_TRAIN_MERGES,
    _bpe_oracle_stages,
)
from dww_data_pipeline_spark.plans.registry import REGISTRY, register
from dww_data_pipeline_spark.plans.text_exprs import SQL_TOKS, spark_tokens, sql_kgrams
from dww_data_pipeline_spark.session import persisted
from dww_data_pipeline_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# e7 — exact-integer Lloyd k-means over the embedding corpus.
#
# The clustering primitive the SemDeDup / DSIR / data-mixing papers
# assume as given: partition the corpus embedding space into k cells,
# then dedup / sample / balance WITHIN cells. The engine runs Lloyd's
# algorithm with k bounded-size driver round-trips per iteration
# (centroids are a k x dim artifact, exactly like the IVF quantizer
# and the PageRank scalar), while ALL per-vector work — assignment,
# distance, partial sums — stays distributed as Column expressions
# with the centroids folded to plan-time literals.
#
# Determinism contract (what makes this ORACLE-CHECKABLE, which
# floating k-means is not): embeddings are quantized up front to
# int64 via floor((x + 2) * 1e6) — floor of an IEEE-754 product is
# bit-identical on every engine (no decimal-string rounding anywhere);
# init centroids are the k lowest vec_ids; distances are pure int64
# sums of squares (max (2.5e6)^2 * 64 ≈ 4e14 << 2^63); the update is
# integer round-half-up mean (2*S + n) DIV (2*n) on the positive
# domain; ties in argmin break to the lowest cluster id. Every engine
# that follows the recurrence produces the identical labeling.
#
# Scale shape: per iteration ONE partial-agg shuffle of k x dim x
# n_partitions integer cells (map-side combine folds each task to at
# most k*dim rows), one bounded collect (k x dim ints), zero joins;
# the 100 TB table is scanned once per iteration with assignment as
# whole-stage-codegen integer math. Empty clusters keep their old
# centroid on both engines.
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 2
_KM_DIM = 64

_VQ_SQL_DUCK = (
    "list_transform(embedding, x -> "
    "CAST(floor((CAST(x AS DOUBLE) + 2) * 1000000) AS BIGINT))"
)
_VQ_SQL_SPARK = (
    "transform(embedding, x -> "
    "CAST(floor((CAST(x AS DOUBLE) + 2D) * 1000000D) AS BIGINT))"
)


def _km_oracle() -> str:
    """Unroll the fixed k-means recurrence as DuckDB CTEs."""
    dim, k = _KM_DIM, _KM_K
    sums = ", ".join(f"SUM(vq[{i + 1}]) AS s{i}" for i in range(dim))
    upd = ", ".join(f"(2 * s.s{i} + s.n) // (2 * s.n)" for i in range(dim))
    d2 = " + ".join(f"(q.vq[{i + 1}] - c.cv[{i + 1}]) * (q.vq[{i + 1}] - c.cv[{i + 1}])" for i in range(dim))

    def assign(prev: str, name: str) -> str:
        return f"""{name}_d AS (
  SELECT q.vec_id, q.vq, c.j, CAST({d2} AS BIGINT) AS d2
  FROM q CROSS JOIN {prev} c
), {name} AS (
  SELECT vec_id, vq, j AS cluster, d2 FROM (
    SELECT vec_id, vq, j, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
    FROM {name}_d
  ) WHERE rn = 1
)"""

    def update(a: str, prev: str, name: str) -> str:
        return f"""{name}_s AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n, {sums}
  FROM {a} GROUP BY cluster
), {name} AS (
  SELECT p.j,
         CASE WHEN s.cluster IS NULL THEN p.cv
              ELSE list_value({upd}) END AS cv
  FROM {prev} p LEFT JOIN {name}_s s ON s.cluster = p.j
)"""

    parts = [
        f"""q AS (
  SELECT vec_id, {_VQ_SQL_DUCK} AS vq FROM embeddings
), c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
  FROM (SELECT vec_id, vq FROM q ORDER BY vec_id LIMIT {k})
)"""
    ]
    prev = "c0"
    for it in range(_KM_ITERS):
        parts.append(assign(prev, f"a{it + 1}"))
        parts.append(update(f"a{it + 1}", prev, f"c{it + 1}"))
        prev = f"c{it + 1}"
    parts.append(assign(prev, "afin"))
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT vec_id, CAST(cluster AS INT) AS cluster, d2 FROM afin"""


def _km_assign_expr(cents: list[list[int]]) -> str:
    """Spark SQL text: struct(min distance, cluster) over literal
    centroids — one parsed expression, no Py4J lambda round-trips
    (the e5/e6 driver-time finding). Loop form (codebook as an
    array-of-arrays literal, distance via aggregate(zip_with)): the
    unrolled k*dim sum exceeds the whole-stage-codegen method limit
    and falls back to interpretation (the s10/s11 finding)."""
    cb = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(x)}L" for x in c) + ")" for c in cents
        )
        + ")"
    )
    return (
        f"array_min(transform({cb}, (cv, j) -> named_struct("
        f"'d', aggregate(zip_with(vq, cv, (a, b) -> (a - b) * (a - b)), "
        f"0L, (acc, x) -> acc + x), 'j', j)))"
    )


@register(
    "e7_kmeans_clusters",
    oracle=_km_oracle(),
    description="EXACT-INTEGER LLOYD K-MEANS over the embedding corpus "
    f"(k={_KM_K}, {_KM_ITERS} fixed iterations): embeddings quantized to "
    "int64 by floor((x+2)*1e6) so distances, argmin and the round-half-up "
    "integer centroid mean are bit-identical on every engine — the "
    "clustering pass SemDeDup-style curation runs before per-cluster "
    "dedup/sampling. Per iteration: one k*dim partial-agg shuffle + one "
    "bounded driver collect (k*dim ints, the IVF-quantizer pattern); "
    "assignment is whole-stage-codegen integer math with centroids "
    "folded to plan-time literals (north-star embedding ops)",
)
def e7_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    vq = e.select("vec_id", F.expr(_VQ_SQL_SPARK).alias("vq"))
    with persisted(vq):
        # init: the k lowest vec_ids (TakeOrdered — bounded, no full sort)
        init = vq.orderBy("vec_id").limit(_KM_K).collect()
        cents = [list(r["vq"]) for r in init]
        for _ in range(_KM_ITERS):
            assigned = vq.select(
                "vq", F.expr(_km_assign_expr(cents) + ".j").alias("cluster")
            )
            sums = (
                assigned.select("cluster", F.posexplode("vq").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()  # bounded: k * dim rows of integers
            )
            new = [list(c) for c in cents]
            for r in sums:
                s, n = int(r["s"]), int(r["n"])
                new[r["cluster"]][r["pos"]] = (2 * s + n) // (2 * n)
            cents = new
        st = F.expr(_km_assign_expr(cents))
        return vq.select(
            "vec_id",
            st["j"].cast("int").alias("cluster"),
            st["d"].alias("d2"),
        )


# ---------------------------------------------------------------------------
# s8 — reciprocal nearest neighbours over the s6 kNN graph.
#
# Mutual-kNN is the high-precision edge subset: (a, b) survives only
# if a ranks in b's top-k AND b ranks in a's top-k. NN-descent,
# agglomerative semantic dedup and manifold-learning pipelines all
# start from this symmetrized graph because one-directional edges
# into hubs are the dominant false-positive source.
#
# Scale shape: the kNN edge list is n*k rows (tiny next to the
# corpus); the mutuality check is one self-equi-join on the reversed
# key pair — shuffle of n*k 2-id rows. cos is computed by the same
# gemm on both directions (identical IEEE product order), so the
# a->b and b->a copies agree bit-for-bit and either can be kept.
# ---------------------------------------------------------------------------


def _s8_oracle() -> str:
    s6 = REGISTRY["s6_knn_graph"].oracle
    return f"""WITH knn AS ({s6})
SELECT f.src AS a, f.dst AS b, f.cos,
       f.rank AS rank_ab, r.rank AS rank_ba
FROM knn f JOIN knn r ON f.src = r.dst AND f.dst = r.src
WHERE f.src < f.dst"""


@register(
    "s8_reciprocal_nn",
    oracle=_s8_oracle(),
    description="RECIPROCAL kNN pairs: keep (a,b) only when each is in "
    "the other's s6 top-3 — the symmetrized high-precision edge set "
    "NN-descent / semantic-dedup clustering consumes (one-directional "
    "edges into hub vectors are the dominant false positives). One "
    "self-equi-join over the n*k edge list; vectors never re-score "
    "(north-star similarity search)",
)
def s8_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.dedup_plans import s6_knn_graph

    knn = s6_knn_graph(spark, sf_dir)
    f = knn.alias("f")
    r = knn.select(
        F.col("src").alias("r_src"),
        F.col("dst").alias("r_dst"),
        F.col("rank").alias("rank_ba"),
    ).alias("r")
    return (
        f.join(r, (F.col("f.src") == F.col("r_dst")) & (F.col("f.dst") == F.col("r_src")))
        .filter(F.col("f.src") < F.col("f.dst"))
        .select(
            F.col("f.src").alias("a"),
            F.col("f.dst").alias("b"),
            F.col("f.cos").alias("cos"),
            F.col("f.rank").alias("rank_ab"),
            F.col("rank_ba"),
        )
    )


# ---------------------------------------------------------------------------
# ev3 — user-journey transition matrix.
#
# The Markov view of the event stream: per user, consecutive event
# pairs ordered by (ts, event_id); the (src, dst) counts and the
# row-normalized transition probabilities. Product analytics uses it
# for journey maps; pipeline monitoring uses the matrix drift as a
# behavioral-change alarm (the dq4 idea at transition granularity).
#
# Scale shape: one shuffle on user_id (the window), then one
# partial-agg shuffle of (src, dst) pairs — the transition matrix is
# |event_type|^2-bounded. The probability is one division of exact
# BIGINT counts at the very end.
# ---------------------------------------------------------------------------

_EV3_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS src_type, next_type AS dst_type
  FROM seq WHERE next_type IS NOT NULL
), counts AS (
  SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY src_type, dst_type
)
SELECT src_type, dst_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE), 6) AS p
FROM counts
"""


@register(
    "ev3_markov_transitions",
    oracle=_EV3_ORACLE,
    description="USER-JOURNEY TRANSITION MATRIX: per-user consecutive "
    "event pairs (deterministic (ts, event_id) order) rolled up to "
    "(src, dst) counts and row-normalized probabilities — the Markov "
    "journey map / behavioral-drift input. One user_id window shuffle "
    "+ one |event_types|^2-bounded count shuffle; probability is a "
    "single exact-integer division at the end (event analytics)",
)
def ev3_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = (
        seq.groupBy(
            F.col("event_type").alias("src_type"),
            F.col("next_type").alias("dst_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("src_type")
    return counts.select(
        "src_type",
        "dst_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# dq9 — column entropy / concentration profile.
#
# For each profiled column: distinct count, modal share, Shannon
# entropy (nats). The profile separates near-key columns (high
# entropy, distinct ~ n) from near-constant ones (modal share ~ 1)
# — the signal that picks join/partition keys and flags degenerate
# dimensions before they reach a shuffle.
#
# Scale shape: everything derives from per-column value HISTOGRAMS
# (shuffle bounded by column cardinality, the dq6 discipline);
# entropy = ln(N) - sum(c*ln(c))/N evaluated once per histogram row,
# 1e-6 rounding >> double summation-order noise (the t19 argument).
# ---------------------------------------------------------------------------


def _dq9_col(duck_expr: str, name: str) -> str:
    return f"""
  SELECT '{name}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_count,
         round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_share,
         round(ln(CAST(SUM(c) AS DOUBLE))
               - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                 / CAST(SUM(c) AS DOUBLE), 6) AS entropy_nats
  FROM (SELECT {duck_expr} AS v, COUNT(*) AS c FROM events GROUP BY 1)
"""


_DQ9_COLS = [
    ("event_type", "event_type"),
    ("CAST(user_id AS VARCHAR)", "user_id"),
    ("strftime(ts, '%Y-%m-%d')", "event_day"),
]

_DQ9_ORACLE = " UNION ALL ".join(_dq9_col(e, n) for e, n in _DQ9_COLS)

_DQ9_SPARK_COLS = [
    ("event_type", "event_type"),
    ("CAST(user_id AS STRING)", "user_id"),
    ("date_format(ts, 'yyyy-MM-dd')", "event_day"),
]


@register(
    "dq9_entropy_profile",
    oracle=_DQ9_ORACLE,
    description="COLUMN ENTROPY PROFILE: distinct count, modal share "
    "and Shannon entropy (nats) per profiled column, all derived from "
    "value histograms so the shuffle is bounded by column CARDINALITY "
    "not row count (dq6 discipline) — the signal that picks partition/"
    "join keys and flags near-constant columns before they hit a "
    "shuffle. ln() evaluates once per histogram row (data quality)",
)
def dq9_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    outs = []
    for expr, name in _DQ9_SPARK_COLS:
        hist = ev.groupBy(F.expr(expr).alias("v")).agg(F.count(F.lit(1)).alias("c"))
        prof = hist.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_count"),
            F.round(
                F.max("c").cast("double") / F.sum("c").cast("double"), 6
            ).alias("top_share"),
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
                / F.sum("c").cast("double"),
                6,
            ).alias("entropy_nats"),
        )
        outs.append(
            prof.select(
                F.lit(name).alias("col_name"),
                "n_distinct",
                "top_count",
                "top_share",
                "entropy_nats",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# t23 — DSIR importance weights (data selection via importance
# resampling, Xie et al. 2023).
#
# Two corpus passes: build the TARGET unigram distribution (here the
# 'en' slice — the domain the model is being built for) and the RAW
# distribution (everything), both add-0.5 smoothed over the shared
# vocabulary; then score every document by its mean per-token
# log-likelihood ratio ln(p_target/p_raw). High scorers look like the
# target domain and win the sampling lottery.
#
# Scale shape: both models are VOCABULARY-bounded count tables built
# in one partial-agg shuffle each; scoring joins distinct (doc,
# token) pairs with occurrence counts against the broadcast model
# (documents never shuffle whole); ln() evaluates once per vocab row.
# ---------------------------------------------------------------------------

_T23_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({SQL_TOKS}) AS tok FROM documents
), vocab AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks
), tgt AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS ct FROM toks WHERE lang = 'en' GROUP BY tok
), tgt_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM toks WHERE lang = 'en'
), raw AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY tok
), raw_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM toks
), model AS (
  SELECT r.tok,
         ln(((CAST(COALESCE(t.ct, 0) AS DOUBLE) + 0.5)
             / (CAST(tgt_n.nt AS DOUBLE) + 0.5 * CAST(vocab.v AS DOUBLE)))
            / ((CAST(r.cr AS DOUBLE) + 0.5)
               / (CAST(raw_n.nr AS DOUBLE) + 0.5 * CAST(vocab.v AS DOUBLE)))) AS llr
  FROM raw r LEFT JOIN tgt t USING (tok)
  CROSS JOIN tgt_n CROSS JOIN raw_n CROSS JOIN vocab
), doc_tok AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks GROUP BY doc_id, tok
)
SELECT d.doc_id,
       CAST(SUM(d.n) AS BIGINT) AS n_tokens,
       round(SUM(CAST(d.n AS DOUBLE) * m.llr) / CAST(SUM(d.n) AS DOUBLE), 6)
         AS importance
FROM doc_tok d JOIN model m USING (tok)
GROUP BY d.doc_id
"""


@register(
    "t23_dsir_importance",
    oracle=_T23_ORACLE,
    description="DSIR IMPORTANCE WEIGHTS (Xie et al. 2023 data "
    "selection): every document scored by its mean per-token "
    "ln(p_target/p_raw) against add-0.5-smoothed unigram models of "
    "the target ('en') slice vs the raw corpus — the importance-"
    "resampling signal that up-weights target-domain-looking text. "
    "Models are vocabulary-bounded and broadcast; scoring joins "
    "distinct (doc, token) count pairs, never raw occurrences; ln() "
    "evaluates once per vocab row (north-star text curation)",
)
def t23_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(spark_tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    tgt = toks.filter(F.col("lang") == "en").groupBy("tok").agg(
        F.count(F.lit(1)).alias("ct")
    )
    tgt_n = toks.filter(F.col("lang") == "en").agg(F.count(F.lit(1)).alias("nt"))
    raw = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cr"))
    raw_n = toks.agg(F.count(F.lit(1)).alias("nr"))
    model = (
        raw.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(tgt_n))
        .crossJoin(F.broadcast(raw_n))
        .crossJoin(F.broadcast(vocab))
        .select(
            "tok",
            F.log(
                (
                    (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + 0.5)
                    / (F.col("nt").cast("double") + 0.5 * F.col("v").cast("double"))
                )
                / (
                    (F.col("cr").cast("double") + 0.5)
                    / (F.col("nr").cast("double") + 0.5 * F.col("v").cast("double"))
                )
            ).alias("llr"),
        )
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        doc_tok.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.round(
                F.sum(F.col("n").cast("double") * F.col("llr"))
                / F.sum("n").cast("double"),
                6,
            ).alias("importance"),
        )
    )


# ---------------------------------------------------------------------------
# ev4 — top user journey prefixes (path mining).
#
# ev3's transition matrix is memoryless; ev4 keeps the ordered
# 3-event PREFIX per user and ranks the most common openings — the
# funnel-path report product analytics reads next to the matrix.
#
# Scale shape: one user_id window shuffle (rank the first 3 events),
# then a conditional-aggregation pivot per user (no collect_list
# ordering hazards — each slot is a MAX over exactly one row), then
# a path-cardinality-bounded count shuffle + TakeOrdered top-10.
# ---------------------------------------------------------------------------

_EV4_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), paths AS (
  SELECT user_id,
         concat_ws('>',
           MAX(CASE WHEN rn = 1 THEN event_type END),
           MAX(CASE WHEN rn = 2 THEN event_type END),
           MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path
LIMIT 10
"""


@register(
    "ev4_top_paths",
    oracle=_EV4_ORACLE,
    description="TOP JOURNEY PREFIXES: each user's ordered first-3 "
    "event types as a '>'-joined path, ranked by user count "
    "(deterministic count-desc/path tiebreak, top 10) — the funnel-"
    "path report next to ev3's memoryless matrix. One user window "
    "shuffle; the pivot uses per-slot conditional MAX (exactly one "
    "row per slot, no collect_list order hazard); final count "
    "shuffle bounded by path cardinality (event analytics)",
)
def ev4_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# v4 — Heaps-law vocabulary growth curve.
#
# How fast does the vocabulary grow as the corpus is ingested in
# doc_id order? Each token contributes at its FIRST document; the
# first-appearance positions are binned into corpus deciles and
# cumulated. Sub-linear growth is the expected Heaps shape; a kink
# signals a domain shift in the crawl — the corpus-level drift check
# next to dq4's distributional one.
#
# Scale shape: one (gram -> min doc_id) partial-agg shuffle (gram-
# vocabulary bounded), a 10-row bin histogram, and a 10x10 broadcast
# triangular self-join for the running total — deliberately NOT a
# partition-less window (engine-wide discipline). BIGRAMS, not
# unigrams: the unigram vocabulary saturates inside the first decile
# on any corpus over a bounded lexicon, while the 2-gram space keeps
# growing — the standard Heaps measurement choice.
# ---------------------------------------------------------------------------

_V4_ORACLE = f"""
WITH firsts AS (
  SELECT tok, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest({sql_kgrams(2)}) AS tok FROM documents)
  GROUP BY tok
), mx AS (
  SELECT MAX(doc_id) + 1 AS m FROM documents
), bins AS (
  SELECT CAST(LEAST(9, (first_doc * 10) // m) AS INT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS new_tokens
  FROM firsts CROSS JOIN mx
  GROUP BY 1
)
SELECT a.decile, a.new_tokens,
       CAST(SUM(b.new_tokens) AS BIGINT) AS vocab_cum
FROM bins a JOIN bins b ON b.decile <= a.decile
GROUP BY a.decile, a.new_tokens
"""


@register(
    "v4_heaps_curve",
    oracle=_V4_ORACLE,
    description="HEAPS-LAW VOCABULARY GROWTH: bin every BIGRAM's first-"
    "appearance doc into corpus deciles and cumulate — the sub-linear "
    "vocab growth curve whose kinks flag crawl domain shifts (corpus "
    "stats). One gram-vocab-bounded min-agg shuffle; the cumulative "
    "sum is a 10x10 broadcast triangular join, NOT a partition-less "
    "window",
)
def v4_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.text_exprs import exploded_kgrams

    d = load_table(spark, sf_dir, "documents")
    firsts = (
        exploded_kgrams(d, "text", 2, carry=("doc_id",), out="tok")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    bins = (
        firsts.crossJoin(F.broadcast(mx))
        .select(
            F.least(F.lit(9), F.expr("(first_doc * 10) DIV m")).cast("int").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    b = bins.select(F.col("decile").alias("b_decile"), F.col("new_tokens").alias("b_new"))
    return (
        bins.join(F.broadcast(b), F.col("b_decile") <= F.col("decile"))
        .groupBy("decile", "new_tokens")
        .agg(F.sum("b_new").alias("vocab_cum"))
    )


# ---------------------------------------------------------------------------
# dq10 — exact-moment Pearson correlation matrix.
#
# Correlation between numeric measure columns from EXACT integer
# moments: values quantize to cents via a DECIMAL(18,2) cast (the
# house money rule), all five moments (Σx, Σy, Σxy, Σx², Σy²)
# accumulate as exact integers (associative — partition-order-proof),
# and the classic formula evaluates once per column pair in double.
# Spark's native corr() streams doubles and is partition-order
# dependent; this shape is reproducible bit-for-bit at any
# parallelism, which is what a data-quality GATE needs.
#
# Scale shape: one scan, one global partial-agg of 15 integer cells;
# no shuffle wider than a single row.
# ---------------------------------------------------------------------------

_DQ10_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
]


def _dq10_duck() -> str:
    def q(c: str) -> str:
        return f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)"

    parts = []
    for x, y in _DQ10_PAIRS:
        parts.append(
            f"""
  SELECT '{x}' AS x_col, '{y}' AS y_col,
         CAST(COUNT(*) AS BIGINT) AS n,
         round((CAST(COUNT(*) AS DOUBLE) * CAST(SUM({q(x)} * {q(y)}) AS DOUBLE)
                - CAST(SUM({q(x)}) AS DOUBLE) * CAST(SUM({q(y)}) AS DOUBLE))
               / sqrt((CAST(COUNT(*) AS DOUBLE) * CAST(SUM({q(x)} * {q(x)}) AS DOUBLE)
                       - CAST(SUM({q(x)}) AS DOUBLE) * CAST(SUM({q(x)}) AS DOUBLE))
                      * (CAST(COUNT(*) AS DOUBLE) * CAST(SUM({q(y)} * {q(y)}) AS DOUBLE)
                         - CAST(SUM({q(y)}) AS DOUBLE) * CAST(SUM({q(y)}) AS DOUBLE))), 6)
           AS pearson_r
  FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


@register(
    "dq10_numeric_corr",
    oracle=_dq10_duck(),
    description="EXACT-MOMENT PEARSON CORRELATION between lineitem "
    "measures: cent-quantized integers (DECIMAL(18,2) cast — the "
    "money rule) feed five exact integer moments per pair, so the "
    "statistic is bit-reproducible at any parallelism (native corr() "
    "is partition-order dependent); one scan, 15-cell global agg, "
    "formula evaluates once per pair (data quality)",
)
def dq10_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def q(c: str):
        return (F.col(c).cast("decimal(18,2)") * 100).cast("bigint")

    outs = []
    for x, y in _DQ10_PAIRS:
        qx, qy = q(x), q(y)
        m = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((qx * qy).cast("decimal(38,0)")).alias("sxy"),
            F.sum(qx.cast("decimal(38,0)")).alias("sx"),
            F.sum(qy.cast("decimal(38,0)")).alias("sy"),
            F.sum((qx * qx).cast("decimal(38,0)")).alias("sxx"),
            F.sum((qy * qy).cast("decimal(38,0)")).alias("syy"),
        )
        nd = F.col("n").cast("double")
        r = F.round(
            (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / F.sqrt(
                (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
                * (nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
            ),
            6,
        )
        outs.append(
            m.select(
                F.lit(x).alias("x_col"),
                F.lit(y).alias("y_col"),
                F.col("n"),
                r.alias("pearson_r"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# dq11 — approx-percentile accuracy gate (the dq7 contract pattern
# applied to quantile sketches).
#
# Per event type: the exact interpolated median of `value`, plus a
# flag asserting each engine's OWN quantile sketch lands inside the
# exact [p40, p60] band. Sketch internals differ per engine (Spark
# KLL/GK vs DuckDB t-digest) so the CONTRACT is what is compared —
# validating the estimator a 100 TB pipeline uses where an exact
# per-group quantile is a sort it cannot afford. The exact side here
# is the verification baseline (this gate runs on a bounded slice);
# the production profile path is dq6's cardinality-bounded histogram.
# ---------------------------------------------------------------------------

_DQ11_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS exact_p50,
       CASE WHEN approx_quantile(value, 0.5)
                 BETWEEN quantile_cont(value, 0.4)
                     AND quantile_cont(value, 0.6)
            THEN 1 ELSE 0 END AS approx_in_band
FROM events
GROUP BY event_type
"""


@register(
    "dq11_approx_percentile_gate",
    oracle=_DQ11_ORACLE,
    description="APPROX-PERCENTILE ACCURACY GATE: per event type, the "
    "exact interpolated median plus a flag asserting each engine's "
    "own quantile sketch lands inside the exact [p40, p60] band — "
    "sketch internals are engine-specific, so the CONTRACT is "
    "compared (the dq7 pattern for quantiles). Exact values are the "
    "verification baseline; the production profile path is dq6's "
    "cardinality-bounded histogram (data quality)",
)
def dq11_approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = F.expr("percentile(value, 0.5D)")
    lo = F.expr("percentile(value, 0.4D)")
    hi = F.expr("percentile(value, 0.6D)")
    approx = F.expr("approx_percentile(value, 0.5D, 10000)")
    return ev.groupBy("event_type").agg(
        F.round(exact, 6).alias("exact_p50"),
        F.when((approx >= lo) & (approx <= hi), F.lit(1))
        .otherwise(F.lit(0))
        .alias("approx_in_band"),
    )


# ---------------------------------------------------------------------------
# pr2 — HITS hubs & authorities over the supplier-transition graph.
#
# The second iterative graph algorithm (PageRank's companion): a
# supplier is a strong AUTHORITY if heavily bought-into from strong
# hubs, a strong HUB if its customers move on to strong authorities.
# Classic HITS L2-normalizes each round (float accumulation order —
# not hash-checkable); this variant max-normalizes in FIXED POINT
# ((x * 1e6) DIV max(x)), so the whole recurrence is exact integer
# arithmetic and the oracle unrolls it as CTEs (the e7 discipline
# applied to an iterative algorithm). Argmax structure is unchanged.
# ---------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_SCALE = 1_000_000


def _hits_oracle() -> str:
    from dww_data_pipeline_spark.plans.curation_plans import _PR_EDGES_SQL

    edges_sql = _PR_EDGES_SQL.replace(
        "CAST(COUNT(*) AS DOUBLE)", "CAST(COUNT(*) AS BIGINT)"
    )
    s = _HITS_SCALE
    parts = [
        f"WITH edges AS ({edges_sql}),",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)),",
        f"h0 AS (SELECT node, CAST({s} AS BIGINT) AS hub FROM nodes),",
    ]
    for i in range(1, _HITS_ITERS + 1):
        p = i - 1
        parts.append(
            f"a{i}r AS (SELECT e.dst AS node, SUM(e.w * h.hub) AS x"
            f" FROM edges e JOIN h{p} h ON e.src = h.node GROUP BY e.dst),"
        )
        parts.append(f"a{i}m AS (SELECT MAX(x) AS m FROM a{i}r),")
        parts.append(
            f"a{i} AS (SELECT n.node,"
            f" CAST(COALESCE((r.x * {s}) // NULLIF(m.m, 0), 0) AS BIGINT)"
            f" AS authority"
            f" FROM nodes n LEFT JOIN a{i}r r ON n.node = r.node"
            f" CROSS JOIN a{i}m m),"
        )
        parts.append(
            f"h{i}r AS (SELECT e.src AS node, SUM(e.w * a.authority) AS x"
            f" FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),"
        )
        parts.append(f"h{i}m AS (SELECT MAX(x) AS m FROM h{i}r),")
        parts.append(
            f"h{i} AS (SELECT n.node,"
            f" CAST(COALESCE((r.x * {s}) // NULLIF(m.m, 0), 0) AS BIGINT)"
            f" AS hub"
            f" FROM nodes n LEFT JOIN h{i}r r ON n.node = r.node"
            f" CROSS JOIN h{i}m m),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT a.node AS supplier, a.authority, h.hub"
        f" FROM a{_HITS_ITERS} a JOIN h{_HITS_ITERS} h ON a.node = h.node"
    )
    return "\n".join(parts)


@register(
    "pr2_supplier_hits",
    oracle=_hits_oracle(),
    description="HITS HUBS & AUTHORITIES over the supplier-transition "
    f"graph ({_HITS_ITERS} fixed rounds): max-normalized in fixed "
    "point ((x*1e6) DIV max) so the whole recurrence is EXACT integer "
    "arithmetic — the hash-checkable form of an algorithm whose "
    "classic L2 normalization is float-order dependent. Per round two "
    "edge-score joins + two node-keyed partial aggs; the max "
    "normalizer is a 1-row in-plan broadcast; lineage truncated per "
    "round (the PageRank finding). Companion centrality to pr1 "
    "(iterative graph analytics)",
)
def pr2_supplier_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.graph import hits
    from dww_data_pipeline_spark.plans.curation_plans import (
        supplier_transition_edges,
    )

    edges = supplier_transition_edges(spark, sf_dir)
    scores = hits(
        edges, "src", "dst", "w", iters=_HITS_ITERS, scale=_HITS_SCALE
    )
    return scores.select(
        F.col("node").alias("supplier"), "authority", "hub"
    )


# ---------------------------------------------------------------------------
# m5 — perceptual-hash (aHash) image dedup with REAL pixels.
#
# The image leg of the dedup family: every image is decoded by the
# pure-NumPy codec and reduced to an average-hash (bit p set iff
# pixel p's gray exceeds the image mean — computed in EXACT integers:
# n*gray_p > sum(gray), no float mean), then hash buckets become
# duplicate groups with a canonical keeper. Seeding the synthesized
# P3 images with doc_id % 97 plants true duplicate classes.
#
# The oracle recomputes the hash from the pixel-GENERATOR arithmetic
# alone (the m1/m3/m4 discipline): drift anywhere in synthesis,
# header parsing, pixel order, gray math, or the mean comparison
# breaks the hash match — so the differential check covers the whole
# decode path without DuckDB ever parsing an image.
#
# Scale shape: images cross into Python once (Arrow batches), 8-byte
# hashes are all that shuffle; the dedup is one ahash-partitioned
# window. At billions of images the same hash feeds d1-style exact
# grouping or Hamming-ball LSH probing.
# ---------------------------------------------------------------------------


def _m5_ahash_sql() -> str:
    """DuckDB integer arithmetic for the aHash of the 2x2 P3 image
    generated from seed = doc_id % 97 (v_i = (seed*(3i+7)+i) % 256);
    delegates to the seed-parameterized helper m2 shares."""
    from dww_data_pipeline_spark.plans.streaming_plans import _p3_ahash_sql

    return _p3_ahash_sql("doc_id % 97")


_M5_ORACLE = f"""
WITH h AS (
  SELECT doc_id AS media_id, {_m5_ahash_sql()} AS ahash
  FROM documents
)
SELECT media_id, ahash,
       CAST(COUNT(*) OVER (PARTITION BY ahash) AS BIGINT) AS bucket_size,
       media_id = MIN(media_id) OVER (PARTITION BY ahash) AS keep
FROM h
"""


@register(
    "m5_image_ahash_dedup",
    oracle=_M5_ORACLE,
    description="PERCEPTUAL-HASH IMAGE DEDUP with REAL pixels, "
    "ORACLE-CHECKED: P3 images (seeded doc_id % 97 so true duplicate "
    "classes exist) are decoded by the pure-NumPy codec inside "
    "Arrow-batched mapInPandas and reduced to an integer-exact "
    "average-hash (bit p iff n*gray_p > sum(gray)); hash buckets "
    "become dup groups with a canonical min-id keeper. The oracle "
    "re-derives the hash from the pixel-generator arithmetic without "
    "parsing images, so the differential covers synthesis, decode, "
    "pixel order, gray math and the mean comparison end to end "
    "(north-star multimodal dedup)",
)
def m5_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.documents import image_ahash
    from dww_data_pipeline_spark.plans.streaming_plans import _p3_image_expr

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        _p3_image_expr(F.pmod(F.col("doc_id"), F.lit(97))).alias("payload"),
    )
    h = image_ahash(media).select("media_id", "ahash")
    w = Window.partitionBy("ahash")
    return h.select(
        "media_id",
        "ahash",
        F.count(F.lit(1)).over(w).alias("bucket_size"),
        (F.col("media_id") == F.min("media_id").over(w)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# u4 — BAG-semantics set operations (INTERSECT ALL / EXCEPT ALL).
#
# u1-u3 cover set-semantics union/distinct/split; this completes the
# family with multiset semantics, exercised through Spark's native
# intersectAll/exceptAll physical operators (not an arithmetic
# rewrite) against DuckDB's native INTERSECT ALL / EXCEPT ALL. The
# multisets are supplier occurrences of returned vs fully-shipped
# lineitems; the result is aggregated to (supplier, op, n) so the
# compare surface is cardinality-bounded.
#
# Scale shape: both bag operators hash-partition on the value — the
# same single-shuffle shape as a groupBy on the key; output counts
# are supplier-bounded.
# ---------------------------------------------------------------------------

_U4_ORACLE = """
WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
     b AS (SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F'),
     ia AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
     ea AS (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
SELECT l_suppkey, 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM ia GROUP BY l_suppkey
UNION ALL
SELECT l_suppkey, 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM ea GROUP BY l_suppkey
"""


@register(
    "u4_bag_ops",
    oracle=_U4_ORACLE,
    description="BAG-SEMANTICS SET OPS: INTERSECT ALL / EXCEPT ALL "
    "over supplier occurrence multisets (returned vs fully-shipped "
    "lineitems), via Spark's native intersectAll/exceptAll operators "
    "against DuckDB's native bag operators, aggregated to (supplier, "
    "op, n) so the compare surface is supplier-bounded — completes "
    "the u-family beyond set semantics. Both operators hash-partition "
    "on the value: one shuffle, same shape as a keyed groupBy",
)
def u4_bag_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_suppkey")
    inter = (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("l_suppkey", F.lit("intersect_all").alias("op"), "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("l_suppkey", F.lit("except_all").alias("op"), "n")
    )
    return inter.unionAll(exc)


# ---------------------------------------------------------------------------
# d17 — SoftDeDup down-weighting (dedup without deletion).
#
# Instead of dropping duplicates, give every document a sampling
# weight 1/|dup group| (docs outside any group keep 1.0): the corpus
# keeps its coverage, repeated content stops dominating the training
# mixture, and the weights feed t16-style deterministic samplers.
# Composes the d2→CC machinery; one label join + one size aggregate
# on the (id, component) table — document text never shuffles.
# ---------------------------------------------------------------------------


def _d17_oracle() -> str:
    from dww_data_pipeline_spark.plans.dedup_plans import _D6_ORACLE

    return f"""
WITH comp AS (
  {_D6_ORACLE}
), sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS group_size
  FROM comp GROUP BY component
), lab AS (
  SELECT c.id, s.group_size FROM comp c JOIN sizes s USING (component)
)
SELECT d.doc_id,
       CAST(COALESCE(l.group_size, 1) AS BIGINT) AS group_size,
       round(1.0 / CAST(COALESCE(l.group_size, 1) AS DOUBLE), 6)
         AS sample_weight
FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
"""


@register(
    "d17_softdedup_weights",
    oracle=_d17_oracle(),
    description="SOFT DEDUP: every document weighted 1/|dup group| "
    "(1.0 outside any group) instead of deleted — repeated content "
    "stops dominating the training mixture while corpus coverage "
    "survives; the weights feed t16-style deterministic samplers. "
    "Composes the d2 LSH -> connected-components labels; one size "
    "aggregate + one label join over (id, component) pairs, document "
    "text never shuffles (north-star dedup)",
)
def d17_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.dedup import connected_components
    from dww_data_pipeline_spark.plans.dedup_plans import lsh_pairs_cached

    comp = connected_components(lsh_pairs_cached(spark, sf_dir))
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    lab = comp.join(sizes, "component").select(F.col("id"), "group_size")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    gs = F.coalesce(F.col("group_size"), F.lit(1)).cast("long")
    return d.join(lab, d.doc_id == lab.id, "left").select(
        "doc_id",
        gs.alias("group_size"),
        F.round(F.lit(1.0) / gs.cast("double"), 6).alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# t25 — tokenizer-fertility report, on REAL BPE tokens.
#
# Chars-per-token by (source, lang): the compression-rate report a
# tokenizer/corpus owner reads before committing a vocabulary —
# fertility outliers flag scripts/domains the tokenizer serves badly
# (and therefore over-bills in sequence length).  Round 9 rewired the
# token denominator onto t35's learned-BPE segmentation (round-8
# verdict ask #3): a word's token count is its symbol count after
# t33's 16 merges, so the report measures the tokenizer actually
# being trained, not the whitespace proxy.  The whitespace count
# stays as the baseline column (fertility ratio vs. the proxy is the
# diagnostic a vocabulary review reads).
#
# Scale shape: the t33 two-phase rule (corpus collapses to its word
# histogram once; every merge is vocabulary-bounded), then the
# vocabulary-bounded (tok -> n_sym) table BROADCASTS onto the
# exploded word stream — one corpus-term shuffle for the (source,
# lang) aggregation, no corpus-side join shuffle.  Integer char and
# token sums (exact, associative); two divisions per output row.
# ---------------------------------------------------------------------------

_T25_ORACLE = f"""
WITH {_bpe_oracle_stages()},
nsym AS MATERIALIZED (
  SELECT tok, CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sym
  FROM seg{_BPE_TRAIN_MERGES}
), base AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
         CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS sum_ws_tokens
  FROM documents GROUP BY source, lang
), bpe AS (
  SELECT source, lang, CAST(SUM(n_sym) AS BIGINT) AS sum_bpe_tokens
  FROM (SELECT source, lang, unnest({SQL_TOKS}) AS tok FROM documents) w
  JOIN nsym USING (tok)
  GROUP BY source, lang
)
SELECT base.source, base.lang, n_docs, sum_chars, sum_ws_tokens,
       CAST(COALESCE(sum_bpe_tokens, 0) AS BIGINT) AS sum_bpe_tokens,
       CASE WHEN sum_ws_tokens > 0
            THEN round(CAST(sum_chars AS DOUBLE)
                       / CAST(sum_ws_tokens AS DOUBLE), 6) END
         AS chars_per_ws_token,
       CASE WHEN COALESCE(sum_bpe_tokens, 0) > 0
            THEN round(CAST(sum_chars AS DOUBLE)
                       / CAST(sum_bpe_tokens AS DOUBLE), 6) END
         AS chars_per_bpe_token
FROM base LEFT JOIN bpe USING (source, lang)
"""


@register(
    "t25_tokenizer_fertility",
    oracle=_T25_ORACLE,
    description="TOKENIZER FERTILITY by (source, lang), REAL BPE "
    "tokens: docs, exact char sums, whitespace-token baseline, and "
    "the corpus token count under t33/t35's learned 16-merge BPE "
    "segmentation — chars-per-token for both, so the report measures "
    "the tokenizer actually being trained and its lift over the "
    "whitespace proxy. The vocabulary-bounded (tok, n_sym) table "
    "broadcasts onto the exploded word stream (no corpus-side join "
    "shuffle); one |source|x|lang|-bounded partial-agg shuffle per "
    "aggregate; integer sums, two final divisions (north-star text "
    "analysis; oracle unrolls the same 16 CTE training stages as "
    "t33/t35). NOTE: this entry TRAINS IN-QUERY as its standalone "
    "contract; the PRODUCTION path is t25b_fertility_from_store, "
    "which serves the identical report from the persisted tokenizer "
    "artifact at ~3x less wall (train once, apply many)",
)
def t25_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.pipeline_ext2 import (
        _bpe_train_segmentation,
    )
    from dww_data_pipeline_spark.sources.tokenizer_store import (
        fertility_report,
    )

    _, seg = _bpe_train_segmentation(spark, sf_dir)
    nsym = seg.select(
        "tok",
        F.size(F.split(F.trim(F.col("seg")), " ")).cast("long").alias("n_sym"),
    )
    return fertility_report(load_table(spark, sf_dir, "documents"), nsym)


@register(
    "t25b_fertility_from_store",
    oracle=_T25_ORACLE,
    description="TOKENIZER FERTILITY FROM THE PERSISTED STORE — t25's "
    "artifact-backed twin, the path a production pipeline actually "
    "runs: the (tok, n_sym) table comes from the persisted tokenizer "
    "(sources/tokenizer_store.py, exactness inherited from the t36 "
    "parity gate) and BROADCASTS onto the exploded word stream; OOV "
    "words encode with the loaded merge list, in the driver under the "
    "driver-collect cap and with encode_words above it (none here — the "
    "store is trained on this corpus — but both paths are live and "
    "pytest-pinned on novel words). The store is built at most once "
    "per (application, table fingerprint) — the session artifact cache "
    "stands in for the lake's pre-existing artifact, so every call "
    "after the first is pure load + apply with ZERO training work, "
    "exactly the "
    "production ratio. Same oracle as t25: identical output, served "
    "from the artifact",
)
def t25b_fertility_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.sources import tokenizer_store as ts

    return ts.fertility_from_store(
        load_table(spark, sf_dir, "documents"),
        spark,
        ts.tokenizer_store_cached(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# ev5 — daily-volume anomaly report (z-scores from exact moments).
#
# Daily event counts scored against the corpus of days: z(day) =
# (n*D - S) / sqrt(D*Q - S^2), the algebraic form of (n - mean)/std
# whose every input (n per day, D days, S = sum n, Q = sum n^2) is an
# exact integer — so the double evaluates identically on every
# engine, and the anomaly flag needs no tolerance. The volume alarm
# a pipeline puts on its ingest before trusting a day's data.
#
# Scale shape: one day-bounded histogram shuffle; the 1-row moment
# aggregate broadcasts back in-plan; one expression per day row.
# ---------------------------------------------------------------------------

_EV5_ORACLE = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS q
  FROM daily
)
SELECT day, n,
       round(CAST(n * m.d - m.s AS DOUBLE)
             / sqrt(CAST(m.d * m.q - m.s * m.s AS DOUBLE)), 6) AS z,
       abs(CAST(n * m.d - m.s AS DOUBLE)
           / sqrt(CAST(m.d * m.q - m.s * m.s AS DOUBLE))) > 2.0 AS is_anomaly
FROM daily CROSS JOIN m
"""


@register(
    "ev5_anomaly_days",
    oracle=_EV5_ORACLE,
    description="DAILY-VOLUME ANOMALY REPORT: per-day event counts "
    "z-scored against all days using the algebraic form "
    "(n*D - S)/sqrt(D*Q - S^2) whose inputs are all exact integers — "
    "identical doubles on every engine, tolerance-free anomaly flags. "
    "The ingest-volume alarm ahead of dq4's distributional drift. One "
    "day-bounded histogram shuffle + a 1-row in-plan moment broadcast "
    "(event analytics / data quality)",
)
def ev5_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = daily.agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    z = (F.col("n") * F.col("d") - F.col("s")).cast("double") / F.sqrt(
        (F.col("d") * F.col("q") - F.col("s") * F.col("s")).cast("double")
    )
    return daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# ext_zorder_key — Morton (z-order) interleave as an oracle-checked
# projection.
#
# The data-skipping layout key behind Delta/Iceberg OPTIMIZE ZORDER:
# interleave the bits of (customer, order-day) so contiguous key
# ranges are small rectangles in both dimensions; files written in
# z order carry tight min/max footer stats on BOTH columns (the
# writer + footer-stat proof live in sources/layout.py + tests).
# The interleave itself is pure +,*,div,mod integer arithmetic —
# the SAME expression text runs on both engines, hash-exact.
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from dww_data_pipeline_spark.sources.layout import z_value_sql

    x = "(CAST(o_custkey AS BIGINT) % 65536)"
    y = "(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536)"
    return f"""
SELECT o_orderkey, {z_value_sql(x, y)} AS zval
FROM orders WHERE o_orderkey % 10 = 0
"""


@register(
    "ext_zorder_key",
    oracle=_zorder_oracle(),
    description="Z-ORDER (Morton) KEY: bit-interleave of (customer, "
    "order-day) — the multi-dimensional data-skipping sort key behind "
    "OPTIMIZE ZORDER; files written in z order carry tight min/max "
    "footer stats on BOTH columns (writer + parquet-footer proof in "
    "sources/layout.py). Pure integer +,*,div,mod arithmetic, "
    "hash-exact across engines; zero shuffle in the projection",
)
def ext_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.sources.layout import z_value_col

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    x = "(CAST(o_custkey AS BIGINT) % 65536)"
    y = "(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') % 65536)"
    return o.select("o_orderkey", z_value_col(x, y).alias("zval"))


# ---------------------------------------------------------------------------
# e8 — feature-hashed bag-of-words embedding (the hashing trick).
#
# The Vowpal-Wabbit / HashingVectorizer primitive: every token maps
# to a dimension by hash (last md5 hex digit -> 16 dims) with a
# hash-derived sign, and the document's embedding is the signed
# count sum per dimension. No vocabulary table AT ALL — the
# featurizer is stateless, so it parallelizes embarrassingly and
# never needs a fit pass; sign-hashing keeps collisions unbiased
# (Weinberger et al. 2009). Bridges the text and vector tiers: the
# output is a dense integer vector per document, ready for e3-style
# normalization or s-family search.
#
# Cross-engine exactness: dimension and sign derive from md5 hex
# CHARACTERS via position-in-alphabet / string comparison (no
# numeric hex parse), counts are integers, one doc-keyed shuffle of
# 16 conditional sums.
# ---------------------------------------------------------------------------

_E8_DIMS = 16
_E8_HEX = "0123456789abcdef"


def _e8_oracle() -> str:
    h = "md5('fh|' || tok)"
    dim = f"strpos('{_E8_HEX}', substr({h}, 32, 1)) - 1"
    sgn = f"CASE WHEN substr({h}, 31, 1) < '8' THEN 1 ELSE -1 END"
    feats = ",\n       ".join(
        f"CAST(SUM(CASE WHEN dim = {d} THEN sgn ELSE 0 END) AS BIGINT) AS f{d}"
        for d in range(_E8_DIMS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
), hashed AS (
  SELECT doc_id, {dim} AS dim, {sgn} AS sgn FROM toks
)
SELECT doc_id, {feats}
FROM hashed GROUP BY doc_id
"""


@register(
    "e8_feature_hashing",
    oracle=_e8_oracle(),
    description="FEATURE-HASHED BoW EMBEDDING (the hashing trick, "
    f"Weinberger et al. 2009): tokens map to {_E8_DIMS} dims by md5 "
    "hex digit with hash-derived signs; a document's embedding is "
    "the signed count sum — a STATELESS featurizer with no "
    "vocabulary table or fit pass, so it parallelizes embarrassingly "
    "at any corpus size. One doc-keyed shuffle of conditional "
    "integer sums; bridges the text tier to the e/s vector ops "
    "(north-star embedding ops)",
)
def e8_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(spark_tokens(F.col("text"))).alias("tok"))
    h = F.md5(F.concat(F.lit("fh|"), F.col("tok")))
    hashed = toks.select(
        "doc_id",
        F.expr(
            f"instr('{_E8_HEX}', substring(md5(concat('fh|', tok)), 32, 1)) - 1"
        ).alias("dim"),
        F.when(F.substring(h, 31, 1) < "8", F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("dim") == d_, F.col("sgn")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"f{d_}")
            for d_ in range(_E8_DIMS)
        ]
    )


# ---------------------------------------------------------------------------
# dq12 — deterministic bootstrap replicas for corpus statistics.
#
# "The corpus mean is 612 chars" — plus or minus WHAT? The Poisson
# bootstrap (Chamandy et al., Google 2012) answers at any scale:
# each document gets an integer multiplicity per replica drawn from
# ~Poisson(1), each replica's weighted mean is one bootstrap sample,
# and the replica spread is the confidence interval. Here the
# multiplicities are DETERMINISTIC — a seeded md5 hex digit maps to
# {0,1,2,3} with Poisson-like mass (6/16, 6/16, 3/16, 1/16) — so
# replicas are reproducible across runs AND engines, which makes a
# resampling procedure oracle-checkable at all.
#
# Scale shape: documents explode x B replicas of (doc, multiplicity)
# INTEGERS (never text), one replica-keyed partial-agg shuffle of B
# rows out. Downstream reads the replica means and quotes
# mean ± 2*sd.
# ---------------------------------------------------------------------------

_DQ12_B = 16


def _dq12_w(hex_digit_sql: str) -> str:
    return (
        f"CASE WHEN {hex_digit_sql} < '6' THEN 1"
        f" WHEN {hex_digit_sql} < 'c' THEN 0"
        f" WHEN {hex_digit_sql} < 'f' THEN 2"
        f" ELSE 3 END"
    )


_DQ12_ORACLE = f"""
WITH reps AS (
  SELECT doc_id, n_chars, b,
         {_dq12_w("substr(md5('boot|' || CAST(b AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 1)")} AS w
  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, {_DQ12_B - 1})) AS b)
)
SELECT b AS replica,
       CAST(SUM(w) AS BIGINT) AS n_eff,
       round(CAST(SUM(w * n_chars) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6)
         AS mean_chars
FROM reps GROUP BY b
"""


@register(
    "dq12_bootstrap_ci",
    oracle=_DQ12_ORACLE,
    description="DETERMINISTIC POISSON BOOTSTRAP (Chamandy et al.): "
    f"{_DQ12_B} reproducible replicas of the corpus mean-chars "
    "statistic — multiplicities come from a seeded md5 digit with "
    "Poisson(1)-like mass {0,1,2,3}, so the resampling is identical "
    "across runs and engines and the replica spread quotes the "
    "confidence interval no single pass can. Integer multiplicities "
    "explode (doc, w) pairs, never text; one replica-keyed shuffle "
    "of B rows (data quality / corpus stats)",
)
def dq12_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    reps = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_DQ12_B - 1))).alias("b"),
    )
    digit = F.substring(
        F.md5(
            F.concat(
                F.lit("boot|"),
                F.col("b").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            )
        ),
        1,
        1,
    )
    w = (
        F.when(digit < "6", F.lit(1))
        .when(digit < "c", F.lit(0))
        .when(digit < "f", F.lit(2))
        .otherwise(F.lit(3))
    )
    return (
        reps.withColumn("w", w)
        .groupBy(F.col("b").alias("replica"))
        .agg(
            F.sum("w").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("n_chars")).cast("double")
                / F.sum("w").cast("double"),
                6,
            ).alias("mean_chars"),
        )
    )


# ---------------------------------------------------------------------------
# ev6 — last-touch attribution (as-of join + lookback window).
#
# Which click gets credit for each purchase? The classic marketing /
# funnel shape: for every purchase, the user's MOST RECENT prior
# click — but only if it happened within the 6h lookback window,
# else 'unattributed'. The carry is the j12 as-of composition (one
# union-sort-window pass per user key — never an inequality join);
# the lookback is a plain filter on the carried gap. Oracle is
# DuckDB's native ASOF LEFT JOIN.
# ---------------------------------------------------------------------------

_EV6_WINDOW_MS = 6 * 3600 * 1000

_EV6_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id,
         CAST(epoch_ms(ts) AS BIGINT) AS p_ms
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id,
         CAST(epoch_ms(ts) AS BIGINT) AS c_ms
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id,
       CASE WHEN c.c_ms IS NOT NULL
                 AND p.p_ms - c.c_ms <= {_EV6_WINDOW_MS}
            THEN c.click_id END AS attributed_click,
       CASE WHEN c.c_ms IS NOT NULL
                 AND p.p_ms - c.c_ms <= {_EV6_WINDOW_MS}
            THEN p.p_ms - c.c_ms END AS gap_ms
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.c_ms <= p.p_ms
"""


@register(
    "ev6_last_touch_attribution",
    oracle=_EV6_ORACLE,
    description="LAST-TOUCH ATTRIBUTION: every purchase credited to "
    "the user's most recent prior click IFF it falls inside the 6h "
    "lookback window, else unattributed — the funnel-credit shape "
    "marketing analytics runs at event-stream scale. The as-of carry "
    "is one union-sort-window pass per user key (j12 composition, "
    "never an inequality join); the lookback is a filter on the "
    "carried gap. Oracle: DuckDB native ASOF LEFT JOIN "
    "(event analytics)",
)
def ev6_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.sequence import asof_join

    ev = load_table(spark, sf_dir, "events")
    ms = F.expr("unix_micros(ts) div 1000")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", ms.alias("p_ms")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", ms.alias("c_ms")
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="p_ms",
        right_ts="c_ms",
        right_cols=["click_id", "c_ms"],
    )
    in_window = F.col("c_ms").isNotNull() & (
        (F.col("p_ms") - F.col("c_ms")) <= _EV6_WINDOW_MS
    )
    return joined.select(
        "purchase_id",
        F.when(in_window, F.col("click_id")).alias("attributed_click"),
        F.when(in_window, F.col("p_ms") - F.col("c_ms")).alias("gap_ms"),
    )


# ---------------------------------------------------------------------------
# pr3 — community detection by deterministic label propagation.
#
# CC (d6) finds connected components; LPA finds COMMUNITIES inside a
# connected graph — the grouping a curation pipeline uses to
# partition an entity/citation graph into processing cells. Classic
# LPA is randomized (visit order breaks ties); this variant is
# semi-synchronous and fully deterministic: every node adopts the
# label with the highest total incident weight among its neighbours,
# ties to the smallest label, fixed 2 rounds — integer weights and a
# total tie order make it hash-checkable (the pr1/pr2/e7 discipline).
# ---------------------------------------------------------------------------

_PR3_ITERS = 2


def _pr3_oracle() -> str:
    from dww_data_pipeline_spark.plans.curation_plans import _PR_EDGES_SQL

    edges_sql = _PR_EDGES_SQL.replace(
        "CAST(COUNT(*) AS DOUBLE)", "CAST(COUNT(*) AS BIGINT)"
    )
    parts = [
        f"WITH edges AS ({edges_sql}),",
        "und AS (SELECT a, b, SUM(w) AS w FROM ("
        "SELECT src AS a, dst AS b, w FROM edges"
        " UNION ALL SELECT dst AS a, src AS b, w FROM edges"
        ") GROUP BY a, b),",
        "l0 AS (SELECT DISTINCT a AS node, a AS community FROM und),",
    ]
    for i in range(1, _PR3_ITERS + 1):
        p = i - 1
        parts.append(
            f"s{i} AS (SELECT e.a AS n, l.community AS lab, SUM(e.w) AS s"
            f" FROM und e JOIN l{p} l ON e.b = l.node GROUP BY e.a, l.community),"
        )
        parts.append(
            f"l{i} AS (SELECT n AS node, lab AS community FROM ("
            f"SELECT n, lab, row_number() OVER"
            f" (PARTITION BY n ORDER BY s DESC, lab) AS rn FROM s{i}"
            f") WHERE rn = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node AS supplier, community FROM l{_PR3_ITERS}"
    )
    return "\n".join(parts)


@register(
    "pr3_supplier_communities",
    oracle=_pr3_oracle(),
    description="COMMUNITY DETECTION by deterministic label "
    f"propagation ({_PR3_ITERS} fixed semi-synchronous rounds): each "
    "node adopts the label with the highest total incident weight "
    "among its neighbours, ties to the smallest label — integer "
    "weights + a total tie order make randomized LPA hash-checkable. "
    "Complements d6 (components) and pr1/pr2 (centrality): the cell "
    "partitioning a pipeline runs over entity graphs. Per round one "
    "edge-label join, one (node,label) partial agg, one node-"
    "partitioned argmax window (iterative graph analytics)",
)
def pr3_supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.graph import label_propagation
    from dww_data_pipeline_spark.plans.curation_plans import (
        supplier_transition_edges,
    )

    edges = supplier_transition_edges(spark, sf_dir)
    labels = label_propagation(edges, "src", "dst", "w", iters=_PR3_ITERS)
    return labels.select(F.col("node").alias("supplier"), "community")


# ---------------------------------------------------------------------------
# s9 — ANN recall gate: the LSH path graded against brute force,
# oracle-checked.
#
# The self-evaluation every approximate index needs: per query,
# recall@5 of the verified LSH path (s4) against the exact top-5
# (s1). Both constituents are already deterministic on both engines
# (md5-derived buckets, tie-broken rankings), so the recall NUMBERS
# — not just a pass flag — hash-match cross-engine: the quality of
# the approximation is itself a differentially-verified quantity.
# In production the same query runs over a sampled query set as a
# continuous index-health monitor.
# ---------------------------------------------------------------------------


def _s9_oracle() -> str:
    bf = REGISTRY["s1_ann_brute_force_topk"].oracle
    lsh = REGISTRY["s4_ann_lsh_topk"].oracle
    return f"""
WITH bf AS ({bf}),
lsh AS ({lsh})
SELECT bf.query_id,
       CAST(COUNT(lsh.vec_id) AS BIGINT) AS n_hits,
       round(CAST(COUNT(lsh.vec_id) AS DOUBLE) / 5, 6) AS recall_at_5
FROM bf LEFT JOIN lsh
  ON bf.query_id = lsh.query_id AND bf.vec_id = lsh.vec_id
GROUP BY bf.query_id
"""


@register(
    "s9_ann_recall_gate",
    oracle=_s9_oracle(),
    description="ANN RECALL GATE: per-query recall@5 of the bucketed "
    "LSH path (s4) against the exact brute-force top-5 (s1) — the "
    "index-health monitor an approximate search system runs "
    "continuously over a sampled query set. Both constituents are "
    "deterministic on both engines, so the recall NUMBERS themselves "
    "hash-match: approximation quality as a differentially-verified "
    "quantity (north-star similarity search)",
)
def s9_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.dedup_plans import (
        s1_ann_brute_force_topk,
        s4_ann_lsh_topk,
    )

    bf = s1_ann_brute_force_topk(spark, sf_dir).select("query_id", "vec_id")
    lsh = s4_ann_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("l_qid"), F.col("vec_id").alias("l_vid")
    )
    return (
        bf.join(
            lsh,
            (bf.query_id == lsh.l_qid) & (bf.vec_id == lsh.l_vid),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("l_vid").alias("n_hits"),
            F.round(F.count("l_vid").cast("double") / 5, 6).alias(
                "recall_at_5"
            ),
        )
    )


# ---------------------------------------------------------------------------
# m6 — audio voice-activity segmentation (the silence-trimming pass).
#
# Completes the audio leg: m4 extracts per-window features, m6 makes
# the keep/drop DECISION — windows classified active by exact
# INTEGER energy (Σ s² of int16 samples fits int64), active runs
# merged into segments. Clips are synthesized with a per-window
# amplitude gate derived from doc_id arithmetic so every clip has a
# different speech/silence pattern; the oracle re-derives window
# energies and segment runs from the generator arithmetic alone
# (the m1/m3/m4 discipline), while the Spark side decodes REAL A16
# bytes and segments with numpy — two independent implementations of
# the same integer math, hash-compared.
# ---------------------------------------------------------------------------

_M6_N = 64
_M6_WINDOW = 8
_M6_THRESH = 80000


def _m6_payload_expr(seed_col):
    samples = []
    for i in range(_M6_N):
        base = F.pmod(seed_col * (5 * i + 11) + 3 * i, F.lit(2048)) - 1024
        w = i // _M6_WINDOW
        factor = F.pmod(F.pmod(seed_col * (w + 3), F.lit(5)), F.lit(2))
        samples.append((base * factor).cast("string"))
    body = F.concat_ws(" ", *samples)
    return F.encode(
        F.concat(F.lit(f"A16\n8000 {_M6_N}\n"), body, F.lit("\n")), "utf-8"
    )


_M6_ORACLE = f"""
WITH idx AS (
  SELECT doc_id, unnest(generate_series(0, {_M6_N - 1})) AS i FROM documents
), samp AS (
  SELECT doc_id, i // {_M6_WINDOW} AS w,
         (((doc_id * (5 * i + 11) + 3 * i) % 2048) - 1024)
           * (((doc_id * ((i // {_M6_WINDOW}) + 3)) % 5) % 2) AS s
  FROM idx
), win AS (
  SELECT doc_id, w, SUM(s * s) AS energy FROM samp GROUP BY doc_id, w
), flag AS (
  SELECT doc_id, w,
         CASE WHEN energy > {_M6_THRESH} THEN 1 ELSE 0 END AS active,
         lag(CASE WHEN energy > {_M6_THRESH} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY w) AS prev
  FROM win
)
SELECT doc_id AS media_id,
       TRUE AS decode_ok,
       CAST(COUNT(*) AS INT) AS n_windows,
       CAST(SUM(active) AS INT) AS n_active,
       CAST(SUM(CASE WHEN active = 1 AND COALESCE(prev, 0) = 0
                     THEN 1 ELSE 0 END) AS INT) AS n_segments,
       CAST(MIN(CASE WHEN active = 1 THEN w END) AS INT) AS first_active
FROM flag GROUP BY doc_id
"""


@register(
    "m6_audio_vad",
    oracle=_M6_ORACLE,
    description="AUDIO VOICE-ACTIVITY SEGMENTATION with REAL "
    "waveforms: A16 clips (per-window amplitude gate from doc_id "
    "arithmetic — every clip a different speech/silence pattern) are "
    "decoded in Arrow-batched mapInPandas and segmented by exact "
    "INTEGER window energy; the oracle re-derives energies and "
    "segment runs from the generator arithmetic alone, so decode, "
    "windowing, thresholding and run-merging are all differentially "
    "verified. The silence-trimming decision pass before "
    "transcription (north-star multimodal)",
)
def m6_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.documents import audio_vad

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        _m6_payload_expr(F.col("doc_id")).alias("payload"),
    )
    return audio_vad(media, window=_M6_WINDOW, energy_threshold=_M6_THRESH)


# ---------------------------------------------------------------------------
# d24 — SemDeDup in its PUBLISHED form: k-means cells, not LSH buckets.
#
# Abbas et al. (SemDeDup, arXiv:2303.09540) partition the embedding
# space with k-means, compute dense pairwise cosines WITHIN each
# cluster, and keep one representative per near-duplicate group.
# d15 approximates the partition with sign-LSH buckets; d24 is the
# paper's actual composition, and the engine already owns every
# piece: e7's exact-integer Lloyd assignment (bit-identical labels on
# both engines — what makes a k-means-partitioned dedup ORACLE-
# CHECKABLE at all), the per-cluster dense scorer (one gemm per
# cluster, d15's Arrow shape with cluster as the grouping key), and
# bucket-local union-find (a vector lives in exactly ONE cluster, so
# components cannot span clusters — same locality argument as d15).
#
# Output covers EVERY vector (singletons included, component = own
# id), unlike d15 which only emits vectors with >= 1 edge — the
# keep/drop decision a curation pipeline consumes is total.
#
# Scale shape: one vec_id equi-join to attach cluster labels, one
# applyInPandas gemm per cluster, one per-cluster union-find, one
# left join back. Per-cluster work is (n/k)^2 — k is the published
# knob (the paper runs k ~ sqrt(n); here k=4 pinned by e7's oracle
# unroll). The oracle embeds e7's unrolled recurrence as a CTE (the
# s8 pattern) and walks components recursively per cluster.
#
# Float caveat (ACCEPTED, same as d7b / bucket_pairs_cos_arrow's
# docstring): the Spark side thresholds the RAW BLAS-summed cosine
# at 0.3 while the oracle thresholds a raw left-to-right list_sum
# fold — summation order differs, so a pair whose cosine sits within
# ~1e-15 of 0.3 could flip cross-engine and move a component
# assignment. Rounding before the threshold (the d5/d7 round(cos,6)
# discipline) only relocates the same-measure flip window to the
# half-micro rounding boundary, so we keep the raw threshold and
# the vectorized scorer; empirically zero hits across all SFs.
# ---------------------------------------------------------------------------


def _d24_oracle() -> str:
    import dww_data_pipeline_spark.plans.dedup_plans as _dd

    km = REGISTRY["e7_kmeans_clusters"].oracle
    return f"""WITH RECURSIVE km AS MATERIALIZED ({km}),
e AS MATERIALIZED (
  SELECT km.vec_id, emb.embedding AS v, km.cluster
  FROM km JOIN embeddings emb ON emb.vec_id = km.vec_id
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_dd._SQL_COS} >= 0.3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS id FROM edges
), walk(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.id, e2.b FROM walk w JOIN edges e2 ON e2.a = w.r
), comp AS (
  SELECT id, MIN(r) AS component FROM walk GROUP BY id
)
SELECT e.vec_id, CAST(e.cluster AS INT) AS cluster,
       COALESCE(c.component, e.vec_id) AS component,
       CAST(COALESCE(c.component, e.vec_id) = e.vec_id AS BOOLEAN) AS is_kept
FROM e LEFT JOIN comp c ON c.id = e.vec_id"""


@register(
    "d24_semantic_dedup_kmeans",
    oracle=_d24_oracle(),
    description="SEMANTIC DEDUP, PUBLISHED FORM (SemDeDup): partition "
    "the embedding space with e7's exact-integer k-means (not LSH "
    "buckets), dense pairwise cosines WITHIN each cluster (one gemm "
    "per cluster), connected components, keep the min-id "
    "representative — keep/drop emitted for EVERY vector (singletons "
    "included). Cluster labels are bit-identical on both engines "
    "(e7's contract), components are cluster-local (one union-find "
    "pass per cluster, no iterative loop); per-cluster work is "
    "(n/k)^2 with k the published scale knob. Oracle embeds e7's "
    "unrolled recurrence and walks components per cluster.",
)
def d24_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.operators.similarity import (
        bucket_local_components_arrow,
        bucket_pairs_cos_arrow,
    )

    km = e7_kmeans_clusters(spark, sf_dir).select("vec_id", "cluster")
    e = (
        load_table(spark, sf_dir, "embeddings")
        .join(km, "vec_id")
        .select("vec_id", "embedding", "cluster")
    )
    pairs = bucket_pairs_cos_arrow(
        e, "vec_id", "embedding", "cluster", min_cos=0.3, keep_bucket=True
    )
    labels = bucket_local_components_arrow(
        pairs, "id_a", "id_b", "cluster"
    ).withColumnRenamed("id", "vec_id")
    return (
        e.select("vec_id", "cluster")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce("component", "vec_id").alias("component"),
            (F.coalesce("component", "vec_id") == F.col("vec_id")).alias(
                "is_kept"
            ),
        )
    )
