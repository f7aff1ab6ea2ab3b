"""Round-4c pipeline extensions — five operators that round out the
engine's large-scale curation tier:

* ``ext_bloom_prune_join`` — a from-first-principles RUNTIME FILTER:
  a distributed Bloom bitmap built from the selective side of a join
  prunes the 100 TB probe side BEFORE its shuffle (Spark's internal
  ``bloom_filter_agg`` is not SQL-exposed, so the bitmap is built
  with plain DataFrame ops: hash → bit-position rows → ``bit_or``
  packed 64-bit words — portable to any engine);
* ``v5_heavy_hitters`` — count-min-sketch heavy hitters with the
  sketch's accuracy CONTRACT as a verified output (the dq7/dq11
  sketch-gate pattern applied to frequency estimation);
* ``t24_weighted_sample`` — deterministic weighted Bernoulli
  sampling (inclusion probability ∝ document token count, capped at
  1) via integer hash comparison — the data-mixing primitive for
  length-weighted subset selection with zero RNG state;
* ``pr4_triangle_count`` — degree-ordered triangle counting over the
  co-supplier graph (the arboricity-bounded orientation trick that
  keeps wedge enumeration from exploding on hub nodes);
* ``ext_delete_propagate`` — GDPR-style cascade delete accounting:
  one tombstone set anti/semi-joined through the FK graph
  (customer → orders → lineitem, customer → events), reporting
  purged vs retained per table.

Cross-engine determinism: every hash is md5-hex (portable), every
comparison and count is integer, the only doubles are final rounded
ratios. House conventions per plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.plans.registry import register
from dww_data_pipeline_spark.plans.text_exprs import SQL_TOKS, spark_tokens
from dww_data_pipeline_spark.sources.catalog import cached_artifact, load_table

# ---------------------------------------------------------------------------
# ext_bloom_prune_join — runtime-filter join pruning.
#
# The scale problem: joining a 100 TB fact table to a SELECTIVE subset
# of another table shuffles the entire fact side even though only a
# few percent of its rows survive the join. Engines solve this with
# runtime filters (Spark's own spark.sql.optimizer.runtimeFilter.*,
# Trino's dynamic filtering). This operator builds the filter
# explicitly so the discipline is visible and testable:
#
#   1. BUILD (small side): k=3 salted xxhash64 hashes per key -> bit
#      positions in an m=65536-bit Bloom filter, packed into 1024
#      64-bit words via bit_or aggregation. The bitmap is a 1024-row
#      table regardless of corpus size.
#   2. PROBE (big side): three BROADCAST joins against the word table
#      + bit tests prune non-matching rows with NO shuffle of the
#      probe side and no false negatives (Bloom guarantee).
#   3. JOIN: the surviving ~few-percent join the build side exactly;
#      Bloom false positives are eliminated here, so the RESULT is
#      bit-identical to the plain join — which is exactly what the
#      DuckDB oracle runs.
#
# At 1000 executors the bitmap broadcast is ~8 KB; the shuffle that
# the pruning avoids is the whole probe side. False-positive rate at
# n build keys: (1 - e^{-kn/m})^k — for the sf0.01 build set (~1.5k
# keys) that is < 0.1%, and correctness never depends on it.
# ---------------------------------------------------------------------------

_BLOOM_BITS = 65536  # m: bits in the filter (1024 packed words)
_BLOOM_K = 3  # hash functions


def _spark_bloom_hash(key, salt: int):
    """Salted 64-bit hash of a key column, reduced mod m.

    xxhash64 (JVM-native, codegen-friendly) rather than md5: the
    Bloom filter is execution-internal — the exact join after it
    removes every false positive, so the RESULT is hash-agnostic and
    the probe side's per-row cost should be as close to free as the
    engine allows. (Contrast the d2/cms/t24 hashes, which ARE part of
    the declared result and therefore use portable md5.)"""
    return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(_BLOOM_BITS))


_BLOOM_SEL = "o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'"


@register(
    "ext_bloom_prune_join",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           round(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                          AS DECIMAL(38,4))), 2) AS revenue
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders WHERE {_BLOOM_SEL}) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
    description="RUNTIME-FILTER (Bloom) JOIN PRUNING: a 65536-bit "
    "Bloom bitmap built from the selective orders subset (k=3 salted "
    "xxhash64 hashes — execution-internal, result hash-agnostic — "
    "bit_or-packed 64-bit words, a 1024-row table) prunes "
    "the lineitem probe side via three BROADCAST bit-test joins "
    "BEFORE the real join, so the probe side never shuffles rows the "
    "join would drop; false positives are removed by the exact join "
    "that follows, making the result identical to the plain join the "
    "oracle runs. The from-first-principles form of Spark's runtime "
    "filter / Trino's dynamic filtering, visible and testable.",
)
def ext_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    sel = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey")

    # -- build: k bit positions per key -> packed 64-bit words
    bits = sel.select(
        F.explode(
            F.array(
                *[_spark_bloom_hash(F.col("o_orderkey"), s) for s in range(_BLOOM_K)]
            )
        ).alias("h")
    )
    words = (
        bits.select(
            (F.col("h") / 64).cast("long").alias("word"),
            F.pmod(F.col("h"), F.lit(64)).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("mask"))
    )

    # -- probe: three broadcast bit-test joins, no shuffle of lineitem
    probe = li.select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    for s in range(_BLOOM_K):
        h = _spark_bloom_hash(F.col("l_orderkey"), s)
        probe = (
            probe.withColumn(f"_w{s}", (h / 64).cast("long"))
            .withColumn(f"_b{s}", F.pmod(h, F.lit(64)).cast("int"))
            .join(
                F.broadcast(
                    words.select(
                        F.col("word").alias(f"_w{s}"), F.col("mask").alias(f"_m{s}")
                    )
                ),
                f"_w{s}",
                "left",
            )
            .filter(
                F.expr(f"_m{s} IS NOT NULL AND (shiftright(_m{s}, _b{s}) & 1L) = 1L")
            )
        )

    # -- exact join removes Bloom false positives; decimal-exact agg
    joined = probe.join(sel, probe.l_orderkey == sel.o_orderkey)
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                    ).cast("decimal(38,4)")
                ),
                2,
            ).alias("revenue"),
        )
        .select("l_returnflag", "n", "sum_qty", "revenue")
    )


# ---------------------------------------------------------------------------
# v5_heavy_hitters — count-min-sketch frequency estimation with its
# accuracy contract as a verified output.
#
# The sketch: d=4 hash rows x w=1024 buckets of integer counts —
# built with ONE groupBy over (row, bucket) after a 4-way explode of
# the token stream, so the exchange carries at most d*w = 4096 cells
# per partition (map-side combine) regardless of corpus size. The
# estimate for a term is min over rows of its bucket count — never an
# underestimate (every occurrence lands in the cell), over by more
# than ceil(3N/w) with probability < ~e^-d (Cormode & Muthukrishnan).
#
# The registered output joins the sketch AGAINST EXACT top-20 counts
# (dq7/dq11 sketch-contract pattern): both engines compute the same
# integer cells, the same estimates, and the same within_bound gate,
# so the query hash-checks exactly while exercising the full sketch
# path. At 100 TB you keep the 4096-cell sketch and drop the exact
# side; here the exact side IS the verification.
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 1024  # buckets per row
_CMS_TOPK = 20


def _spark_cms_bucket(tok, row: int):
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cms{row}|"), tok)), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(_CMS_W))


def _sql_cms_bucket(tok: str, row: int) -> str:
    return (
        f"(CAST(('0x' || substr(md5('cms{row}|' || {tok}), 1, 8)) AS BIGINT) "
        f"% {_CMS_W})"
    )


def _v5_oracle() -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS row_id, {_sql_cms_bucket('tok', r)} AS bucket, "
        f"CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 2"
        for r in range(_CMS_D)
    )
    ests = ", ".join(
        f"(SELECT c FROM cells WHERE row_id = {r} "
        f"AND bucket = {_sql_cms_bucket('t.tok', r)})"
        for r in range(_CMS_D)
    )
    return f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS}) AS tok FROM documents
    ), cells AS (
      {cells}
    ), exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
      FROM toks GROUP BY tok
    ), top AS (
      SELECT tok, n, total FROM exact ORDER BY n DESC, tok LIMIT {_CMS_TOPK}
    )
    SELECT t.tok, t.n, least({ests}) AS cms_est,
           (least({ests}) >= t.n
            AND (least({ests}) - t.n) * {_CMS_W} <= 3 * t.total) AS within_bound
    FROM top t
    ORDER BY t.n DESC, t.tok
    """


@register(
    "v5_heavy_hitters",
    oracle=_v5_oracle(),
    description="COUNT-MIN-SKETCH HEAVY HITTERS with the accuracy "
    "contract as a verified quantity: a d=4 x w=1024 integer sketch "
    "(ONE partial-agg shuffle of at most 4096 cells per partition, "
    "corpus-size-independent) estimates the exact top-20 token "
    "frequencies; the output carries exact count, sketch estimate, "
    "and the CMS guarantee gate est∈[n, n+3N/w] — the dq7/dq11 "
    "sketch-contract pattern applied to frequency estimation. At "
    "100 TB the 4096-cell sketch replaces the full token count table "
    "for hot-key detection (skew salting, stop-word gating).",
)
def v5_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(spark_tokens(F.col("text"))).alias("tok"))

    # sketch cells: 4-way explode -> one groupBy (map-side combined)
    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row_id"),
                            _spark_cms_bucket(F.col("tok"), r).alias("bucket"),
                        )
                        for r in range(_CMS_D)
                    ]
                )
            ).alias("rb")
        )
        .groupBy(F.col("rb.row_id").alias("row_id"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )

    # exact top-k with the corpus total carried along
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = (
        counts.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_CMS_TOPK)
        .crossJoin(F.broadcast(total))
    )

    # estimate: join the tiny top-k against the tiny cell table d times
    est = top
    for r in range(_CMS_D):
        est = est.withColumn(f"_bk{r}", _spark_cms_bucket(F.col("tok"), r)).join(
            F.broadcast(
                cells.filter(F.col("row_id") == r).select(
                    F.col("bucket").alias(f"_bk{r}"), F.col("c").alias(f"_c{r}")
                )
            ),
            f"_bk{r}",
        )
    cms = F.least(*[F.col(f"_c{r}") for r in range(_CMS_D)])
    return est.select(
        "tok",
        "n",
        cms.alias("cms_est"),
        (
            (cms >= F.col("n"))
            & ((cms - F.col("n")) * _CMS_W <= 3 * F.col("total"))
        ).alias("within_bound"),
    ).orderBy(F.desc("n"), F.asc("tok"))


# ---------------------------------------------------------------------------
# t24_weighted_sample — deterministic weighted Bernoulli sampling.
#
# Inclusion probability proportional to document length (token
# count), capped at 1: p = min(1, n_tok / 512). The coin is the
# md5-derived 32-bit integer u; keep iff u * 512 < n_tok * 2^32,
# evaluated as u < n_tok * 2^23 in pure int64 (no division, no
# floats, no RNG state) — reproducible across runs, engines, and
# partitionings, the same argument as t9/t10/t16. This is the
# length-weighted subset-selection primitive data-mixing recipes use
# when long documents should be over-represented per-document (e.g.
# token-budget-proportional corpus draws).
# ---------------------------------------------------------------------------

_WS_CAP = 512  # tokens at which inclusion probability saturates


@register(
    "t24_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok,
             CAST(('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS u
      FROM documents
    )
    SELECT doc_id, source, n_tok,
           round(least(CAST(n_tok AS DOUBLE) / {_WS_CAP}, 1.0), 6) AS p
    FROM w
    WHERE u < n_tok * 8388608
    ORDER BY doc_id
    """,
    description="DETERMINISTIC WEIGHTED SAMPLING: keep each document "
    "with probability proportional to its token count (p = min(1, "
    f"n_tok/{_WS_CAP})) decided by pure int64 hash comparison "
    "(u < n_tok * 2^23) — no RNG state, no floats in the decision, "
    "identical across engines/partitionings/backfills (the t9 "
    "argument extended to non-uniform weights). The length-weighted "
    "subset-selection primitive of token-budget-proportional corpus "
    "draws; one scan, zero shuffle, zero UDFs.",
)
def t24_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(spark_tokens(F.col("text"))).cast("long")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (
        d.select("doc_id", "source", n_tok.alias("n_tok"), u.alias("_u"))
        .filter(F.col("_u") < F.col("n_tok") * 8388608)
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.round(
                F.least(F.col("n_tok").cast("double") / _WS_CAP, F.lit(1.0)), 6
            ).alias("p"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# pr4_triangle_count — degree-ordered triangle counting.
#
# Graph: suppliers are nodes; an edge connects two suppliers whose
# co-fulfillment is STRONG — they share at least _TRI_MIN_CO
# distinct orders. The threshold is what keeps the graph sparse as
# the fact table grows: raw one-shot co-occurrence over a bounded
# supplier dimension converges to the COMPLETE graph at scale
# (measured: 454k of 500k possible edges at sf0.1), and a complete
# graph has Θ(n³) triangles no algorithm can enumerate cheaply.
# Thresholded ties are the graph a procurement analysis actually
# wants, and their count is fact-volume-stable.
#
# The scale trick on the thresholded graph is ORIENTATION: orient
# every edge from the lower-(degree, id) endpoint to the higher one,
# then enumerate wedges only at each edge's SOURCE. A hub of degree
# D contributes O(D^2) wedges unoriented but only O(arboricity * D)
# oriented — the standard bound that makes distributed triangle
# counting feasible on power-law graphs (node-iterator++ / Cohen's
# MapReduce algorithm). Three hash joins, all on node/edge keys;
# counts are integers. The edge list (node-dimension-bounded, tiny
# next to the fact table) is localCheckpoint-ed so the three wedge
# legs and the degree pass read the materialized edges instead of
# re-running the fact self-join per leg (same lineage-truncation
# discipline as operators/dedup.connected_components).
# ---------------------------------------------------------------------------

_TRI_MIN_CO = 8  # orders two suppliers must share to form an edge

# Shared CTE prefix: strong-tie co-supplier graph (pairs), degrees,
# and the degree-ordered edge orientation — used by the pr4 (global
# triangle census) and pr5 (local clustering) oracles.
_STRONG_GRAPH_SQL = f"""inst AS (
      SELECT DISTINCT a.l_orderkey, a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), pairs AS (
      SELECT u, v FROM inst GROUP BY u, v HAVING COUNT(*) >= {_TRI_MIN_CO}
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ), oriented AS (
      SELECT CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.u ELSE p.v END AS src,
             CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.v ELSE p.u END AS dst
      FROM pairs p
      JOIN deg du ON du.node = p.u
      JOIN deg dv ON dv.node = p.v
    )"""


def strong_tie_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs, deg, oriented) of the strong-tie co-supplier graph.

    pr4/pr5/pr6 all consume the SAME graph, and re-deriving it costs a
    fact-table self-join each time.  The edge list is
    localCheckpoint-materialized (node-dimension-bounded — tiny next
    to the fact table) so every consumer of the returned frames reads
    materialized edges instead of re-running the lineitem self-join
    per reference; the materialized handle is cached per
    ``catalog.cached_artifact`` token."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        a = li.alias("a")
        b = li.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
            )
            .select(
                "a.l_orderkey",
                F.col("a.l_suppkey").alias("u"),
                F.col("b.l_suppkey").alias("v"),
            )
            .distinct()
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("co"))
            .filter(F.col("co") >= _TRI_MIN_CO)
            .select("u", "v")
            .localCheckpoint()
        )

    return _graph_from_pairs(
        cached_artifact(spark, sf_dir, "strong_tie_pairs", build)
    )


def _graph_from_pairs(
    pairs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    p = pairs.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = p.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    return pairs, deg, oriented


@register(
    "pr4_triangle_count",
    oracle=f"""
    WITH {_STRONG_GRAPH_SQL}, tri AS (
      SELECT COUNT(*) AS n FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles
    """,
    description="TRIANGLE COUNTING over the strong-tie co-supplier "
    "graph (suppliers sharing >= 8 orders — thresholding keeps the "
    "edge set sparse as the fact table grows; raw co-occurrence over "
    "a bounded node dimension converges to the complete graph) with "
    "DEGREE ORDERING: edges are oriented low-(degree,id) → high, so "
    "wedge enumeration at each source is arboricity-bounded instead "
    "of hub-degree-squared — the orientation trick that keeps "
    "distributed triangle counting feasible on power-law graphs. "
    "Pair generation is bounded by order size (≤7 lineitems); the "
    "node-bounded edge list is localCheckpoint-materialized once so "
    "the three wedge legs never re-run the fact self-join. "
    "Complements pr1-pr3: triangles/clustering coefficient are the "
    "local-density counterpart of PageRank's global centrality.",
)
def pr4_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, deg, oriented = strong_tie_graph(spark, sf_dir)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")),
    )
    tri = wedges.join(
        e3,
        (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles")
    )


# ---------------------------------------------------------------------------
# ext_delete_propagate — GDPR / right-to-be-forgotten cascade
# accounting.
#
# A tombstone set (here: a deterministic ~5% hash sample of
# customers, standing in for an uploaded deletion-request table) is
# propagated through the FK graph: orders of those customers,
# lineitems of those orders, events of those users. Each hop is a
# LEFT SEMI join on the parent's surviving key set; the report
# counts purged vs retained per table in ONE pass per table.
#
# Scale shape: the tombstone table is requests-sized (thousands),
# so every semi join broadcasts it; the orders→lineitem hop joins
# on the orderkey — at 100 TB this is the ext_bloom_prune_join
# pattern (build the runtime filter from purged orderkeys, prune
# lineitem scan-side). Counts are conditional integer sums, so each
# table is scanned exactly once.
# ---------------------------------------------------------------------------

_GDPR_SEL = (
    "CAST(('0x' || substr(md5('gdpr|' || CAST(c_custkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 20 = 0"
)


@register(
    "ext_delete_propagate",
    oracle=f"""
    WITH tomb AS (
      SELECT c_custkey FROM customer WHERE {_GDPR_SEL}
    ), o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM tomb)
                           THEN 1 ELSE 0 END) AS BIGINT) AS purged
      FROM orders
    ), l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN l_orderkey IN (
                    SELECT o_orderkey FROM orders
                    WHERE o_custkey IN (SELECT c_custkey FROM tomb))
                           THEN 1 ELSE 0 END) AS BIGINT) AS purged
      FROM lineitem
    ), e AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN user_id IN (SELECT c_custkey FROM tomb)
                           THEN 1 ELSE 0 END) AS BIGINT) AS purged
      FROM events
    ), c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST((SELECT COUNT(*) FROM tomb) AS BIGINT) AS purged
      FROM customer
    )
    SELECT tbl, purged, total - purged AS retained FROM (
      SELECT 'customer' AS tbl, purged, total FROM c
      UNION ALL SELECT 'orders', purged, total FROM o
      UNION ALL SELECT 'lineitem', purged, total FROM l
      UNION ALL SELECT 'events', purged, total FROM e
    ) ORDER BY tbl
    """,
    description="GDPR CASCADE DELETE ACCOUNTING: a tombstone set "
    "(deterministic ~5% hash sample of customers, standing in for a "
    "deletion-request upload) propagates through the FK graph "
    "(customer → orders → lineitem; customer → events); the report "
    "counts purged vs retained rows per table. Tombstones broadcast "
    "(requests-sized); each fact table is scanned ONCE with the "
    "membership test as a conditional sum; at 100 TB the "
    "orders→lineitem hop takes the ext_bloom_prune_join runtime "
    "filter instead of a shuffle join. The compliance primitive "
    "every lakehouse pipeline needs next to its ingest path.",
)
def ext_delete_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    tomb_pred = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("gdpr|"), F.col("c_custkey").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(20),
        )
        == 0
    )
    tomb = cust.filter(tomb_pred).select("c_custkey")

    def _report(df: DataFrame, name: str, flag) -> DataFrame:
        return df.agg(
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("purged"),
            F.sum(F.when(flag, 0).otherwise(1)).cast("long").alias("retained"),
        ).select(F.lit(name).alias("tbl"), "purged", "retained")

    # orders: broadcast the tombstone keys, mark membership
    o_marked = orders.join(
        F.broadcast(tomb.withColumnRenamed("c_custkey", "o_custkey").withColumn(
            "_t", F.lit(1)
        )),
        "o_custkey",
        "left",
    )
    purged_orders = o_marked.filter(F.col("_t").isNotNull()).select("o_orderkey")

    l_marked = li.join(
        purged_orders.withColumnRenamed("o_orderkey", "l_orderkey").withColumn(
            "_t", F.lit(1)
        ),
        "l_orderkey",
        "left",
    )
    e_marked = ev.join(
        F.broadcast(tomb.withColumnRenamed("c_custkey", "user_id").withColumn(
            "_t", F.lit(1)
        )),
        "user_id",
        "left",
    )
    c_marked = cust.withColumn("_t", F.when(tomb_pred, 1))

    return (
        _report(c_marked, "customer", F.col("_t").isNotNull())
        .unionAll(_report(o_marked, "orders", F.col("_t").isNotNull()))
        .unionAll(_report(l_marked, "lineitem", F.col("_t").isNotNull()))
        .unionAll(_report(e_marked, "events", F.col("_t").isNotNull()))
        .orderBy("tbl")
    )


# ---------------------------------------------------------------------------
# t38_temperature_mixture — temperature-based language sampling in its
# PUBLISHED form (exponentiated language sampling, Conneau et al.
# 1911.02116 XLM-R §5.1 / Raffel et al. mT5: q_l ∝ n_l^alpha), the
# data-mixing step multilingual pretraining runs between corpus stats
# and admission. t16 admits at CONFIGURED per-topic rates; here the
# rates are DERIVED from the corpus itself — the smoothing that
# up-samples tail languages and down-samples the head.
#
# alpha = 1/2 deliberately: sqrt is correctly-rounded IEEE in both
# engines, so the smoothed masses are bit-identical cross-engine,
# where pow(x, 0.3) is libm-dependent in its last ulp (the d24
# float-boundary caveat, avoided here at design time). Everything
# after the one sqrt is exact BIGINT math:
#   s_l        = floor(sqrt(n_l) * 1e6)            (micro-quantized mass)
#   q_micro_l  = s_l * 1e6 DIV sum(s)              (mixture weight, micro)
#   rate_micro = min(1e6, q_micro * (N DIV 2) DIV n_l)
#   admit doc  iff u32 * 1e6 < rate_micro * 2^32   (u32 = md5-derived)
# so the admission decision is a pure integer compare — reproducible
# across runs, engines, and partitionings (the t9/t24 argument).
#
# Scale shape: two corpus scans (column-pruned to doc_id+lang) — the
# stats pass is a map-side-combinable count to a |langs|-row table,
# the admission pass broadcasts that table back; no corpus-side
# shuffle beyond the tiny lang count, no floats in the decision.
# ---------------------------------------------------------------------------


@register(
    "t38_temperature_mixture",
    oracle="""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), masses AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s_micro,
             SUM(CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)) OVER () AS s_total,
             SUM(n_docs) OVER () AS n_total
      FROM counts
    ), rates AS (
      SELECT lang, n_docs,
             (s_micro * 1000000) // s_total AS q_micro,
             least(1000000,
                   (((s_micro * 1000000) // s_total) * (n_total // 2)) // n_docs
             ) AS rate_micro
      FROM masses
    ), adm AS (
      SELECT d.lang, COUNT(*) AS n_adm
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE CAST(('0x' || substr(md5('t38|' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) * 1000000 < r.rate_micro * 4294967296
      GROUP BY d.lang
    )
    SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.q_micro AS BIGINT) AS q_micro,
           CAST(r.rate_micro AS BIGINT) AS rate_micro,
           CAST(COALESCE(a.n_adm, 0) AS BIGINT) AS n_sampled
    FROM rates r LEFT JOIN adm a ON a.lang = r.lang
    """,
    description="TEMPERATURE-BASED LANGUAGE MIXTURE, published form "
    "(exponentiated sampling q_l ∝ n_l^α, XLM-R / mT5; α = 1/2 so the "
    "one irrational step is IEEE-exact sqrt, not libm-dependent pow): "
    "per-language corpus counts → micro-quantized smoothed mixture "
    "weights → integer admission rates targeting half the corpus, "
    "capped at 1 — tail languages up-sampled, head down-sampled — "
    "with the per-doc admission a pure int64 hash compare (t9/t24 "
    "discipline: no RNG, no floats in the decision). Two column-pruned "
    "scans: a map-side-combinable |langs|-row count, then admission "
    "against the BROADCAST rate table; zero corpus-side shuffle.",
)
def t38_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_mixture(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    )


def temperature_mixture(d: DataFrame) -> DataFrame:
    """The t38 core over any (doc_id, lang) relation — factored for
    direct testing of the exact integer rate math against a
    pure-Python reference."""
    rates = mixture_rates(d)
    adm = (
        mixture_admission_flags(d, rates)
        .filter(F.col("admitted") == 1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_adm"))
    )
    return rates.join(adm, "lang", "left").select(
        "lang",
        "n_docs",
        "q_micro",
        "rate_micro",
        F.coalesce(F.col("n_adm"), F.lit(0)).cast("long").alias("n_sampled"),
    )


def mixture_rates(d: DataFrame) -> DataFrame:
    """t38's exact integer rate derivation over any (doc_id, lang)
    relation: (lang, n_docs, q_micro, rate_micro).  Factored so the
    streaming ingest (streaming/mixture_ingest.py) can freeze rates
    from the existing corpus and admit arrivals against them."""
    from pyspark.sql import Window

    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    s_micro = F.floor(
        F.sqrt(F.col("n_docs").cast("double")) * 1000000
    ).cast("long")
    w = Window.partitionBy()  # |langs| rows — tiny by construction
    masses = counts.select(
        "lang",
        "n_docs",
        s_micro.alias("s_micro"),
        F.sum(s_micro).over(w).alias("s_total"),
        F.sum("n_docs").over(w).alias("n_total"),
    )
    return masses.select(
        "lang",
        "n_docs",
        F.expr("(s_micro * 1000000) DIV s_total").alias("q_micro"),
        F.least(
            F.lit(1000000).cast("long"),
            F.expr(
                "(((s_micro * 1000000) DIV s_total) * (n_total DIV 2))"
                " DIV n_docs"
            ),
        ).alias("rate_micro"),
    )


def mixture_admission_flags(d: DataFrame, rates: DataFrame) -> DataFrame:
    """Per-doc admission decision against a (lang, rate_micro) table:
    (doc_id, lang, admitted) — the pure int64 hash compare, rates
    BROADCAST.  Docs whose lang has no rate row are rejected
    (admitted = 0): a frozen mixture admits nothing it has never
    seen, and the batch twin covers exactly this path."""
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("t38|"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.select("doc_id", "lang", u32.alias("_u"))
        .join(
            F.broadcast(rates.select("lang", "rate_micro")), "lang", "left"
        )
        .select(
            "doc_id",
            "lang",
            F.when(
                F.col("rate_micro").isNotNull()
                & (F.col("_u") * 1000000 < F.col("rate_micro") * 4294967296),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("admitted"),
        )
    )


# ---------------------------------------------------------------------------
# st18_stream_mixture_admission — t38's streaming twin: temperature-
# mixture admission AT INGEST.  The mixture rates are FROZEN from the
# existing corpus (doc_id % 5 != 0, the st13/st17 snapshot
# convention) and arriving documents (doc_id % 5 == 0) are admitted
# per micro-batch against the frozen rate table — the production form
# of data mixing: the mixture design is a corpus-level decision,
# arrivals must not perturb it batch-by-batch.  Admission depends
# only on the frozen corpus state (arrivals never re-derive rates —
# the st13 contract), so the union of micro-batch outputs equals the
# one-shot batch answer for ANY stream chopping; the parity test in
# tests/test_stream_ingest.py asserts exactly that, and
# streaming/mixture_ingest.py runs the same flags via foreachBatch.
#
# Scale shape: one map-side-combinable |langs|-row count over the
# corpus ONCE per run (cached in the streaming module); per
# micro-batch ONE broadcast join + integer hash compare per row —
# batch-proportional cost, zero corpus re-reads, zero shuffle of
# arrivals beyond the final tiny per-lang aggregate.
# ---------------------------------------------------------------------------


@register(
    "st18_stream_mixture_admission",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang FROM documents WHERE doc_id % 5 <> 0
    ), arr AS (
      SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0
    ), counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM base GROUP BY lang
    ), masses AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s_micro,
             SUM(CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)) OVER () AS s_total,
             SUM(n_docs) OVER () AS n_total
      FROM counts
    ), rates AS (
      SELECT lang, n_docs,
             least(1000000,
                   (((s_micro * 1000000) // s_total) * (n_total // 2)) // n_docs
             ) AS rate_micro
      FROM masses
    ), flags AS (
      SELECT a.doc_id, a.lang,
             CASE WHEN r.rate_micro IS NOT NULL
                       AND CAST(('0x' || substr(md5('t38|' ||
                                 CAST(a.doc_id AS VARCHAR)), 1, 8))
                                AS BIGINT) * 1000000
                           < r.rate_micro * 4294967296
                  THEN 1 ELSE 0 END AS admitted
      FROM arr a LEFT JOIN rates r ON r.lang = a.lang
    ), agg AS (
      SELECT lang, COUNT(*) AS n_arriving, SUM(admitted) AS n_admitted
      FROM flags GROUP BY lang
    )
    SELECT COALESCE(r.lang, g.lang) AS lang,
           CAST(COALESCE(r.n_docs, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(r.rate_micro, 0) AS BIGINT) AS rate_micro,
           CAST(COALESCE(g.n_arriving, 0) AS BIGINT) AS n_arriving,
           CAST(COALESCE(g.n_admitted, 0) AS BIGINT) AS n_admitted
    FROM rates r FULL OUTER JOIN agg g ON g.lang = r.lang
    """,
    description="TEMPERATURE-MIXTURE ADMISSION AT INGEST (t38's "
    "streaming twin, streaming/mixture_ingest.py): rates frozen from "
    "the existing corpus (doc_id % 5 != 0), arriving docs admitted "
    "per micro-batch by the pure int64 hash compare against the "
    "BROADCAST frozen rate table — the mixture design never drifts "
    "batch-to-batch (st13 contract: flags depend only on corpus "
    "state, so stream chopping is irrelevant and union-of-batches == "
    "one-shot batch, parity-tested). Per-lang report: base counts, "
    "frozen rate, arriving and admitted counts (zero-arrival langs "
    "emit rows — the s19 rule). One |langs|-row corpus count once "
    "per run; per batch one broadcast join, no corpus re-read.",
)
def st18_stream_mixture_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = d.filter(F.col("doc_id") % 5 != 0)
    arr = d.filter(F.col("doc_id") % 5 == 0)
    rates = mixture_rates(base)
    agg = (
        mixture_admission_flags(arr, rates)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_arriving"),
            F.sum("admitted").alias("n_admitted"),
        )
    )
    return (
        rates.select("lang", "n_docs", "rate_micro")
        .join(agg, "lang", "full")
        .select(
            "lang",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("rate_micro", F.lit(0)).cast("long").alias("rate_micro"),
            F.coalesce("n_arriving", F.lit(0)).cast("long").alias("n_arriving"),
            F.coalesce("n_admitted", F.lit(0)).cast("long").alias("n_admitted"),
        )
    )
