"""Scalar-function and text-analysis query surface.

Covers the reference's parsing core (F1 credit-note parser, F9 date
normalizer — SURVEY §2.8, the reference's most idiosyncratic logic)
plus the north-star text-analysis operators (token counting, quality
scoring, language ID, fingerprinting) over the documents table.

Oracle notes: DuckDB ``regexp_replace`` needs the ``'g'`` flag to
match Spark's replace-all semantics; DuckDB has no ``initcap`` so the
oracle emulates per-word capitalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dww_data_pipeline_spark.functions import text as tx
from dww_data_pipeline_spark.functions.dates import normalize_release
from dww_data_pipeline_spark.functions.fuzzy import levenshtein_ratio
from dww_data_pipeline_spark.functions.strings import (
    clean_blacklist,
    parse_company,
    parse_role,
    strip_commas,
    zzz_tag,
)
from dww_data_pipeline_spark.plans.registry import register
from dww_data_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# F1 — credit-note parsing chain (reference ParseCompanyFromPersonNotes
# GetWeta.py:370-411). Notes are synthesized from part columns so the
# chain runs over real distributed data; the oracle replicates every
# regex step with RE2 + 'g' flags.
# ---------------------------------------------------------------------------

# mirrors the Spark clean_note chain step for step (and thereby the
# reference GetWeta.py:372-383): symbols+lower, quotes, episode lists,
# " uncredited"/" as …", " ltd"/" inc" anywhere, trim; then the
# splitRole[1] / ' - '[0] / comma-division company extraction
_F1_ORACLE = """
WITH notes AS (
  SELECT p_partkey,
         p_type || ': ' || p_name || ' ltd (uncredited) [3 episodes]' AS note
  FROM part
), cleaned AS (
  SELECT p_partkey,
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              lower(regexp_replace(note, '[!@#*$()\\\\\\[\\]]', '', 'g')),
              '"', '''', 'g'),
            '(\\w+)\\s(\\bepisodes),?(\\s\\w+)?(-\\w+)?', '', 'g'),
          '\\suncredited|\\sas\\s.*$', '', 'g'),
        '(?:\\sltd|\\sinc)\\.|(?:\\sltd|\\sinc)', '', 'g')
    ) AS c
  FROM notes
), sides AS (
  SELECT p_partkey, c,
         trim(split_part(trim(split_part(c, ':', 2)), ' - ', 1)) AS side
  FROM cleaned
)
SELECT p_partkey,
       CASE WHEN contains(c, ':') THEN trim(split_part(c, ':', 1)) ELSE '' END AS role,
       CASE WHEN contains(c, ':')
            THEN CASE WHEN contains(side, ',') THEN trim(split_part(side, ',', 2))
                      ELSE side END
            ELSE '' END AS company
FROM sides
"""


@register(
    "f1_parse_credit_notes",
    oracle=_F1_ORACLE,
    description="F1 credit-note parser: symbol strip → episode-list drop → "
    "uncredited/as-suffix drop → ltd/inc strip → role:company split "
    "(reference GetWeta.py:370-411); pure Column expressions, UDF-free",
)
def f1_parse_credit_notes(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    note = F.concat(
        F.col("p_type"), F.lit(": "), F.col("p_name"), F.lit(" ltd (uncredited) [3 episodes]")
    )
    return p.select(
        "p_partkey",
        parse_role(note).alias("role"),
        parse_company(note).alias("company"),
    )


@register(
    "f9_normalize_release_dates",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS release
    FROM orders
    """,
    description="F9 release-date normalization: '17 July 2007 (UK)'-style "
    "entry → padded YYYY-MM-DD (reference ParseEarliestDate "
    "GetWeta.py:348-368). Differential oracle: the engine parses a "
    "synthesized pretty-printed date; the oracle formats directly.",
)
def f9_normalize_release_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pretty = F.concat(
        F.date_format("o_orderdate", "d"),
        F.lit(" "),
        F.date_format("o_orderdate", "MMMM"),
        F.lit(" "),
        F.date_format("o_orderdate", "yyyy"),
        F.lit(" (UK)"),
    )
    return o.select("o_orderkey", normalize_release(pretty).alias("release"))


@register(
    "f2_fuzzy_ratio",
    oracle="""
    SELECT p_partkey, p_name, p_type,
           CAST(round(100 * (1 - CAST(levenshtein(lower(trim(p_name)), lower(trim(p_type))) AS DOUBLE)
                / greatest(length(lower(trim(p_name))) + length(lower(trim(p_type))), 1)))
             AS INTEGER) AS match_ratio
    FROM part
    """,
    description="F2 fuzzy match ratio 0-100 (reference fuzz.ratio "
    "GetWeta.py:236-237): levenshtein-based Column expression (default "
    "fast path; exact SequenceMatcher parity available via pandas_udf)",
)
def f2_fuzzy_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        "p_type",
        levenshtein_ratio(F.col("p_name"), F.col("p_type")).alias("match_ratio"),
    )


@register(
    "f4_blacklist_clean",
    oracle="""
    SELECT p_partkey,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(lower(p_name), '(?i)small', '', 'g'),
               '(?i)large', '', 'g'),
             '\\s+', ' ', 'g')) AS cleaned
    FROM part
    """,
    description="F4 blacklist-term removal + whitespace renormalize "
    "(reference dwwFront.js:159-176)",
)
def f4_blacklist_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        clean_blacklist(F.col("p_name"), ["small", "large"]).alias("cleaned"),
    )


@register(
    "f_string_suite",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, ',', '', 'g') AS comma_stripped,
           upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS capitalized,
           lpad(CAST(c_nationkey AS VARCHAR), 2, '0') AS padded_nation,
           'zzz_baddata:' || c_mktsegment AS tagged,
           contains(c_name, '1') AS has_one
    FROM customer
    """,
    description="F3 comma-strip + F5 capitalize + F6 zero-pad + F7 sentinel "
    "tag + contains (reference dwwApi.js:33-35, dwwFront.js:16-20, "
    "GetWeta.py:362-366, dwwFront.js:365-369)",
)
def f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        strip_commas(F.col("c_name")).alias("comma_stripped"),
        F.initcap(F.lower(F.col("c_mktsegment"))).alias("capitalized"),
        F.lpad(F.col("c_nationkey").cast("string"), 2, "0").alias("padded_nation"),
        zzz_tag(F.col("c_mktsegment")).alias("tagged"),
        F.col("c_name").contains("1").alias("has_one"),
    )


@register(
    "f_date_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           epoch_ms(l_shipdate) AS ship_ms,
           year(l_shipdate) AS ship_year,
           datediff('day', o_orderdate, l_shipdate) AS ship_delay_days,
           CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) * 86400000 AS delay_ms,
           (year(o_orderdate) <> year(l_shipdate)) AS year_changed
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
    description="F10-F15 date suite: epoch ms, year extract, datediff, "
    "days→ms, year-change predicate (reference dwwApi.js:111-112, "
    "densityCalc.js:75, timeControl.js:227-253)",
)
def f_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return j.select(
        "l_orderkey",
        "l_linenumber",
        (F.unix_timestamp("l_shipdate") * 1000).cast("long").alias("ship_ms"),
        F.year("l_shipdate").alias("ship_year"),
        delay.alias("ship_delay_days"),
        (delay.cast("long") * 86400000).alias("delay_ms"),
        (F.year("o_orderdate") != F.year("l_shipdate")).alias("year_changed"),
    )


@register(
    "f16_haversine",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 7) % 170 - 85 AS DOUBLE) AS lat,
             CAST((s_suppkey * 11) % 360 - 180 AS DOUBLE) AS lon
      FROM supplier
    )
    SELECT s_suppkey,
           CAST(floor(2 * 6371.0 * atan2(
             sqrt(
               sin(radians(-41.3 - lat)/2) * sin(radians(-41.3 - lat)/2)
               + cos(radians(lat)) * cos(radians(-41.3))
                 * sin(radians(174.8 - lon)/2) * sin(radians(174.8 - lon)/2)
             ),
             sqrt(1 - (
               sin(radians(-41.3 - lat)/2) * sin(radians(-41.3 - lat)/2)
               + cos(radians(lat)) * cos(radians(-41.3))
                 * sin(radians(174.8 - lon)/2) * sin(radians(174.8 - lon)/2)
             ))
           )) AS BIGINT) AS dist_km_floor,
           greatest(1, CAST(floor(2 * 6371.0 * atan2(
             sqrt(
               sin(radians(-41.3 - lat)/2) * sin(radians(-41.3 - lat)/2)
               + cos(radians(lat)) * cos(radians(-41.3))
                 * sin(radians(174.8 - lon)/2) * sin(radians(174.8 - lon)/2)
             ),
             sqrt(1 - (
               sin(radians(-41.3 - lat)/2) * sin(radians(-41.3 - lat)/2)
               + cos(radians(lat)) * cos(radians(-41.3))
                 * sin(radians(174.8 - lon)/2) * sin(radians(174.8 - lon)/2)
             ))
           ) / 100) AS BIGINT)) AS trip_days
    FROM pts
    """,
    description="F16/F17 haversine distance + trip-days (reference "
    "locUtils.js:2-22); floored to integer km for cross-engine float "
    "stability",
)
def f16_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.functions.geo import haversine_km, trip_days

    s = load_table(spark, sf_dir, "supplier")
    lat = ((F.col("s_suppkey") * 7) % 170 - 85).cast("double")
    lon = ((F.col("s_suppkey") * 11) % 360 - 180).cast("double")
    dist = haversine_km(lat, lon, F.lit(-41.3), F.lit(174.8))
    return s.select(
        "s_suppkey",
        F.floor(dist).cast("long").alias("dist_km_floor"),
        trip_days(dist).alias("trip_days"),
    )


# ---------------------------------------------------------------------------
# Text analysis (north-star LLM-pipeline operators over documents)
# ---------------------------------------------------------------------------


@register(
    "t1_token_stats",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^\\sA-Za-z0-9]')) AS n_bpe_ish,
           length(text) AS n_chars
    FROM documents
    """,
    description="Text analysis: whitespace token count + BPE-ish regex "
    "token estimate (north-star token counting)",
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_ish"),
        F.length("text").cast("long").alias("n_chars"),
    )


# identical double-op order on both engines → bit-exact quality score
# (shared by t2 and the t17 curriculum deciles)
_QUALITY_SQL = """
      0.5 * least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(
          (CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> list_contains(['the','and','of','to','a'], x))) AS DOUBLE)
           / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1)) * 5.0, 1.0)
      + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1))
"""


@register(
    "t2_quality_scores",
    oracle=f"""
    SELECT doc_id,
      {_QUALITY_SQL} AS quality
    FROM documents
    """,
    description="Text quality scoring: length + stopword + punctuation "
    "composite (north-star quality scoring); identical double-op order on "
    "both sides → bit-exact",
)
def t2_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


def _lang_oracle() -> str:
    lists = {
        lang: "[" + ",".join(f"'{w}'" for w in words) + "]"
        for lang, words in tx.LANG_MARKERS.items()
    }
    scores = {
        lang: (
            f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
            f"x -> list_contains({lst}, x)))"
        )
        for lang, lst in lists.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    # earlier languages win ties (same as the Spark when-chain order)
    case = "CASE "
    for lang in tx.LANG_MARKERS:
        case += f"WHEN {best} > 0 AND {scores[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"SELECT doc_id, {case} AS lang_guess FROM documents"


@register(
    "t3_lang_id",
    oracle=_lang_oracle(),
    description="Heuristic language ID via marker-lexicon vote (north-star "
    "language-ID; deterministic + SQL-expressible)",
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.lang_id(F.col("text")).alias("lang_guess"))


@register(
    "t5_pii_scrub",
    oracle="""
    WITH synth AS (
      SELECT c_custkey,
             'contact ' || c_name || '@example.com or +1 (555) 123-4567 at 10.0.0.1 ok' AS blob
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(
               regexp_replace(blob,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM synth
    """,
    description="PII scrubbing: email/IPv4/phone → typed placeholders "
    "(standard pre-training scrub; north-star text analysis); pure "
    "regexp_replace chain, fixed order",
)
def t5_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    blob = F.concat(
        F.lit("contact "),
        F.col("c_name"),
        F.lit("@example.com or +1 (555) 123-4567 at 10.0.0.1 ok"),
    )
    return c.select("c_custkey", tx.scrub_pii(blob).alias("scrubbed"))


@register(
    "t6_normalize",
    oracle="""
    SELECT doc_id,
           lower(trim(regexp_replace(
             regexp_replace(text, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
             '\\s+', ' ', 'g'))) AS normalized
    FROM documents
    """,
    description="Text normalization: control-char strip, whitespace "
    "collapse, lowercase, trim — the shared front of dedup/fingerprint "
    "pipelines (north-star text analysis)",
)
def t6_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.normalize_text(F.col("text")).alias("normalized"))


_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE CAST(ceil(CAST(len(t) - 16 AS DOUBLE) / 48) AS INTEGER) END AS n_chunks
  FROM toks
), chunks AS (
  SELECT doc_id, n, t,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM sized
)
SELECT doc_id,
       chunk_id,
       array_to_string(list_slice(t, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ') AS chunk_text,
       least(n - chunk_id * 48, 64) AS n_tokens
FROM chunks
"""


@register(
    "t7_chunking",
    oracle=_CHUNK_ORACLE,
    description="Document chunking: token windows of 64 with overlap 16 "
    "(stride 48), tail-preserving — the core LLM-training chunking op; "
    "one tokenization + slices per row, exploded to one row per chunk",
)
def t7_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(tx.chunk_tokens(F.col("text"), 64, 16)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").cast("int").alias("n_tokens"),
    )


@register(
    "t8_repetition_ratio",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN len({{sh}}) > 0
                THEN 1.0 - CAST(len(list_distinct({{sh}})) AS DOUBLE) / len({{sh}})
                ELSE 0.0 END AS repetition
    FROM documents
    """.replace(
        "{sh}",
        "list_transform(list_zip("
        "list_slice(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''), 1, "
        "greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) - 2, 0)), "
        "list_slice(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''), 2, "
        "greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) - 1, 0)), "
        "list_slice(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''), 3, "
        "greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')), 0))"
        "), p -> p[1] || ' ' || p[2] || ' ' || p[3])",
    ),
    description="Repetition ratio: 1 − distinct/total 3-word shingles — "
    "the within-document duplication signal quality filters use (high "
    "ratio ⇒ boilerplate/spam); pure expression over one shingling",
)
def t8_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = word_shingles(F.col("text"), k=3)
    n = F.size(sh)
    rep = F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / n
    ).otherwise(F.lit(0.0))
    return d.select("doc_id", rep.alias("repetition"))


@register(
    "t9_hash_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5('sample-seed|' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
    """,
    description="Deterministic hash sampling (~25%): keep rows whose "
    "seeded md5 prefix falls under the rate threshold — reproducible "
    "across runs/engines/partitionings, unlike RNG-based sample() whose "
    "result depends on partition layout; the training-data idiom for "
    "stable subset selection",
)
def t9_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("sample-seed|"), F.col("doc_id").cast("string")))
    return d.filter(F.substring(h, 1, 2) < "40").select("doc_id", "lang")


@register(
    "t4_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
    """,
    description="Document fingerprinting: md5 of whitespace/case-normalized "
    "text (north-star fingerprinting; md5 is engine-portable)",
)
def t4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


@register(
    "t10_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5('strat-seed|' || CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '80' ELSE '20' END
    """,
    description="Stratified deterministic sampling: per-stratum rates "
    "(~50% of 'en', ~12.5% of the rest) via the seeded-md5-prefix "
    "threshold — rebalancing a skewed corpus reproducibly, independent "
    "of partition layout (the training-data mixture idiom)",
)
def t10_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("strat-seed|"), F.col("doc_id").cast("string")))
    thr = F.when(F.col("lang") == "en", F.lit("80")).otherwise(F.lit("20"))
    return d.filter(F.substring(h, 1, 2) < thr).select("doc_id", "lang")


_WIN_K = 4  # k-gram width for winnowing
_WIN_W = 4  # window width (guarantee: any match >= k+w-1 tokens is caught)


@register(
    "t12_winnowing_fingerprints",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             list_transform({{}}, g -> substr(md5(g), 1, 8)) AS hs
      FROM documents
    )
    SELECT doc_id,
           array_to_string(
             list_sort(list_distinct(
               list_transform(
                 generate_series(1, len(hs) - {_WIN_W - 1}),
                 i -> list_aggregate(list_slice(hs, i, i + {_WIN_W - 1}), 'min')
               )
             )), ',') AS fps,
           len(list_distinct(
             list_transform(
               generate_series(1, len(hs) - {_WIN_W - 1}),
               i -> list_aggregate(list_slice(hs, i, i + {_WIN_W - 1}), 'min')
             )
           )) AS n_fps
    FROM grams
    WHERE len(hs) >= {_WIN_W}
    """.format(
        "list_transform(generate_series(1, len("
        + "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"
        + f") - {_WIN_K - 1}), i -> "
        + " || ' ' || ".join(
            "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            f"x -> x <> '')[i+{j}]" if j else
            "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            "x -> x <> '')[i]"
            for j in range(_WIN_K)
        )
        + ")"
    ),
    description="ROLLING-HASH document fingerprinting (winnowing, "
    "Schleimer et al. / MOSS): k-gram hashes -> min hash per sliding "
    "window -> distinct selected fingerprints per doc. Position-robust "
    "partial-overlap detection (any shared run of >= k+w-1 tokens "
    "shares a fingerprint) — the fingerprint family t4's whole-doc "
    "hash cannot provide; pure Column expressions, no shuffle "
    "(north-star document fingerprinting)",
)
def t12_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.text_exprs import spark_kgrams

    d = load_table(spark, sf_dir, "documents")
    grams = spark_kgrams(F.col("text"), _WIN_K)
    hashes = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 8))
    # generator barrier: bind the hash array once; every window slice
    # then references the bound attribute instead of re-hashing
    bound = d.select("doc_id", F.explode(F.array(hashes)).alias("hs")).filter(
        F.size("hs") >= _WIN_W
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.size("hs") - (_WIN_W - 1)),
        lambda i: F.array_min(F.slice(F.col("hs"), i, _WIN_W)),
    )
    fps = F.array_sort(F.array_distinct(wins))
    return bound.select(
        "doc_id",
        F.concat_ws(",", fps).alias("fps"),
        F.size(fps).alias("n_fps"),
    )


_T13_QUALITY_SQL = """
      0.5 * least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(
          (CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> list_contains(['the','and','of','to','a'], x))) AS DOUBLE)
           / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1)) * 5.0, 1.0)
      + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1))
"""

_T13_TOKS = "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"


@register(
    "t13_corpus_filter_decision",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_T13_TOKS}) AS tok FROM documents
    ), model AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ), rarity AS (
      SELECT t.doc_id,
             CAST(SUM(m.n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_freq
      FROM toks t JOIN model m ON t.tok = m.tok
      GROUP BY t.doc_id
    ), signals AS (
      SELECT d.doc_id,
             len({_T13_TOKS}) AS n_tok,
             len(list_distinct({_T13_TOKS})) AS n_distinct,
             ({_T13_QUALITY_SQL}) AS quality,
             r.mean_freq
      FROM documents d LEFT JOIN rarity r ON r.doc_id = d.doc_id
    )
    SELECT doc_id,
           COALESCE(array_to_string(list_sort(
             list_filter([
               CASE WHEN n_tok < 10 THEN 'short' ELSE '' END,
               CASE WHEN quality < 0.5 THEN 'low_quality' ELSE '' END,
               CASE WHEN n_distinct * 10 < n_tok * 3 THEN 'repetitive' ELSE '' END,
               CASE WHEN mean_freq IS NOT NULL AND mean_freq > 3000.0
                    THEN 'generic' ELSE '' END
             ], x -> x <> '')), ','), '') AS reasons,
           (n_tok >= 10 AND quality >= 0.5 AND n_distinct * 10 >= n_tok * 3
            AND (mean_freq IS NULL OR mean_freq <= 3000.0)) AS keep
    FROM signals
    """,
    description="The corpus FILTER GATE a training pipeline ships: one "
    "decision per document composed from the quality composite (t2), "
    "integer-exact distinct-token repetition, length, and the "
    "corpus-model mean-frequency signal (t11's two-pass shape — too "
    "GENERIC text is as unwanted as too rare). Emits keep + the sorted "
    "reason list so filtering is auditable (north-star quality "
    "filtering)",
)
def t13_corpus_filter_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    toks_all = tx.tokens(text)
    n_tok = F.size(toks_all)
    n_distinct = F.size(F.array_distinct(toks_all))

    n_tok_q = tx.token_count(text).cast("double")
    toks_l = tx.tokens(F.lower(text))
    sw_hits = F.size(
        F.filter(toks_l, lambda t: t.isin("the", "and", "of", "to", "a"))
    ).cast("double")
    sw_ratio = sw_hits / F.greatest(F.size(toks_l), F.lit(1))
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    quality = (
        F.lit(0.5) * F.least(n_tok_q / 100.0, F.lit(1.0))
        + F.lit(0.3) * F.least(sw_ratio * 5.0, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - punct / F.greatest(n, F.lit(1)))
    )

    toks = d.select("doc_id", F.explode(tx.tokens(text)).alias("tok"))
    model = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    rarity = (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(
            (F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mean_freq"
            )
        )
    )

    signals = d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_distinct.alias("n_distinct"),
        quality.alias("quality"),
    ).join(rarity, "doc_id", "left")

    reasons = F.array_sort(
        F.filter(
            F.array(
                F.when(F.col("n_tok") < 10, F.lit("short")).otherwise(F.lit("")),
                F.when(F.col("quality") < 0.5, F.lit("low_quality")).otherwise(
                    F.lit("")
                ),
                F.when(
                    F.col("n_distinct") * 10 < F.col("n_tok") * 3,
                    F.lit("repetitive"),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("mean_freq").isNotNull() & (F.col("mean_freq") > 3000.0),
                    F.lit("generic"),
                ).otherwise(F.lit("")),
            ),
            lambda x: x != "",
        )
    )
    keep = (
        (F.col("n_tok") >= 10)
        & (F.col("quality") >= 0.5)
        & (F.col("n_distinct") * 10 >= F.col("n_tok") * 3)
        & (F.col("mean_freq").isNull() | (F.col("mean_freq") <= 3000.0))
    )
    return signals.select(
        "doc_id", F.concat_ws(",", reasons).alias("reasons"), keep.alias("keep")
    )


_PACK_CAP = 512  # tokens per packed training sequence (bin)
_PACK_BUCKET = 50  # doc_ids per phase-1 range bucket


@register(
    "t14_sequence_packing",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, chunk_id, n_tokens
      FROM ({_CHUNK_ORACLE.replace(';', '')})
    ), cum AS (
      SELECT doc_id, chunk_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS start_tok
      FROM chunks
    )
    SELECT doc_id, chunk_id, n_tokens, start_tok,
           CAST(start_tok // {_PACK_CAP} AS BIGINT) AS bin_id
    FROM cum
    """,
    description="SEQUENCE PACKING: assign every chunk its global token "
    "offset and fixed-capacity training-bin id (GPT-style concatenate-"
    "and-cut at {cap} tokens). The global prefix sum is computed the "
    "SCALE-CORRECT way — phase 1: per-range-bucket running sums "
    "(partitioned window); phase 2: bucket totals cumulated on the "
    "tiny bucket table and broadcast back — NO single-partition window "
    "ever materializes the corpus on one task (north-star training-"
    "batch assembly)".format(cap=_PACK_CAP),
)
def t14_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    chunks = t7_chunking(spark, sf_dir).select("doc_id", "chunk_id", "n_tokens")
    bucketed = chunks.withColumn(
        "_bkt", (F.col("doc_id") / _PACK_BUCKET).cast("long")
    )
    # phase 1: running sum WITHIN each range bucket (parallel windows)
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.withColumn(
        "_local_cum", F.sum("n_tokens").over(w_in).cast("long")
    )
    # phase 2: bucket totals -> exclusive cumulative offsets. The
    # bucket table is corpus_size/_PACK_BUCKET rows — small by
    # construction — so the carry is ONE explicit single-task pandas
    # cumsum (coalesce(1) + mapInPandas) rather than a partition-less
    # WindowExec: same bounded single-partition shape, but stated in
    # the plan instead of warned about at runtime, and it stays a
    # narrow no-shuffle stage. (At extreme bucket counts, recurse the
    # two-phase split once more before this step.)
    from pyspark.sql import types as T

    totals = local.groupBy("_bkt").agg(F.sum("n_tokens").alias("_tot"))

    def _carry(batches):
        import pandas as pd

        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            yield pd.DataFrame({"_bkt": [], "_offset": []})
            return
        pdf = pdf.sort_values("_bkt")
        pdf["_offset"] = pdf["_tot"].cumsum() - pdf["_tot"]
        yield pdf[["_bkt", "_offset"]]

    offsets = totals.coalesce(1).mapInPandas(
        _carry,
        schema=T.StructType(
            [
                T.StructField("_bkt", T.LongType(), True),
                T.StructField("_offset", T.LongType(), True),
            ]
        ),
    )
    packed = local.join(F.broadcast(offsets), "_bkt").select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        (F.col("_offset") + F.col("_local_cum") - F.col("n_tokens")).alias(
            "start_tok"
        ),
    )
    return packed.withColumn(
        "bin_id", F.floor(F.col("start_tok") / _PACK_CAP).cast("long")
    )


# ---------------------------------------------------------------------------
# t15 — taxonomy / topic bucketing (north-star: corpus domain mixing).
# A keyword taxonomy assigns every document its dominant topic; the
# per-topic histogram is what a pretraining data-mixing stage consumes.
# Whole-token matching (split + membership), not substring matching —
# so 'a' never fires inside 'table'. Ties break by taxonomy priority
# order, identical CASE chains on both engines; all scores are
# integers, so cross-engine equality is exact by construction.
# ---------------------------------------------------------------------------

_TAXONOMY: list[tuple[str, list[str]]] = [
    ("execution", ["join", "sort", "merge", "hash", "agg", "group", "filter"]),
    ("storage", ["scan", "table", "row", "column", "part"]),
    ("streaming", ["stream", "window", "batch"]),
    ("performance", ["fast", "slow", "big", "small"]),
]


def _topic_filter(kws: list[str]):
    # single-arg closure factory: default-arg lambdas would receive the
    # element INDEX as a second argument (see F.transform/F.filter trap)
    vals = list(kws)
    return lambda t: t.isin(vals)


def _taxonomy_scored(d: DataFrame, carry: tuple[str, ...]) -> DataFrame:
    """Per-topic whole-token keyword scores s0..sN as pure Column
    expressions (shared by t15/t16)."""
    toks = F.split(F.col("text"), " ")
    return d.select(
        *carry,
        *[
            F.size(F.filter(toks, _topic_filter(kws))).alias(f"s{i}")
            for i, (_, kws) in enumerate(_TAXONOMY)
        ],
    )


def _taxonomy_label():
    """(label, max_score) Columns over s0..sN: priority-ordered argmax
    with an 'other' floor — the CASE chain mirrors _taxonomy_label_sql
    clause for clause."""
    s = [F.col(f"s{i}") for i in range(len(_TAXONOMY))]
    mx = F.greatest(*s)
    label = F.when(mx == F.lit(0), F.lit("other"))
    for i, (name, _) in enumerate(_TAXONOMY):
        label = label.when(s[i] == mx, F.lit(name))
    return label, mx


def _taxonomy_score_sql() -> str:
    return ", ".join(
        "len(list_filter(string_split(text, ' '), t -> list_contains(["
        + ", ".join(f"'{kw}'" for kw in kws)
        + f"], t))) AS s{i}"
        for i, (_, kws) in enumerate(_TAXONOMY)
    )


def _taxonomy_max_sql() -> str:
    return "greatest(" + ", ".join(f"s{i}" for i in range(len(_TAXONOMY))) + ")"


def _taxonomy_label_sql() -> str:
    mx = _taxonomy_max_sql()
    return "CASE WHEN " + mx + " = 0 THEN 'other' " + " ".join(
        f"WHEN s{i} = {mx} THEN '{name}'" for i, (name, _) in enumerate(_TAXONOMY)
    ) + " END"


def _t15_scored_sql() -> str:
    score_cols = _taxonomy_score_sql()
    mx = _taxonomy_max_sql()
    label = _taxonomy_label_sql()
    return f"""
    WITH scored AS (
      SELECT n_chars, {score_cols} FROM documents
    )
    SELECT {label} AS topic,
           COUNT(*) AS n_docs,
           CAST(SUM({mx}) AS BIGINT) AS total_hits,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM scored
    GROUP BY 1
    """


@register(
    "t15_topic_buckets",
    oracle=_t15_scored_sql(),
    description="TAXONOMY BUCKETING: classify every document into its "
    "dominant topic by whole-token keyword counts (priority-ordered "
    "tie-break, 'other' when nothing fires) and emit the per-topic "
    "doc/hit/char histogram a data-mixing stage consumes. Pure Column "
    "expressions — the per-topic scores stay inside whole-stage "
    "codegen with NO shuffle until the final tiny topic aggregate "
    "(scores re-scan the token array per topic rather than exploding "
    "it: linear work beats shuffling every token at corpus scale).",
)
def t15_topic_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = _taxonomy_scored(d, carry=("n_chars",))
    label, mx = _taxonomy_label()
    return (
        scored.select(label.alias("topic"), mx.alias("_hits"), "n_chars")
        .groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_hits").cast("long").alias("total_hits"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# t16 — static mixture sampling (north-star: data mixing). Given the
# taxonomy topics and a per-topic sampling rate, admit documents by a
# DETERMINISTIC content-independent coin: the top 32 bits of
# md5(doc_id) as a uniform in [0,1). n/2^32 is exact in a double and
# both engines derive the same integer from the same hex, so the
# admitted set is bit-identical — reproducible corpus builds, no RNG
# state, re-runs and backfills pick the same documents.
# ---------------------------------------------------------------------------

_MIX_RATES: list[tuple[str, float]] = [
    ("execution", 1.0),
    ("storage", 0.5),
    ("streaming", 0.25),
    ("performance", 0.1),
    ("other", 0.05),
]


@register(
    "t16_mixture_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {_taxonomy_score_sql()} FROM documents
    ), labeled AS (
      SELECT doc_id, {_taxonomy_label_sql()} AS topic FROM scored
    )
    SELECT doc_id, topic
    FROM labeled
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0
          < CASE topic {" ".join(f"WHEN '{n}' THEN {r}" for n, r in _MIX_RATES)} END
    """,
    description="DATA MIXING: admit documents per-topic at configured "
    "rates using a deterministic md5-derived uniform (top 32 hash bits "
    "/ 2^32 — exact in a double on both engines), so corpus builds are "
    "reproducible with no RNG state and identical across re-runs, "
    "backfills, and engines. Composition of the t15 taxonomy with "
    "hash-gated admission — one scan, zero shuffle, zero UDFs "
    "(the DoReMi-style static mixture step).",
)
def t16_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = _taxonomy_scored(d, carry=("doc_id",))
    label, _ = _taxonomy_label()
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    rate = F.lit(None).cast("double")
    for name, r in _MIX_RATES:
        rate = F.when(F.col("topic") == name, F.lit(float(r))).otherwise(rate)
    return (
        scored.select("doc_id", label.alias("topic"))
        .withColumn("_u", u)
        .filter(F.col("_u") < rate)
        .select("doc_id", "topic")
    )


@register(
    "t17_curriculum_deciles",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents
    )
    SELECT doc_id, source, quality,
           CAST(ntile(10) OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS BIGINT) AS decile
    FROM q
    """,
    description="CURRICULUM BUCKETING: per-source quality deciles "
    "(deterministic tie-break on doc_id) — the bucket assignment a "
    "quality-curriculum / annealing schedule consumes. Partitioned "
    "window, so sources sort in parallel; for very low source "
    "cardinality at corpus scale, swap in the t14 two-phase pattern "
    "(per-range local ranks + tiny offset table) to avoid fat window "
    "partitions.",
)
def t17_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return (
        d.select("doc_id", "source", tx.quality_score(F.col("text")).alias("quality"))
        .withColumn("decile", F.ntile(10).over(w).cast("long"))
    )


_NOVELTY_K = 8  # 8-token grams: long enough that sharing implies copying


def _novelty_oracle() -> str:
    from dww_data_pipeline_spark.plans.text_exprs import sql_kgrams

    return f"""
    WITH g AS (
      SELECT DISTINCT doc_id, md5(g) AS g
      FROM (SELECT doc_id, unnest({sql_kgrams(_NOVELTY_K)}) AS g
            FROM documents)
    ), df AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY g
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           round(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novel_share,
           round(CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS boiler_share
    FROM g JOIN df ON g.g = df.g
    GROUP BY g.doc_id
    """


@register(
    "t22_ngram_novelty",
    oracle=_novelty_oracle(),
    description="N-GRAM NOVELTY PROFILE: per-document share of 8-token "
    "grams unique to that document (novel_share) vs shared by 3+ docs "
    "(boiler_share) — the intra-corpus boilerplate-pressure metric "
    "curation uses to down-weight template-heavy sources (complement "
    "of d10's eval-set contamination, which looks OUTSIDE the "
    "corpus). Scale shape: distinct (doc, md5-gram) pairs shuffle "
    "once (16-byte fingerprints, never text), the document-frequency "
    "table is gram-cardinality bounded, and indicator sums are "
    "integers with one final double division per doc.",
)
def t22_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.plans.text_exprs import exploded_kgrams

    d = load_table(spark, sf_dir, "documents")
    grams = (
        exploded_kgrams(d, "text", _NOVELTY_K, carry=("doc_id",))
        .select("doc_id", F.md5("gram").alias("g"))
        .distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novel_share"),
            F.round(
                F.sum(F.when(F.col("df") >= 3, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("boiler_share"),
        )
    )


@register(
    "t21_corpus_shard",
    oracle="""
    WITH sharded AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 16 AS shard,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT)
               AS shard_pos
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(MIN(shard_pos) AS BIGINT) AS first_pos,
           CAST(SUM(shard_pos) AS BIGINT) AS content_sig
    FROM sharded
    GROUP BY shard
    """,
    description="TRAINING-SHARD MANIFEST: per-shard stats of the "
    "deterministic corpus sharding (sources/shards.py) — membership "
    "is md5-top-32-bits mod N, within-shard order the second 32-bit "
    "chunk, so shard layout is a pure function of content keys "
    "(reproducible across re-runs, clusters, and engines; no RNG "
    "state). content_sig (an order-independent BIGINT sum of the "
    "order keys) is the witness a backfill compares to prove shards "
    "are byte-stable before swapping a corpus version in. One scan + "
    "one 16-group agg; the actual write shuffles each row once to "
    "its shard writer (write_training_shards, round-trip tested).",
)
def t21_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dww_data_pipeline_spark.sources.shards import with_shards

    d = load_table(spark, sf_dir, "documents")
    return (
        with_shards(d.select("doc_id", "n_chars"), "doc_id", n_shards=16)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("shard_pos").alias("first_pos"),
            F.sum("shard_pos").alias("content_sig"),
        )
    )


# ---------------------------------------------------------------------------
# t37 — the Gopher repetition rule set in its PUBLISHED form (Rae et
# al. 2112.11446 "Scaling Language Models: ... Gopher", Table A1).
# t8 measures one within-document repetition signal (distinct/total
# shingles); the published MassiveText filter ships NINE: the
# character fraction of the single most frequent {2,3,4}-gram and the
# character fraction COVERED by any duplicated {5..10}-gram, each
# with its own threshold.  A document is kept only when every signal
# is at or under its published bound.
#
# Exact cross-engine contract (both sides implement THIS, stated
# here because the paper leaves tie-breaks and char accounting
# unspecified; public reimplementations differ in the same places):
#   * tokens = whitespace split; T = sum of token char lengths
#     (inter-token spaces excluded from all numerators and T);
#   * top n-gram = first by (count DESC, gram char length DESC,
#     gram ASC); top_frac = count * gram_char_len / T;
#   * dup coverage = token positions covered by ANY occurrence of an
#     n-gram whose within-doc count >= 2, counted once per position;
#     dup_frac = covered token chars / T;
#   * fractions round to 6 dp (integer-derived doubles — identical
#     in both engines); docs shorter than n tokens score 0.0.
#
# Scale shape: ZERO shuffle — one Arrow mapInPandas stage computes
# all nine signals per document (vectorized Python Counter passes,
# ~0.1 ms/doc; the Column-expression form was measured at ~87 ms/doc
# because higher-order functions evaluate interpreted — see the
# gopher_repetition docstring), so the operator is embarrassingly
# parallel and pipelines into the scan.  Per-doc cost is O(tokens),
# bounded by document length — no corpus-side state, no joins, the
# ideal 100 TB quality-filter shape.  The oracle computes the same
# nine signals relationally (per-doc explode + group + window).
# ---------------------------------------------------------------------------

_T37_TOP = {2: 0.20, 3: 0.18, 4: 0.16}
_T37_DUP = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

_T37_SQL_TOKS = (
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
)


def _t37_oracle() -> str:
    grams = []
    tops = []
    covs = []
    for n in sorted(_T37_TOP) + sorted(_T37_DUP):
        grams.append(f"""
g{n} AS (
  SELECT b.doc_id, s,
         array_to_string(list_slice(b.toks, s, s + {n - 1}), ' ') AS gram
  FROM base b, unnest(generate_series(1, len(b.toks) - {n - 1})) AS u(s)
  WHERE len(b.toks) >= {n}
), c{n} AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g{n} GROUP BY doc_id, gram
)""")
    for n in sorted(_T37_TOP):
        tops.append(f"""
top{n} AS (
  SELECT doc_id, cnt * (length(gram) - {n - 1}) AS chars FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY cnt DESC, length(gram) - {n - 1} DESC, gram) AS rn
    FROM c{n}
  ) WHERE rn = 1
)""")
    for n in sorted(_T37_DUP):
        covs.append(f"""
cov{n} AS (
  SELECT doc_id, SUM(length(toks[p])) AS chars FROM (
    SELECT DISTINCT g.doc_id, u.p
    FROM g{n} g
    JOIN c{n} c ON g.doc_id = c.doc_id AND g.gram = c.gram AND c.cnt >= 2,
    unnest(generate_series(g.s, g.s + {n - 1})) AS u(p)
  ) v JOIN base USING (doc_id)
  GROUP BY doc_id
)""")
    # Engine contract: empty / whitespace-only / NULL text scores 0.0
    # on every frac (and keep = 0).  DuckDB's list_sum over an empty
    # list is NULL, so t is COALESCEd to 0 in base and every frac is
    # guarded with CASE WHEN b.t > 0 — without the guard a zero-token
    # doc would emit NULL fracs and hash-diverge from the engine's 0.0.
    def _frac(src: str, n: int) -> str:
        return (
            f"CASE WHEN b.t > 0 THEN "
            f"round(CAST(COALESCE({src}{n}.chars, 0) AS DOUBLE) / b.t, 6) "
            f"ELSE 0.0 END"
        )

    top_cols = ",\n       ".join(
        f"{_frac('top', n)} AS top_{n}gram_frac" for n in sorted(_T37_TOP)
    )
    cov_cols = ",\n       ".join(
        f"{_frac('cov', n)} AS dup_{n}gram_frac" for n in sorted(_T37_DUP)
    )
    keep = " AND ".join(
        [f"{_frac('top', n)} <= {thr}" for n, thr in sorted(_T37_TOP.items())]
        + [f"{_frac('cov', n)} <= {thr}" for n, thr in sorted(_T37_DUP.items())]
    )
    joins = "\n".join(
        f"LEFT JOIN top{n} ON top{n}.doc_id = b.doc_id"
        for n in sorted(_T37_TOP)
    ) + "\n" + "\n".join(
        f"LEFT JOIN cov{n} ON cov{n}.doc_id = b.doc_id"
        for n in sorted(_T37_DUP)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_T37_SQL_TOKS} AS toks,
         COALESCE(list_sum(list_transform({_T37_SQL_TOKS},
                                          x -> length(x))), 0) AS t
  FROM documents
),{",".join(grams)},{",".join(tops)},{",".join(covs)}
SELECT b.doc_id,
       {top_cols},
       {cov_cols},
       CAST(CASE WHEN b.t > 0 AND {keep} THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM base b
{joins}
"""


def gopher_repetition(d: DataFrame) -> DataFrame:
    """The t37 core over any (doc_id, text) relation — factored for
    property testing against a pure-Python reference (the synthetic
    corpus has no within-doc >=5-gram repeats, so the dup_* nonzero
    path is pinned by tests/test_properties.py, not the oracle).

    ONE Arrow mapInPandas stage, deliberately: this was first built as
    pure Column expressions (explode-barrier staged arrays + sorted
    aggregate folds), but higher-order functions evaluate INTERPRETED
    — outside whole-stage codegen — and nine per-gram signals cost
    ~87 ms cpu per document that way (measured at sf0.1: 13-18 s wall
    on 32 threads; gram construction alone 5 s).  The same work is
    O(tokens) dict/Counter passes in vectorized Python (~0.1 ms/doc),
    so the m-family rule applies: when Column expressions leave
    codegen anyway, one Arrow-batched Python stage is the fast path.
    Zero shuffle either way — the operator stays a per-row scan.

    Float parity: fractions are integer-derived double divisions
    (bit-identical across engines); rounding is decimal-string
    HALF_UP (Decimal(repr(x)), exactly Spark's BigDecimal.valueOf
    rounding), proven against the DuckDB oracle at 3 SFs.
    """
    import pandas as pd

    fields = (
        ["doc_id bigint"]
        + [f"top_{n}gram_frac double" for n in sorted(_T37_TOP)]
        + [f"dup_{n}gram_frac double" for n in sorted(_T37_DUP)]
        + ["keep bigint"]
    )
    schema = ", ".join(fields)
    top_items = sorted(_T37_TOP.items())
    dup_items = sorted(_T37_DUP.items())

    def _batches(it):
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        micro = Decimal("0.000001")

        def r6(x: float) -> float:
            return float(Decimal(repr(x)).quantize(micro, ROUND_HALF_UP))

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()
                m = len(toks)
                t = sum(map(len, toks))
                row = [int(doc_id)]
                keep = t > 0
                for n, thr in top_items:
                    grams = [
                        " ".join(toks[i : i + n]) for i in range(m - n + 1)
                    ]
                    if grams and t:
                        c = Counter(grams)
                        cnt, gram = min(
                            ((-v, -(len(k) - (n - 1)), k) for k, v in c.items())
                        )[::2]
                        frac = r6(-cnt * (len(gram) - (n - 1)) / t)
                    else:
                        frac = 0.0
                    row.append(frac)
                    keep = keep and frac <= thr
                for n, thr in dup_items:
                    grams = [
                        " ".join(toks[i : i + n]) for i in range(m - n + 1)
                    ]
                    if grams and t:
                        c = Counter(grams)
                        covered = bytearray(m)
                        for i, g in enumerate(grams):
                            if c[g] >= 2:
                                covered[i : i + n] = b"\x01" * n
                        chars = sum(
                            len(tok)
                            for tok, hit in zip(toks, covered)
                            if hit
                        )
                        frac = r6(chars / t)
                    else:
                        frac = 0.0
                    row.append(frac)
                    keep = keep and frac <= thr
                row.append(1 if keep else 0)
                rows.append(row)
            cols = (
                ["doc_id"]
                + [f"top_{n}gram_frac" for n, _ in top_items]
                + [f"dup_{n}gram_frac" for n, _ in dup_items]
                + ["keep"]
            )
            yield pd.DataFrame(rows, columns=cols)

    return d.select("doc_id", "text").mapInPandas(_batches, schema)


@register(
    "t37_gopher_repetition",
    oracle=_t37_oracle(),
    description="GOPHER REPETITION RULE SET, published form (Rae et al. "
    "2112.11446 Table A1 / MassiveText): per document the char fraction "
    "of the single most frequent {2,3,4}-gram and the char fraction "
    "COVERED by duplicated {5..10}-grams, each against its published "
    "threshold (0.20/0.18/0.16; 0.15 down to 0.10), keep = all nine "
    "pass. Exact contract in the module header (tie-breaks and char "
    "accounting stated; fractions are integer-derived doubles rounded "
    "to 6dp). Scale shape: ZERO shuffle — one Arrow mapInPandas stage "
    "computes all nine signals (measured: interpreted Column HOFs cost "
    "~87 ms/doc, the Arrow stage ~0.1 ms/doc), cost bounded by doc "
    "length, pipelines into the scan; the corpus never pairs or "
    "aggregates (north-star quality scoring; t8 is the one-signal "
    "ancestor)",
)
def t37_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_repetition(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t39 — C4 LINE-LEVEL QUALITY RULES, published form (Raffel et al.
# 1910.10683 §2.2 — the rule set that produced C4 from Common Crawl;
# t37's Gopher rules are its document-level sibling).  Exact contract:
#
#   * lines = text split on \n (the synthetic corpus is single-line,
#     so the multi-line paths are pinned by pytest on planted docs —
#     the t37 dup-signal precedent);
#   * a line is KEPT iff (C4 verbatim) it has >= 5 whitespace words,
#     ends in terminal punctuation (. ! ? or a closing quote " ')
#     after right-trim, and does not contain the word "javascript"
#     (case-insensitive);
#   * page flags (C4 verbatim): contains "lorem ipsum"
#     (case-insensitive); contains a curly bracket "{";
#   * keep = n_kept_lines >= 3 AND NOT lorem AND NOT curly — C4's
#     "fewer than 3 sentences" gate with its own retained-line
#     approximation of sentences (the paper filters lines, then
#     requires 3 sentences; retained lines ARE its sentence proxy);
#   * ratios are integer-derived doubles rounded to 6 dp; empty /
#     whitespace-only / NULL text scores 0 everywhere and keep=0
#     (the t37 empty-doc contract).
#
# Scale shape: ZERO shuffle — every signal is a per-row Column
# expression over the line array (a handful of per-LINE predicates,
# NOT t37's per-gram quadratic work, so interpreted-HOF overhead is
# O(lines) and measured-negligible; the t37 Arrow rewrite rule does
# not trigger).  Pipelines into the scan; the corpus never pairs or
# aggregates.  The oracle computes the same signals with DuckDB list
# lambdas over the same split.
# ---------------------------------------------------------------------------

_T39_TERMINALS = "('.', '!', '?', '\"', '''')"


def _t39_oracle() -> str:
    words = "list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> w <> '')"
    kept = (
        f"list_filter(lines, l -> len({words}) >= 5"
        f" AND right(rtrim(l), 1) IN {_T39_TERMINALS}"
        " AND NOT contains(lower(l), 'javascript'))"
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         COALESCE(string_split(text, chr(10)), []) AS lines,
         contains(lower(COALESCE(text, '')), 'lorem ipsum') AS has_lorem,
         contains(COALESCE(text, ''), '{{') AS has_curly
  FROM documents
), sig AS (
  SELECT doc_id, has_lorem, has_curly,
         CAST(len(list_filter(lines, l -> trim(l) <> '')) AS BIGINT)
           AS n_lines,
         CAST(COALESCE(list_sum(list_transform(lines,
             l -> len({words}))), 0) AS BIGINT) AS n_words,
         CAST(len({kept}) AS BIGINT) AS n_kept_lines,
         CAST(COALESCE(list_sum(list_transform({kept},
             l -> len({words}))), 0) AS BIGINT) AS n_kept_words
  FROM base
)
SELECT doc_id, n_lines, n_words, n_kept_lines, n_kept_words,
       CASE WHEN n_lines > 0
            THEN round(CAST(n_kept_lines AS DOUBLE) / n_lines, 6)
            ELSE 0.0 END AS kept_line_frac,
       CASE WHEN n_words > 0
            THEN round(CAST(n_kept_words AS DOUBLE) / n_words, 6)
            ELSE 0.0 END AS kept_word_frac,
       has_lorem, has_curly,
       CAST(CASE WHEN n_kept_lines >= 3 AND NOT has_lorem
                      AND NOT has_curly
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM sig
"""


def c4_line_rules(d: DataFrame) -> DataFrame:
    """The t39 core over any (doc_id, text) relation — factored for
    property testing against a pure-Python reference (the planted
    multi-line/lorem/curly paths live there; the parquet corpus is
    single-line)."""
    words = "filter(split(trim(l), '\\\\s+'), w -> w != '')"
    kept = (
        f"filter(lines, l -> size({words}) >= 5"
        f" AND substring(rtrim(l), -1, 1) IN {_T39_TERMINALS}"
        " AND NOT contains(lower(l), 'javascript'))"
    )
    sig = d.select(
        "doc_id",
        F.expr("coalesce(split(text, '\\n'), array())").alias("lines"),
        F.expr("contains(lower(coalesce(text, '')), 'lorem ipsum')").alias(
            "has_lorem"
        ),
        F.expr("contains(coalesce(text, ''), '{')").alias("has_curly"),
    ).select(
        "doc_id",
        "has_lorem",
        "has_curly",
        F.expr("cast(size(filter(lines, l -> trim(l) != '')) as bigint)").alias(
            "n_lines"
        ),
        F.expr(
            f"cast(coalesce(aggregate(transform(lines, l -> size({words})), "
            "0L, (a, x) -> a + x), 0L) as bigint)"
        ).alias("n_words"),
        F.expr(f"cast(size({kept}) as bigint)").alias("n_kept_lines"),
        F.expr(
            f"cast(coalesce(aggregate(transform({kept}, l -> size({words})), "
            "0L, (a, x) -> a + x), 0L) as bigint)"
        ).alias("n_kept_words"),
    )
    z = F.lit(0.0)
    return sig.select(
        "doc_id",
        "n_lines",
        "n_words",
        "n_kept_lines",
        "n_kept_words",
        F.when(
            F.col("n_lines") > 0,
            F.round(F.col("n_kept_lines").cast("double") / F.col("n_lines"), 6),
        ).otherwise(z).alias("kept_line_frac"),
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("n_kept_words").cast("double") / F.col("n_words"), 6),
        ).otherwise(z).alias("kept_word_frac"),
        "has_lorem",
        "has_curly",
        (
            (F.col("n_kept_lines") >= 3)
            & ~F.col("has_lorem")
            & ~F.col("has_curly")
        ).cast("bigint").alias("keep"),
    )


@register(
    "t39_c4_line_rules",
    oracle=_t39_oracle(),
    description="C4 LINE-LEVEL QUALITY RULES, published form (Raffel "
    "et al. 1910.10683 §2.2 — the rule set that built C4; t37's "
    "Gopher set is the document-level sibling): a line is kept iff "
    ">= 5 whitespace words AND terminal-punctuation ending (./!/?/"
    "closing quote) AND no 'javascript'; page flags lorem-ipsum and "
    "curly-bracket; keep = >= 3 kept lines AND neither flag. Emits "
    "exact integer line/word counts, 6dp kept fractions, flags, and "
    "the keep bit. Scale shape: ZERO shuffle — per-row Column "
    "expressions over the line array (O(lines) per doc, not t37's "
    "per-gram work, so the Arrow-rewrite rule does not trigger), "
    "pipelines into the scan (north-star quality scoring)",
)
def t39_c4_line_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_line_rules(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t40_sequence_packing — SEQUENCE PACKING for training batches: the
# step between chunking (t7) and serving that every LLM data pipeline
# runs — greedily pack documents into fixed-capacity context windows
# so padding waste is measured and bounded (the T5/GPT pack-and-pad
# discipline; see Krell et al. 2107.02027 for the published treatment
# of packing efficiency).  Deterministic contract: documents stream
# in doc_id order within each shard (shard = doc_id % 8 — the
# parallel unit), capacity 256 whitespace tokens (the shared
# spark_tokens/SQL_TOKS tokenizer), greedy NO-SPLIT first-fit on the
# running window: a document that would overflow closes the bin and
# opens the next; an oversize document (> capacity) occupies a bin
# alone (flagged — the truncate-vs-split decision is downstream
# policy, the packer only reports).  Emits one row per packed bin:
# docs, exact token sum, 6dp fill rate, oversize flag.
#
# Spark shape: packing is inherently SEQUENTIAL per stream — the
# published systems pack per worker shard — so the recurrence runs as
# ONE Arrow-grouped applyInPandas over the shard key (never
# row-at-a-time Python; the m-family/st5 grouped-Arrow discipline),
# and shards are the scale-out axis: at 100 TB the shard count is
# chosen so each shard's (doc_id, n) token-count list — two longs per
# document, NOT the text — fits one executor's Arrow group; the text
# column is pruned before the shuffle, so the grouped exchange moves
# O(docs x 16 bytes), not the corpus.  The oracle replays the
# identical recurrence as a recursive CTE per shard (the ev18/ev19
# two-variable-recurrence discipline).
# ---------------------------------------------------------------------------

_T40_SHARDS = 8
_T40_CAPACITY = 256


def sequence_packing(
    d: DataFrame,
    n_shards: int = _T40_SHARDS,
    capacity: int = _T40_CAPACITY,
) -> DataFrame:
    """The t40 core over any (doc_id, text) relation — factored for
    property testing against a pure-Python packer."""
    import pandas as pd

    from dww_data_pipeline_spark.plans.text_exprs import spark_tokens

    toks = d.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.coalesce(F.size(spark_tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n"),
    )

    from dww_data_pipeline_spark.streaming.pack_ingest import (
        BIN_COLUMNS,
        flush_state,
        pack_chunk,
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        closed, state = pack_chunk(
            [int(x) for x in pdf["n"]], None, capacity
        )
        rows = [(shard, *b) for b in closed + flush_state(state)]
        return pd.DataFrame(rows, columns=BIN_COLUMNS)

    packed = toks.groupBy("shard").applyInPandas(
        pack,
        "shard long, bin_id long, n_docs long, tokens long, "
        "has_oversize boolean",
    )
    # fill_rate as a JVM-side expression: Python's round() is
    # banker's (0.8515625 -> .851562) while Spark/DuckDB round half
    # away from zero (-> .851563) — keep the tie-sensitive division
    # on the engines so both sides round identically
    return packed.select(
        "shard",
        "bin_id",
        "n_docs",
        "tokens",
        F.round(F.col("tokens").cast("double") / capacity, 6).alias(
            "fill_rate"
        ),
        "has_oversize",
    )


def _t40_oracle() -> str:
    from dww_data_pipeline_spark.plans.text_exprs import SQL_TOKS

    c = _T40_CAPACITY
    return f"""WITH RECURSIVE toks AS MATERIALIZED (
  SELECT doc_id, doc_id % {_T40_SHARDS} AS shard,
         COALESCE(len({SQL_TOKS}), 0) AS n,
         CAST(row_number() OVER (PARTITION BY doc_id % {_T40_SHARDS}
                                 ORDER BY doc_id) AS BIGINT) AS idx
  FROM documents
), rec AS (
  SELECT shard, idx, n, CAST(1 AS BIGINT) AS bin, n AS fill
  FROM toks WHERE idx = 1
  UNION ALL
  SELECT t.shard, t.idx, t.n,
         CASE WHEN r.fill + t.n > {c} THEN r.bin + 1 ELSE r.bin END,
         CASE WHEN r.fill + t.n > {c} THEN t.n ELSE r.fill + t.n END
  FROM rec r JOIN toks t ON t.shard = r.shard AND t.idx = r.idx + 1
)
SELECT CAST(shard AS BIGINT) AS shard,
       bin AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS tokens,
       round(CAST(SUM(n) AS DOUBLE) / {c}, 6) AS fill_rate,
       bool_or(n > {c}) AS has_oversize
FROM rec GROUP BY shard, bin"""


@register(
    "t40_sequence_packing",
    oracle=_t40_oracle(),
    description="SEQUENCE PACKING for training batches (the T5/GPT "
    "pack-and-pad step; packing-efficiency treatment per Krell et "
    "al. 2107.02027): greedy NO-SPLIT packing of documents into "
    "capacity-256 token windows, streaming in doc_id order within "
    "each of 8 shards (the parallel unit); an overflowing document "
    "closes the bin, an oversize one occupies a bin alone (flagged). "
    "One row per bin: docs, exact token sum, 6dp fill rate. The "
    "inherently-sequential recurrence runs as ONE Arrow-grouped "
    "applyInPandas over (doc_id, token-count) pairs — text pruned "
    "before the shuffle, so the grouped exchange moves O(docs x 16 "
    "bytes); shards scale out and each shard's pair list is the "
    "bounded Arrow group. Oracle replays the recurrence as a "
    "recursive CTE per shard (ev18/ev19 discipline) — the whole "
    "greedy state machine is differentially proven",
)
def t40_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_packing(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# st21_stream_packing — t40's STATEFUL streaming twin: sequence
# packing at ingest.  Packing is order-sensitive by definition, so
# its streaming form cannot be stateless-per-batch (the st13/st19/
# st20 contract family) — the open bin must CARRY across
# micro-batches, which is exactly the applyInPandasWithState
# primitive (the st5 discipline; streaming/pack_ingest.py).  State
# per shard is O(1): (bin_id, n_docs, fill, oversize) of the one
# open bin.
#
# The registered query proves the carry recurrence: each shard's
# ordered document stream is chopped into FOUR chunks and folded
# chunk-by-chunk through pack_chunk with explicit carried state —
# the same function the real stream runs per micro-batch — and the
# result must be BIT-IDENTICAL to the one-shot pack, so the oracle
# is t40's recursive CTE verbatim.  The chopping-parity pytest
# additionally drives the real applyInPandasWithState path over a
# file-source stream and asserts closed-bin equality.
#
# Scale shape: identical to t40 (one Arrow-grouped stage over
# (doc_id, n) pairs, text pruned before the shuffle) plus the O(1)
# per-shard state row; the chunk loop is inside the same Arrow
# stage, so the chop adds zero extra shuffles.
# ---------------------------------------------------------------------------

_ST21_CHUNKS = 4


@register(
    "st21_stream_packing",
    oracle=_t40_oracle(),
    description="SEQUENCE PACKING AT INGEST (t40's stateful streaming "
    "twin, streaming/pack_ingest.py): the greedy no-split packer's "
    "open bin CARRIES across micro-batches via per-shard O(1) state "
    "(applyInPandasWithState, the st5 discipline) — packing is "
    "order-sensitive, so the stateless-per-batch st13 contract "
    "cannot apply; each shard's ordered stream chopped into 4 "
    "chunks folds through the carried recurrence and must emit "
    "bit-identical bins to the one-shot pack (oracle = t40's "
    "recursive CTE verbatim; the real foreachBatch path is "
    "chopping-parity pytested). Same single-Arrow-stage shape as "
    "t40; the chop adds zero shuffles",
)
def st21_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from dww_data_pipeline_spark.plans.text_exprs import spark_tokens
    from dww_data_pipeline_spark.streaming.pack_ingest import (
        BIN_COLUMNS,
        flush_state,
        pack_chunk,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _T40_SHARDS).alias("shard"),
        F.coalesce(F.size(spark_tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n"),
    )

    def pack4(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        ns = [int(x) for x in pdf["n"]]
        state = None
        closed = []
        k = len(ns)
        for c in range(_ST21_CHUNKS):
            chunk = ns[c * k // _ST21_CHUNKS: (c + 1) * k // _ST21_CHUNKS]
            got, state = pack_chunk(chunk, state, _T40_CAPACITY)
            closed.extend(got)
        rows = [(shard, *b) for b in closed + flush_state(state)]
        return pd.DataFrame(rows, columns=BIN_COLUMNS)

    packed = toks.groupBy("shard").applyInPandas(
        pack4,
        "shard long, bin_id long, n_docs long, tokens long, "
        "has_oversize boolean",
    )
    return packed.select(
        "shard",
        "bin_id",
        "n_docs",
        "tokens",
        F.round(
            F.col("tokens").cast("double") / _T40_CAPACITY, 6
        ).alias("fill_rate"),
        "has_oversize",
    )
