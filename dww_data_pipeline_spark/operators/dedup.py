"""Deduplication operators (LLM-data-pipeline extensions; north-star
requirement — no reference counterpart, the reference's only dedup is
exact id-dedup, GetWeta.py:104-108 / J7 edge-dedup GetWeta.py:239-247).

Four families, all shuffle-disciplined for 100 TB:

* exact          — hash-groupBy on a 16-byte fingerprint, never on the
                   full document (one shuffle of (hash, id), not text).
* minhash LSH    — shingle → minhash signature → band buckets →
                   bucket join (Broder, "On the resemblance and
                   containment of documents", 1997; banding per
                   Leskovec/Rajaraman/Ullman, Mining of Massive
                   Datasets ch.3). The self-join happens only within
                   LSH buckets, never across the full corpus.
* simhash        — 64-bit signature via per-bit majority vote of token
                   hashes (Charikar, "Similarity estimation techniques
                   from rounding algorithms", STOC 2002); near-dups
                   share the signature (or differ in few bits — banded
                   by signature prefix at scale).
* n-gram Jaccard — exact verification of candidate pairs (used after
                   LSH to kill false positives).

Hash choice: xxhash64 (Spark built-in, JVM-side) for scale paths;
md5-derived hashes where a cross-engine oracle must reproduce the
value (md5 is identical in Spark / DuckDB / Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dww_data_pipeline_spark.functions.text import fingerprint, word_shingles


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of exact duplicates (normalized-text fingerprint).
    Returns (fingerprint, dup_count, doc_ids) for groups of size>1."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per fingerprint group.

    At scale: shuffles only (fp, id) pairs; the winning ids come back
    via a semi-join so full rows move once.
    """
    winners = (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


# -------------------------------------------------------------- minhash

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, minhash signature array<long>) per document.

    Shape: explode shingles once, then ``num_hashes`` seeded xxhash64
    mins via partial-agg groupBy — tokenization runs once per doc and
    the shuffle carries one (id, mins...) row per doc per partition.
    (An inline array-expression variant re-evaluates the shingle
    subtree per hash function — no CSE inside higher-order functions —
    and measures ~3× slower; same lesson as the md5 path in
    plans/dedup_plans.py.) Docs with fewer than ``shingle_k`` tokens
    have no shingles and drop out — no row rather than NULL signature.
    """
    ex = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_s")
    )
    agg = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("_s"), F.lit(42 + i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    signature → ``bands`` bands of ``num_hashes/bands`` rows; docs
    sharing any band bucket become a candidate pair. The self-join is
    per-bucket (groupBy band hash), so cost is Σ bucket² not corpus²
    — the property that makes this the 100 TB path.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` caps the quadratic blowup: a bucket of B docs
    emits B² pairs, and at corpus scale mega-buckets are almost always
    templated/boilerplate content whose members are EXACT duplicates
    of each other (handled by the cheaper exact-dedup stage upstream).
    Buckets over the cap are dropped wholesale — the standard
    production guard that bounds worst-case shuffle volume; a pair of
    genuinely-similar docs is still found via its other bands.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    # docs shorter than shingle_k tokens have empty shingle sets →
    # all-NULL signatures; without this filter they would all share
    # one '' bucket per band and emit m²/2 bogus pairs
    sigs = sigs.filter(F.get(F.col("sig"), 0).isNotNull())
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        from pyspark.sql import Window

        cnt = F.count(F.lit(1)).over(
            Window.partitionBy("band", "bucket")
        )
        banded = (
            banded.withColumn("_bsz", cnt)
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# -------------------------------------------------------------- simhash

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: per-bit majority vote over token
    xxhash64 values (weights=1). Computed with explode over tokens +
    one groupBy — a single shuffle of (id, token-hash) pairs.

    Near-duplicates have small Hamming distance between signatures.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.select(id_col, F.xxhash64("tok").alias("h"))

    def bit_mask(i: int):
        # shiftleft, not F.lit(1 << i): 1 << 63 overflows a Java long
        # literal; the JVM shift wraps to the sign bit correctly
        return F.shiftleft(F.lit(1).cast("long"), i)

    # vote: for each bit, sum(+1 if bit set else -1); bit of result = vote>0
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(bit_mask(i)) != 0, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"v{i}") > 0, bit_mask(i)).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------------- n-gram jaccard

def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate (id_a, id_b) pairs —
    verification stage after LSH. Joins shingle sets to the pair list
    (two broadcast-or-shuffle joins on ids, set math as expressions).
    """
    sh = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------ connected components

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup pairs into duplicate GROUPS: connected
    components by iterative min-label propagation.

    Each iteration is one distributed join + aggregate (label :=
    min(label of self, labels of neighbors)); convergence in
    O(component diameter) iterations — dup clusters are shallow in
    practice, and ``max_iter`` bounds the worst case. The driver loop
    only orchestrates; all data stays distributed (this is the
    GraphFrames-free pattern for iterative graph algorithms on
    DataFrames).

    Returns (id, component) where component = min id in the group.
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .localCheckpoint()  # reused every iteration — materialize once
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        new_comp = F.least(
            F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                new_comp.alias("component"),
                # change flag computed INSIDE the propagation projection
                # (old component is right here), so the convergence
                # probe below is a filter over the checkpoint — no
                # join of old vs new label tables
                (new_comp != F.col("component")).alias("_changed"),
            )
            # truncate lineage: without this each iteration replans the
            # whole history and the loop goes superlinear in wall-clock.
            # eager=False: the next probe/propagation materializes it
            # inside its own job, so no standalone checkpoint job runs
            # per round (measured 3.4 -> 2.6 s on d6 at sf0.1)
            .localCheckpoint(eager=False)
        )
        # convergence probe every 2nd round: the probe is its own Spark
        # job, and dup graphs converge in (diameter) rounds — probing
        # half as often trades at most one redundant propagation round
        # for half the probe jobs (measured ~9% off d6 at sf0.1)
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                new_labels.filter(F.col("_changed")).limit(1).count()
            )
            if changed == 0:
                labels = new_labels
                break
        labels = new_labels
    return labels.select("id", "component")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the huge-graph alternative to min-label propagation:
    converges in O(log n) rounds instead of O(diameter), and each
    round SHRINKS hub neighborhoods (large-star points every
    larger neighbor at the local minimum) instead of re-shuffling
    them, so heavy-hitter nodes get cheaper as iterations proceed.

    Same contract as ``connected_components``: returns (id, component)
    with component = min id of the group. Used when dup graphs are
    deep or hub-heavy; the pytest suite asserts equivalence with label
    propagation on randomized graphs.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = edges.select(F.col("u").alias("id")).distinct().localCheckpoint()

    for _ in range(max_iter):
        # large-star: every neighbor v > u is re-pointed at
        # m(u) = min(Γ(u) ∪ {u})
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges high→low, point every low neighbor
        # (and the high node itself) at the minimum
        dir_ = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = dir_.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            dir_.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .union(mins2.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            # EAGER: the probe below references this frame twice and
            # the next round three more times — r13 measured the lazy
            # form duplicating the compute (+1.3 s on d6b)
            .localCheckpoint()
        )
        # converged when the edge set is a stable star forest.  ONE
        # symmetric-difference count job (r13) instead of two limit(1)
        # counts: both sides are distinct sets, the anti-join shuffles
        # dominate either way, and the fused form costs one driver
        # round-trip per round instead of three (probe+probe+eager
        # checkpoint).
        changed = (
            small.exceptAll(edges)
            .unionAll(edges.exceptAll(small))
            .count()
        )
        edges = small
        if changed == 0:
            break

    # after convergence every edge points a node at its component root
    labels = edges.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("component")
    )
    return (
        all_nodes.join(labels, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )
