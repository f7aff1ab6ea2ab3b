"""Similarity search over embedding columns (north-star extension).

* ``brute_force_topk`` — exact cosine top-k: broadcast the query set,
  one JVM-side cosine per (row, query), per-query top-k via window.
  The baseline and the verifier. Scales linearly in corpus size ×
  queries (fine when |queries| is small — the common batch case).
* ``ivf_topk`` — IVF (inverted-file) top-k over a coarse quantizer
  trained on a driver-side sample; the in-memory twin of the
  persisted index in ``sources/ann_index.py``.
* ``bucket_pairs_cos_arrow`` / ``bucket_local_components_arrow`` /
  ``bucket_knn_arrow`` — per-LSH-bucket dense scoring stages for the
  random-hyperplane LSH plans (Charikar STOC 2002; the oracle-checked
  bucket-pruned top-k is ``s4_ann_lsh_topk`` in
  ``plans/dedup_plans.py``).
* ``gram_fixed_point`` / ``pca_quality`` / ``pca_project`` — PCA from
  one bounded Gram-matrix collect.

Hyperplanes and centroids are generated driver-side from a seeded RNG
and shipped as literal arrays (they are tiny: b × dim floats), so
executors do zero Python work.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dww_data_pipeline_spark.functions.vectors import cosine


def _topk(scored: DataFrame, query_id: str, id_col: str, k: int) -> DataFrame:
    """Deterministic per-query top-k: cos desc, id asc tiebreak — the
    single ranking contract every search path shares."""
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` must have columns (query_id, vec_col). The query set
    is broadcast (small side), so the only wide operation is the
    per-query top-k window — partitioned by query id, never global.
    """
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qv"))
    scored = corpus.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(q)).select(
        query_id,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos"),
    )
    return _topk(scored, query_id, id_col, k)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).astype("float64")


def _ident(name: str) -> str:
    """Backtick-quote a column name for generated SQL, so names with
    dashes/spaces/keywords work exactly as F.col() did (the SQL-text
    builders take column NAMES, not Column objects — fail loudly on
    the latter rather than interpolating its repr)."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name string, got {type(name).__name__} "
            "(the parse-once SQL builders take names, not Columns)"
        )
    return "`" + name.replace("`", "``") + "`"


def _kmeans_centroids(
    sample: np.ndarray, k: int, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Tiny deterministic Lloyd's k-means on a driver-side sample —
    centroids are a bounded artifact (k × dim floats), the IVF
    analogue of training a coarse quantizer."""
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def _centroid_dist_sql(vec_sql: str, c) -> str:
    """Spark-SQL text of the squared-L2 distance to one centroid.

    Built as SQL text and parsed once (F.expr) rather than nested
    Column-API lambdas: each Python-side zip_with/aggregate lambda
    costs a JVM round-trip to register, and k=16 centroids × 2
    lambdas each spent ~1 s of pure driver time per query building
    the tree (same finding as the PCA/sign-LSH builders)."""
    arr = ", ".join(repr(float(x)) + "D" for x in c)
    return (
        f"aggregate(zip_with({_ident(vec_sql)}, array({arr}), "
        f"(x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"
    )


def _centroid_structs_sql(vec_sql: str, centroids: np.ndarray) -> str:
    if len(centroids) == 0:
        raise ValueError("centroids must be non-empty")
    return ", ".join(
        f"named_struct('d', {_centroid_dist_sql(vec_sql, c)}, 'j', {j})"
        for j, c in enumerate(centroids)
    )


def _nearest_centroid_col(vec_col: str, centroids: np.ndarray):
    """Column: index of the nearest centroid (L2); ties keep the
    earliest index (struct comparison orders by d, then j)."""
    return F.expr(
        f"array_min(array({_centroid_structs_sql(vec_col, centroids)})).j"
    )


def _centroid_probe_col(vec_col: str, centroids: np.ndarray, nprobe: int):
    """Column: array of the nprobe nearest centroid indices (L2)."""
    return F.expr(
        f"transform(slice(sort_array(array("
        f"{_centroid_structs_sql(vec_col, centroids)})), 1, {nprobe}), "
        f"s -> s.j)"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_lists: int = 16,
    sample_size: int = 2000,
    seed: int = 42,
    query_id: str = "query_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    assigned to their nearest coarse centroid; each query scans its
    ``nprobe`` nearest centroids' lists (the IVF recall knob — scan
    cost grows ~linearly with nprobe, recall steeply; the probe
    expansion is on the tiny broadcast query side only).

    The quantizer trains on a driver-side sample (bounded — never the
    corpus) and ships as literal centroid arrays, so executors do the
    assignment JVM-side with zero Python. At 100 TB the assignment is
    a narrow map; the per-list scan replaces the full-corpus scan.
    """
    if not 1 <= nprobe <= n_lists:
        raise ValueError(f"nprobe must be in [1, n_lists], got {nprobe}")
    sample = np.array(
        [
            row[0]
            for row in corpus.select(vec_col).limit(sample_size).collect()
        ],
        dtype="float64",
    )
    centroids = _kmeans_centroids(sample, k=n_lists, seed=seed)
    c_assigned = corpus.withColumn("_list", _nearest_centroid_col(vec_col, centroids))
    q_assigned = (
        queries.select(F.col(query_id), F.col(vec_col).alias("_qv"))
        .withColumn(
            "_list", F.explode(_centroid_probe_col("_qv", centroids, nprobe))
        )
    )
    pairs = c_assigned.join(F.broadcast(q_assigned), "_list")
    scored = pairs.select(
        query_id,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos"),
    )
    return _topk(scored, query_id, id_col, k)


def bucket_pairs_cos_arrow(
    e: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    min_cos: float,
    out_a: str = "id_a",
    out_b: str = "id_b",
    keep_bucket: bool = False,
) -> DataFrame:
    """All within-bucket pairs (id_a < id_b) with cosine >= min_cos.

    Scale shape: ONE applyInPandas task per LSH bucket — each vector
    crosses the JVM→Arrow boundary once (O(sum n_b) transfer), and the
    bucket's full cosine matrix is dense BLAS (row-blocked so the
    temporary stays bounded at block×n_b), versus O(sum n_b^2) vector
    copies when pairs are materialized first. The threshold applies to
    the RAW cosine (SQL ``WHERE cos >= t`` before rounding); output
    cos is half-up 6-decimal rounded. Per-bucket work is n_b^2 — the
    skew story is the LSH bit-width (more bits → smaller buckets), and
    AQE cannot split a single Python group, so size buckets for the
    corpus.

    Float caveat (accepted, shared with the einsum scorers s4/s5):
    BLAS summation order differs from a SQL fold, so a pair whose RAW
    cosine sits within ~1e-15 of the threshold or of a rounding
    boundary could flip against a fold-based oracle. Empirically zero
    hits across every scale factor; the alternative (per-pair
    left-to-right loops) forfeits the vectorized scoring entirely."""
    from pyspark.sql import types as T

    fields = [
        T.StructField(out_a, e.schema[id_col].dataType, True),
        T.StructField(out_b, e.schema[id_col].dataType, True),
        T.StructField("cos", T.DoubleType(), True),
    ]
    if keep_bucket:
        fields.append(T.StructField(bucket_col, e.schema[bucket_col].dataType, True))
    schema = T.StructType(fields)

    def per_bucket(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        n = len(ids)
        if n < 2:
            out = pd.DataFrame({out_a: ids[:0], out_b: ids[:0], "cos": []})
            if keep_bucket:
                out[bucket_col] = ids[:0]
            return out
        norms = np.linalg.norm(X, axis=1)
        out_i, out_j, out_c = [], [], []
        B = 4096
        for s in range(0, n, B):
            cb = X[s : s + B] @ X.T
            denom = np.outer(norms[s : s + B], norms)
            cos = np.where(denom > 0, cb / np.maximum(denom, 1e-300), 0.0)
            # ids are sorted, so positional j > i == id_b > id_a
            rows, cols = np.where(cos >= min_cos)
            upper = cols > rows + s
            rows, cols = rows[upper], cols[upper]
            out_i.append(ids[rows + s])
            out_j.append(ids[cols])
            c = cos[rows, cols]
            out_c.append(np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6)
        out = pd.DataFrame(
            {
                out_a: np.concatenate(out_i),
                out_b: np.concatenate(out_j),
                "cos": np.concatenate(out_c),
            }
        )
        if keep_bucket:
            out[bucket_col] = key[0]
        return out

    return e.select(id_col, vec_col, bucket_col).groupBy(bucket_col).applyInPandas(
        per_bucket, schema=schema
    )


def bucket_local_components_arrow(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Connected components of a BUCKET-LOCAL pair graph: when every
    vertex belongs to exactly one bucket (single-table LSH: pairs are
    generated within buckets only), components cannot span buckets, so
    the global answer is the disjoint union of per-bucket answers —
    ONE union-find pass per bucket inside applyInPandas, no iterative
    driver loop, no checkpoints, no convergence probes. Returns (id,
    component = min id of the group) for every vertex that appears in
    a pair, exactly like ``operators.dedup.connected_components``.

    Use the iterative operator when edges can cross the grouping key;
    use this one when the generator guarantees bucket-locality."""
    from pyspark.sql import types as T

    id_type = pairs.schema[id_a].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("component", id_type, True),
        ]
    )

    def per_bucket(pdf):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf[id_a], pdf[id_b]):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the root is already the label
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = list(parent)
        return pd.DataFrame(
            {"id": nodes, "component": [find(x) for x in nodes]}
        )

    return (
        pairs.select(id_a, id_b, bucket_col)
        .groupBy(bucket_col)
        .applyInPandas(per_bucket, schema=schema)
    )


def bucket_knn_arrow(
    e: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    k: int,
    out_src: str = "src",
    out_dst: str = "dst",
) -> DataFrame:
    """Every vector's top-k neighbors WITHIN its LSH bucket: (src, dst,
    cos, rank) ranked by rounded cos desc, dst asc — the kNN-graph
    construction pass. Same per-bucket applyInPandas shape as
    ``bucket_pairs_cos_arrow`` (one gemm per bucket, vectors cross the
    boundary once, output is k rows per vector)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(out_src, e.schema[id_col].dataType, True),
            T.StructField(out_dst, e.schema[id_col].dataType, True),
            T.StructField("cos", T.DoubleType(), True),
            T.StructField("rank", T.IntegerType(), True),
        ]
    )

    def per_bucket(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {out_src: ids[:0], out_dst: ids[:0], "cos": [], "rank": []}
            )
        norms = np.linalg.norm(X, axis=1)
        srcs, dsts, coss, ranks = [], [], [], []
        B = 4096
        for s in range(0, n, B):
            cb = X[s : s + B] @ X.T
            denom = np.outer(norms[s : s + B], norms)
            cos = np.where(denom > 0, cb / np.maximum(denom, 1e-300), 0.0)
            cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
            for r in range(len(cos)):
                row = cos[r]
                # exclude self; rank by rounded cos desc, id asc
                mask = np.arange(n) != (s + r)
                cand = np.where(mask)[0]
                order = cand[np.lexsort((ids[cand], -row[cand]))][:k]
                srcs.append(np.full(len(order), ids[s + r]))
                dsts.append(ids[order])
                coss.append(row[order])
                ranks.append(np.arange(1, len(order) + 1, dtype=np.int32))
        return pd.DataFrame(
            {
                out_src: np.concatenate(srcs),
                out_dst: np.concatenate(dsts),
                "cos": np.concatenate(coss),
                "rank": np.concatenate(ranks),
            }
        )

    return e.select(id_col, vec_col, bucket_col).groupBy(bucket_col).applyInPandas(
        per_bucket, schema=schema
    )


def gram_fixed_point(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, scale: float = 1e8
) -> DataFrame:
    """Corpus second-moment (Gram) matrix in fixed point: one row per
    flattened cell ``pos = i*dim + j`` with
    ``s_fp = sum(floor(x_i * x_j * scale))`` as BIGINT.

    Scale shape: each Arrow batch folds its vectors into a single
    dim^2 int64 accumulator via numpy outer products (vectorized,
    zero Python per-element work), and each PARTITION emits exactly
    one dim^2-row partial — the shuffle carries dim^2 cells per
    partition no matter the corpus size, and the final groupBy is a
    trivial reduce over #partitions rows. Per-term floor before the
    integer sum makes the result exact and partition-order-proof
    (IEEE multiplication commutes, so the matrix is symmetric bit-for-
    bit). At extreme scale the int64 cell sums bound the corpus at
    ~1e9 vectors per 1e8 scale step — drop ``scale`` or widen the
    final aggregate to DECIMAL if a deployment ever exceeds that.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("s_fp", T.LongType(), False),
        ]
    )

    def partial(batches):
        import pandas as pd

        acc = np.zeros(dim * dim, dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # chunk rows so the n×dim×dim temporary stays bounded
            for s in range(0, len(X), 2048):
                C = X[s : s + 2048]
                outer = (C[:, :, None] * C[:, None, :]).reshape(len(C), -1)
                acc += np.floor(outer * scale).astype(np.int64).sum(axis=0)
            seen = True
        if seen:
            yield pd.DataFrame(
                {"pos": np.arange(dim * dim, dtype=np.int32), "s_fp": acc}
            )

    partials = df.select(vec_col).mapInPandas(partial, schema=out_schema)
    return partials.groupBy("pos").agg(F.sum("s_fp").alias("s_fp"))


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    vec_col: str = "embedding",
    out_prefix: str = "pc",
) -> DataFrame:
    """Project vectors onto the given components — the matrix folds to
    plan-time literals exactly like the Rademacher projection (e4):
    pure per-row column math, zero shuffle, zero UDFs. The dot
    products are zip_with/aggregate higher-order expressions (left-to-
    right fold: deterministic per row) rather than k×dim chained
    literal terms — the compact tree analyzes/compiles in milliseconds
    where the unrolled sum cost whole seconds of driver time. The
    expressions are built as ONE parsed SQL string per component
    (``F.expr``) instead of nested Column-API lambda calls: each
    Python-side ``zip_with``/``aggregate`` lambda costs a JVM
    round-trip to register, and k=8 components over dim=64 spent
    ~0.9 s of pure driver time building the tree (measured); the
    parse-once form builds in <0.1 s and analyzes to the same plan."""
    cols = []
    for p, comp in enumerate(components):
        arr = ", ".join(repr(float(w)) + "D" for w in comp)
        cols.append(
            F.expr(
                f"aggregate(zip_with(transform({_ident(vec_col)}, "
                f"x -> CAST(x AS DOUBLE)), "
                f"array({arr}), (x, y) -> x * y), 0D, (a, x) -> a + x)"
            ).alias(f"{out_prefix}{p}")
        )
    return df.select("*", *cols)


def pca_quality(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    dim: int = 64,
) -> dict:
    """Driver-side PCA quality contract over ONE Gram collect.

    Returns the eigh top-k components plus the exact-integer /
    micro-unit contract quantities the e6 oracle asserts:

    * ``orth_max_err_u`` — max |comps comps^T - I| entry in floored
      micro-units (eigh orthonormality holds to ~1e-15, so 0);
    * ``desc_violations`` — count of adjacent eigenvalue-descent
      violations in the top-k (eigh sorts, so 0);
    * ``capture_ok`` — 1 iff top-k eigenvalue mass >= k/dim of the
      trace (always true for the top-k of a PSD second-moment);
    * ``eig_residual_u`` — max_p ||G c_p - lambda_p c_p|| / lambda_p
      in floored micro-units: the eigenpair residual, ~1e-14 for a
      correct eigh regardless of the spectrum's eigengap (a power-
      iteration agreement gate was tried first and rejected — at
      sf0.01 the corpus spectrum has lambda2/lambda1 = 0.985, so 64
      fixed-point rounds agree only to cos 0.977; the residual is the
      spectrum-independent form of the same "is this really an
      eigenvector of G" question).
    """
    cells = gram_fixed_point(df, vec_col, dim=dim).collect()
    g = np.zeros((dim, dim))
    for r in cells:
        i, j = r["pos"] // dim, r["pos"] % dim
        g[i][j] = r["s_fp"] / 1e8
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1]
    comps: list[list[float]] = []
    for o in order[:k]:
        v = vecs[:, o]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    top = [float(vals[o]) for o in order[:k]]

    c = np.array(comps)
    orth_err = float(np.max(np.abs(c @ c.T - np.eye(k))))
    desc_violations = sum(
        1 for p in range(k - 1) if top[p] < top[p + 1] - 1e-12
    )
    trace = float(np.trace(g))
    capture_ok = 1 if sum(top) * dim >= trace * k - 1e-6 else 0

    residual = max(
        float(np.linalg.norm(g @ c[p] - top[p] * c[p]))
        / max(top[p], 1e-12)
        for p in range(k)
    )
    return {
        "components": comps,
        "eigenvalues": top,
        "orth_max_err_u": int(math.floor(orth_err * 1e6)),
        "desc_violations": int(desc_violations),
        "capture_ok": int(capture_ok),
        "eig_residual_u": int(math.floor(residual * 1e6)),
    }
