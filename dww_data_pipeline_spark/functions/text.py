"""Text-analysis expression library (LLM-data-pipeline extensions).

These go beyond the reference's own surface (north-star requirement):
language ID, quality scoring, token counting, fingerprinting,
shingling. All pure Column expressions — they run JVM-side and scale
linearly with no shuffle; every one of them is a narrow map over the
documents fact table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic and SQL-expressible (the DuckDB oracle uses the same
# lists), good enough for a routing heuristic; a real deployment would
# swap in fastText via mapInPandas.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count (long)."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation
    runs via regex — a deterministic proxy for tokenizer cost."""
    pieces = F.regexp_count(text, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^\sA-Za-z0-9]"))
    return pieces.cast("long")


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: rewards moderate length,
    penalizes punctuation soup, rewards stopword presence. The exact
    formula is arbitrary but deterministic; the double operations run
    in the same order as the DuckDB oracle (``text_plans._QUALITY_SQL``),
    so t2's scores compare bit-exact."""
    n_tok = token_count(text).cast("double")
    toks = tokens(F.lower(text))
    sw_hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))).cast("double")
    sw_ratio = sw_hits / F.greatest(F.size(toks), F.lit(1))
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    pr = punct / F.greatest(n, F.lit(1))
    return (
        F.lit(0.5) * F.least(n_tok / 100.0, F.lit(1.0))
        + F.lit(0.3) * F.least(sw_ratio * 5.0, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - pr)
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: the language whose marker lexicon hits
    the most tokens; ties and zero hits → 'und'."""
    toks = tokens(F.lower(text))

    def marker_hits(words: tuple[str, ...]):
        # single-arg closure (a 2-arg lambda would receive the index)
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = [(lang, marker_hits(words)) for lang, words in LANG_MARKERS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so earlier languages win ties via the final when-chain
    for lang, s in reversed(scores):
        out = F.when((best_score > 0) & (s == best_score), F.lit(lang)).otherwise(out)
    return out


PII_PATTERNS: dict[str, str] = {
    # deliberately simple, deterministic patterns (portable to RE2)
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def scrub_pii(text: Column) -> Column:
    """Replace email/phone/IPv4 literals with typed placeholders —
    the standard pre-training scrub pass. Pure regexp_replace chain
    (order fixed: email before phone so digits in domains survive)."""
    c = F.regexp_replace(text, PII_PATTERNS["email"], "<EMAIL>")
    c = F.regexp_replace(c, PII_PATTERNS["ipv4"], "<IP>")
    c = F.regexp_replace(c, PII_PATTERNS["phone"], "<PHONE>")
    return c


def normalize_text(text: Column) -> Column:
    """Canonical text normalization: lowercase, collapse whitespace,
    strip control chars, trim. The shared front of dedup/fingerprint
    pipelines."""
    c = F.regexp_replace(text, r"[\x00-\x1f\x7f]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.lower(F.trim(c))


def chunk_tokens(text: Column, chunk_size: int = 64, overlap: int = 16) -> Column:
    """Split a document into token-window chunks with overlap — the
    core LLM-training chunking op. Returns array<struct<chunk_id,
    chunk_text, n_tokens>>; explode downstream for one row per chunk.

    Stride = chunk_size - overlap; the last chunk keeps the tail.
    Built from one tokenization + slices (no per-element re-inlining).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = tokens(text)
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int")
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_size)).alias(
                "chunk_text"
            ),
            F.least(n - i * stride, F.lit(chunk_size)).alias("n_tokens"),
        ),
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace/case-normalized text.
    Stable across engines (md5 is md5 everywhere), used for exact
    dedup at scale — 16 bytes instead of the full document."""
    norm = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(norm)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Array of k-word shingles (each a space-joined string) — the
    input to MinHash / Jaccard dedup.

    Built by zipping k shifted slices of the token array; an
    element_at-over-index-sequence formulation re-inlines the token
    subtree per access (no CSE inside higher-order functions) and
    degrades to O(tokens²) per document — measured 40× slower."""
    toks = tokens(F.lower(text))
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(k)])
    return F.transform(z, lambda x: F.concat_ws(" ", *[x[str(i)] for i in range(k)]))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Array of character n-grams of normalized text (zip of shifted
    char-array slices — same O(n·len) discipline as word_shingles)."""
    norm = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    chars = F.split(norm, "")
    m = F.greatest(F.size(chars) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(chars, i + 1, m) for i in range(n)])
    grams = F.transform(z, lambda x: F.concat(*[x[str(i)] for i in range(n)]))
    return F.when(F.length(norm) >= n, grams).otherwise(F.array(norm))
