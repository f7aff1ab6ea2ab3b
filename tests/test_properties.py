"""Property-based differential tests (hypothesis): the sequence
operators vs independent pure-Python oracles on randomized inputs —
nulls, single-row entities, all-equal runs, and interleavings that
fixed fixtures never cover.

Example counts are kept small because every example runs Spark jobs;
the value is in hypothesis's shrinking when an edge case breaks.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dww_data_pipeline_spark.operators import sequence as seq

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (entity, value) rows; ts is assigned as the per-entity arrival index
_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
    ),
    min_size=0,
    max_size=50,
)


def _with_ts(rows):
    """Assign strictly-increasing per-entity timestamps (arrival order)."""
    counters: dict[int, int] = {}
    out = []
    for ent, val in rows:
        t = counters.get(ent, 0)
        counters[ent] = t + 1
        out.append((ent, t, val))
    return out


def _python_jumps(rows3):
    """SQL-null-faithful oracle: changed = prev IS NULL OR (value IS
    NOT NULL AND prev IS NOT NULL AND value <> prev) — lag's first-row
    null makes the first row a jump; a NULL <> comparison is NULL and
    the filter drops it."""
    by_ent: dict[int, list] = {}
    for ent, t, val in sorted(rows3):
        by_ent.setdefault(ent, []).append((t, val))
    out = []
    for ent, evs in by_ent.items():
        prev = None  # lag() of the first row IS null — same as a null value
        first = True
        for t, val in evs:
            changed = first or prev is None or (val is not None and val != prev)
            if changed:
                out.append((ent, t, val))
            prev, first = val, False
    return sorted(out)


class TestSequenceProperties:
    @settings(**_SETTINGS)
    @given(_ROWS)
    def test_jumps_matches_python_oracle(self, spark, rows):
        rows3 = _with_ts(rows)
        if not rows3:
            return
        df = spark.createDataFrame(rows3, "ent int, ts bigint, val string")
        got = sorted(
            (r["ent"], r["ts"], r["val"])
            for r in seq.jumps(df, "ent", "val", ["ts"]).collect()
        )
        assert got == _python_jumps(rows3)

    @settings(**_SETTINGS)
    @given(_ROWS)
    def test_run_lengths_partition_row_count(self, spark, rows):
        # runs partition each entity's rows: run lengths sum to the row
        # count, and (for null-free values) the number of runs equals
        # the number of jumps
        rows3 = [(e, t, v) for e, t, v in _with_ts(rows) if v is not None]
        if not rows3:
            return
        df = spark.createDataFrame(rows3, "ent int, ts bigint, val string")
        runs = seq.run_lengths(df, "ent", "val", ["ts"]).collect()
        assert sum(r["run_length"] for r in runs) == len(rows3)
        n_jumps = seq.jumps(df, "ent", "val", ["ts"]).count()
        assert len(runs) == n_jumps

    @settings(**_SETTINGS)
    @given(_ROWS)
    def test_stateful_batch_twin_equals_window_jumps(self, spark, rows):
        """The vectorized mapInPandas batch twin must agree with the
        windowed jump detector on every input, including null values
        and entity boundaries."""
        import datetime as dt

        from dww_data_pipeline_spark.streaming.stateful import streaming_jumps

        rows3 = _with_ts(rows)
        if not rows3:
            return
        base = dt.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [
                (str(e), base + dt.timedelta(seconds=t), v)
                for e, t, v in rows3
            ],
            "user_id string, ts timestamp, event_type string",
        )
        got = sorted(
            (r["entity_id"], r["ts_ms"], r["value"])
            for r in streaming_jumps(ev)
            .select("entity_id", "ts_ms", "value")
            .collect()
        )
        # oracle: same lag semantics as the detector (emit on first,
        # prev-null, or non-null change)
        by_ent: dict[str, list] = {}
        for e, t, v in rows3:
            ms = int((base + dt.timedelta(seconds=t)).timestamp() * 1000)
            by_ent.setdefault(str(e), []).append((ms, v))
        want = []
        for ent, evs in by_ent.items():
            has_prev = False
            last = None
            for ms, val in sorted(evs):
                if (not has_prev) or last is None or (val is not None and val != last):
                    want.append((ent, ms, val))
                last, has_prev = val, True
        assert got == sorted(want)

    @settings(**_SETTINGS)
    @given(
        st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 100)),
            min_size=0,
            max_size=30,
        ),
        st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 100)),
            min_size=0,
            max_size=30,
        ),
    )
    def test_asof_join_matches_pandas_merge_asof(self, spark, left, right):
        left = sorted(set(left))
        right = sorted(set(right))
        if not left or not right:
            return
        ldf = spark.createDataFrame(
            [(k, t) for k, t in left], ["k", "lt"]
        )
        rdf = spark.createDataFrame(
            [(k, t, f"r{k}_{t}") for k, t in right], ["k", "rt", "payload"]
        )
        out = seq.asof_join(
            ldf, rdf, on="k", left_ts="lt", right_ts="rt",
            right_cols=["payload", "rt"],
        )
        got = {
            (r["k"], r["lt"]): (r["payload"], r["rt"]) for r in out.collect()
        }
        lp = pd.DataFrame(left, columns=["k", "lt"]).sort_values("lt")
        rp = pd.DataFrame(
            [(k, t, f"r{k}_{t}") for k, t in right],
            columns=["k", "rt", "payload"],
        ).sort_values("rt")
        m = pd.merge_asof(
            lp, rp, left_on="lt", right_on="rt", by="k", direction="backward"
        )
        for row in m.itertuples(index=False):
            want = (
                (None, None)
                if pd.isna(row.rt)
                else (row.payload, int(row.rt))
            )
            assert got[(row.k, row.lt)] == want


class TestCodecProperties:
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=0,
            max_size=64,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_a16_roundtrip_and_window_count(self, samples):
        # pure-Python property: no Spark jobs, so examples are cheap
        import numpy as np

        from dww_data_pipeline_spark.operators.media_codec import (
            audio_features,
            decode_audio,
        )

        payload = (
            f"A16\n8000 {len(samples)}\n" + " ".join(map(str, samples))
        ).encode()
        rate, decoded = decode_audio(payload)
        assert rate == 8000
        assert list(decoded) == samples
        wins = audio_features(decoded, window=8)
        assert len(wins) == len(samples) // 8
        for rms, zcr in wins:
            assert 0.0 <= rms <= 1.0 and 0.0 <= zcr <= 1.0
        if len(samples) >= 8:
            s = np.asarray(samples[:8], dtype=np.float64)
            assert wins[0][0] == float(np.sqrt((s * s).mean()) / 32768.0)


class TestGraphProperties:
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=1,
            max_size=20,
        )
    )
    @settings(**_SETTINGS)
    def test_pagerank_mass_conserved_on_random_graphs(self, spark, raw):
        from dww_data_pipeline_spark.operators.graph import pagerank

        edges = [(a, b) for a, b in raw if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "src long, dst long")
        ranks = pagerank(df, iters=3)
        vals = [r["rank"] for r in ranks.collect()]
        assert all(v > 0 for v in vals)
        # dangling mass is redistributed, never lost
        assert abs(sum(vals) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# Round-6: d20 substring spans + ev17 journey patterns vs pure-Python
# sequential references on randomized inputs.
# ---------------------------------------------------------------------------

_D20_K = 5
# 3-symbol vocabulary makes cross-doc 5-gram collisions genuinely
# likely in 30-token docs (3^5 = 243 possible grams)
_DOCS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=30),
    min_size=2,
    max_size=5,
)


def _naive_spans(docs: list[list[str]]) -> list[tuple]:
    grams: dict[str, set[int]] = {}
    per_doc: dict[int, list[int]] = {}
    for did, toks in enumerate(docs):
        for i in range(len(toks) - _D20_K + 1):
            g = " ".join(toks[i : i + _D20_K])
            grams.setdefault(g, set()).add(did)
            per_doc.setdefault(did, []).append(i + 1)  # 1-based
    dup = {g for g, ds in grams.items() if len(ds) >= 2}
    out = []
    for did, toks in enumerate(docs):
        pos = [
            i + 1
            for i in range(len(toks) - _D20_K + 1)
            if " ".join(toks[i : i + _D20_K]) in dup
        ]
        island: list[int] = []
        for p in pos:
            if island and p - island[-1] <= _D20_K:
                island.append(p)
            else:
                if island:
                    out.append(
                        (
                            did,
                            island[0],
                            island[-1] + _D20_K - 1,
                            island[-1] + _D20_K - island[0],
                            len(island),
                        )
                    )
                island = [p]
        if island:
            out.append(
                (
                    did,
                    island[0],
                    island[-1] + _D20_K - 1,
                    island[-1] + _D20_K - island[0],
                    len(island),
                )
            )
    return sorted(out)


class TestSubstringSpansProperties:
    @settings(**_SETTINGS)
    @given(_DOCS)
    def test_matches_sequential_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import substring_spans

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in substring_spans(df).collect())
        assert got == _naive_spans(docs)


_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=9),  # ts bucket (ties likely)
        st.sampled_from(["view", "click", "purchase", "error", "signup"]),
    ),
    min_size=0,
    max_size=40,
)


class TestJourneyPatternProperties:
    @settings(**_SETTINGS)
    @given(_EVENTS)
    def test_matches_sequential_reference(self, spark, rows):
        import re
        from datetime import datetime, timezone

        from dww_data_pipeline_spark.plans.web_plans import journey_patterns

        data = [
            (
                u,
                datetime.fromtimestamp(86400 * ts, tz=timezone.utc).replace(
                    tzinfo=None
                ),
                i,
                et,
            )
            for i, (u, ts, et) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "user_id long, ts timestamp, event_id long, event_type string"
        )
        got = sorted(
            tuple(r)
            for r in journey_patterns(df)
            .select(
                "user_id",
                "journey",
                "journey_len",
                "n_view_to_purchase",
                "n_error_bursts",
                "ends_converted",
            )
            .collect()
        )
        by_user: dict[int, list[tuple]] = {}
        for u, ts, eid, et in data:
            by_user.setdefault(u, []).append((ts, eid, et))
        want = []
        for u, evs in by_user.items():
            j = "".join(et[0] for _, _, et in sorted(evs))
            want.append(
                (
                    u,
                    j,
                    len(j),
                    len(re.findall("v[^p]*p", j)),
                    len(re.findall("ee+", j)),
                    1 if j.endswith("p") else 0,
                )
            )
        assert got == sorted(want)


# ---------------------------------------------------------------------------
# Cross-ENGINE tokenizer parity fuzz: every text-family oracle in the
# repo rests on text_exprs.spark_tokens == text_exprs.SQL_TOKS. Fuzz
# the equivalence over the portable character domain, and PIN the two
# measured dialect boundaries outside it (probed, not assumed).
# ---------------------------------------------------------------------------

_PORTABLE = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    ".,!?()[]'\"-_:;/" + " \t\n\r\x0c" + "éüßàñÉÜ"
)


class TestTokenizerCrossEngineParity:
    @settings(**_SETTINGS)
    @given(
        st.lists(
            st.text(alphabet=_PORTABLE, min_size=0, max_size=40),
            min_size=1,
            max_size=8,
        )
    )
    def test_portable_domain_parity(self, spark, texts):
        import duckdb

        from dww_data_pipeline_spark.plans.text_exprs import (
            SQL_TOKS,
            spark_tokens,
        )

        df = spark.createDataFrame(
            list(enumerate(texts)), "i long, text string"
        )
        srows = {
            r["i"]: list(r["t"])
            for r in df.select(
                "i", spark_tokens(F.col("text")).alias("t")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t(i BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
        drows = {
            i: list(v)
            for i, v in con.execute(f"SELECT i, {SQL_TOKS} FROM t").fetchall()
        }
        con.close()
        assert srows == drows

    def test_known_dialect_boundaries_still_diverge(self, spark):
        """The two measured divergences OUTSIDE the portable domain —
        pinned so a silent engine upgrade that moves the boundary is
        noticed: Java \\s includes \\x0B (vertical tab), RE2's does
        not; Java lower('İ') is 'i'+combining-dot (2 codepoints),
        DuckDB's is plain 'i'. Corpus text never contains either
        (TESTDATA is ASCII); oracles stay exact on real data."""
        import duckdb

        from dww_data_pipeline_spark.plans.text_exprs import (
            SQL_TOKS,
            spark_tokens,
        )

        cases = ["vt\x0bsep", "İstanbul"]
        df = spark.createDataFrame(
            list(enumerate(cases)), "i long, text string"
        )
        srows = {
            r["i"]: list(r["t"])
            for r in df.select(
                "i", spark_tokens(F.col("text")).alias("t")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t(i BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
        drows = {
            i: list(v)
            for i, v in con.execute(f"SELECT i, {SQL_TOKS} FROM t").fetchall()
        }
        con.close()
        assert srows[0] == ["vt", "sep"] and drows[0] == ["vt\x0bsep"]
        assert srows[1] != drows[1]


# ---------------------------------------------------------------------------
# Round-6 centerpiece: the incremental-dedup decision core (d11/st13)
# vs a from-scratch pure-Python reference (md5 minhash chain included).
# ---------------------------------------------------------------------------

_DEDUP_DOC = st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=12)


def _py_toks(t: str) -> list[str]:
    import re as _re

    return [x for x in _re.split(r"\s+", t.lower().strip()) if x]


def _py_decisions(batch: list[tuple], corpus: list[tuple]) -> list[tuple]:
    import hashlib

    def fp(t):
        return hashlib.md5(" ".join(_py_toks(t)[:10]).encode()).hexdigest()

    def shingles(t):
        tk = _py_toks(t)
        return [" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)]

    def bands(t):
        sh = shingles(t)
        if not sh:
            return []
        ms = [
            min(
                hashlib.md5(f"{i // 4}|{s}".encode()).hexdigest()[
                    8 * (i % 4) : 8 * (i % 4) + 8
                ]
                for s in sh
            )
            for i in range(8)
        ]
        return [(b, ms[2 * b] + "," + ms[2 * b + 1]) for b in range(4)]

    corpus_fp: dict[str, int] = {}
    for _, t in corpus:
        corpus_fp[fp(t)] = corpus_fp.get(fp(t), 0) + 1
    corpus_bands: dict[tuple, set[int]] = {}
    for cid, t in corpus:
        for bb in bands(t):
            corpus_bands.setdefault(bb, set()).add(cid)
    corpus_sh = {cid: set(shingles(t)) for cid, t in corpus if shingles(t)}

    out = []
    for bid, t in batch:
        n_exact = corpus_fp.get(fp(t), 0)
        cands: set[int] = set()
        for bb in bands(t):
            cands |= corpus_bands.get(bb, set())
        sh_b = set(shingles(t))
        n_near = 0
        if sh_b:
            for cid in cands:
                sh_c = corpus_sh.get(cid)
                if not sh_c:
                    continue
                inter = len(sh_b & sh_c)
                union = len(sh_b | sh_c)
                if inter / max(union, 1) >= 0.2:
                    n_near += 1
        decision = (
            "exact_dup" if n_exact > 0 else ("near_dup" if n_near > 0 else "keep")
        )
        out.append((bid, decision, n_exact if n_exact > 0 else n_near))
    return sorted(out)


class TestIncrementalDedupProperties:
    @settings(**_SETTINGS)
    @given(
        st.lists(_DEDUP_DOC, min_size=1, max_size=4),
        st.lists(_DEDUP_DOC, min_size=2, max_size=6),
    )
    def test_matches_sequential_reference(self, spark, batch_t, corpus_t):
        from dww_data_pipeline_spark.plans.dedup_plans import (
            incremental_decisions,
        )

        batch = [(1000 + i, " ".join(t)) for i, t in enumerate(batch_t)]
        corpus = [(i, " ".join(t)) for i, t in enumerate(corpus_t)]
        bdf = spark.createDataFrame(batch, "doc_id long, text string")
        cdf = spark.createDataFrame(corpus, "doc_id long, text string")
        got = sorted(
            tuple(r) for r in incremental_decisions(bdf, cdf).collect()
        )
        assert got == _py_decisions(batch, corpus)


# ---------------------------------------------------------------------------
# LM-gate scoring core (st15): randomized corpus/feed splits over a
# tiny vocabulary force every OOV branch — unseen bigrams of seen
# words, unseen continuation words, fully-unseen contexts, empty
# corpora — against a from-scratch Python KN scorer with the same
# documented backoff.
# ---------------------------------------------------------------------------

_LM_TOKS = st.lists(
    st.sampled_from(["aa", "bb", "cc", "zz"]), min_size=0, max_size=12
)
_LM_CORPUS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=12),
    min_size=0,
    max_size=8,
)
_LM_FEED = st.lists(_LM_TOKS, min_size=1, max_size=6)


class TestLmScoreProperties:
    @settings(**_SETTINGS)
    @given(_LM_CORPUS, _LM_FEED)
    def test_matches_sequential_kn_with_oov(self, spark, corpus, feed):
        import math

        from dww_data_pipeline_spark.plans.curation_plans import (
            lm_model,
            lm_score,
        )

        cdf = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
            or [(0, "")],
            "doc_id long, text string",
        )
        fdf = spark.createDataFrame(
            [(100 + i, " ".join(toks)) for i, toks in enumerate(feed)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["avg_logp"])
            for r in lm_score(fdf, lm_model(cdf)).collect()
        }

        # from-scratch reference with the documented backoff
        c2: dict[tuple[str, str], int] = {}
        for toks in corpus:
            for a, b in zip(toks, toks[1:]):
                c2[(a, b)] = c2.get((a, b), 0) + 1
        c1: dict[str, int] = {}
        n1p: dict[str, int] = {}
        nc: dict[str, int] = {}
        for (a, b), n in c2.items():
            c1[a] = c1.get(a, 0) + n
            n1p[a] = n1p.get(a, 0) + 1
            nc[b] = nc.get(b, 0) + 1
        nbb = len(c2)
        v = len({t for toks in corpus for t in toks})
        want = {}
        for i, toks in enumerate(feed):
            pairs = list(zip(toks, toks[1:]))
            if not pairs:
                continue
            s, oov = 0.0, 0
            for a, b in pairs:
                pc = (nc.get(b, 0) + 0.5) / (nbb + 0.5 * (v + 1))
                if a in c1:
                    p = (
                        max(c2.get((a, b), 0) - 0.75, 0.0)
                        + 0.75 * n1p[a] * pc
                    ) / c1[a]
                else:
                    p = pc
                s += math.log(p)
                if (a, b) not in c2:
                    oov += 1
            want[100 + i] = (len(pairs), oov, s / len(pairs))

        assert set(got) == set(want)
        for k, (n, oov, mean) in want.items():
            assert got[k][0] == n and got[k][1] == oov, k
            assert abs(got[k][2] - mean) <= 1.5e-6, k


# ---------------------------------------------------------------------------
# CDC chunking core (d23): randomized token lists over a 2-symbol
# vocabulary force pathological chunk collisions (the same chunk
# repeating inside a doc, in both versions, empty docs, single
# tokens) against a pure sequential chunker.
# ---------------------------------------------------------------------------

_CDC_DOCS = st.lists(
    st.lists(st.sampled_from(["x", "y"]), min_size=0, max_size=24),
    min_size=1,
    max_size=5,
)


class TestCdcChunkingProperties:
    @staticmethod
    def _sets(toks):
        import hashlib

        def h32(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

        cdc, cur, prev = [], [], "^"
        for t in toks:
            cur.append(t)
            if h32(prev + " " + t) % 8 == 0:
                cdc.append(" ".join(cur))
                cur = []
            prev = t
        if cur:
            cdc.append(" ".join(cur))
        fix = [
            " ".join(toks[i : i + 8]) for i in range(0, len(toks), 8)
        ]
        md5 = lambda c: hashlib.md5(c.encode()).hexdigest()  # noqa: E731
        return {md5(c) for c in cdc}, {md5(c) for c in fix}

    @settings(**_SETTINGS)
    @given(_CDC_DOCS)
    def test_matches_sequential_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.curation_plans import (
            cdc_chunk_counts,
        )

        df = spark.createDataFrame(
            [(i, toks) for i, toks in enumerate(docs)],
            "doc_id long, t array<string>",
        )
        got = {
            r["doc_id"]: (
                r["n_cdc_orig"], r["n_cdc_shift"], r["n_cdc_shared"],
                r["n_fix_orig"], r["n_fix_shift"], r["n_fix_shared"],
            )
            for r in cdc_chunk_counts(df).collect()
        }
        want = {}
        for i, toks in enumerate(docs):
            co, fo = self._sets(toks)
            cs, fs = self._sets(["xq0"] + toks)
            want[i] = (
                len(co), len(cs), len(co & cs),
                len(fo), len(fs), len(fo & fs),
            )
        assert got == want


class TestSpanScrubProperties:
    @settings(**_SETTINGS)
    @given(_DOCS)
    def test_matches_sequential_reference(self, spark, docs):
        """d25's scrub over randomized small-vocabulary corpora equals
        a pure-Python rewrite built from the naive span reference:
        drop every 1-based token position covered by a span, keep the
        rest in order."""
        from dww_data_pipeline_spark.plans.dedup_plans import span_scrub

        spans_by_doc: dict[int, list[tuple[int, int]]] = {}
        for did, s, e, _, _ in _naive_spans(docs):
            spans_by_doc.setdefault(did, []).append((s, e))

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in span_scrub(df).collect()}
        assert set(got) == set(range(len(docs)))
        for did, toks in enumerate(docs):
            ss = spans_by_doc.get(did, [])
            want_kept = [
                t
                for i, t in enumerate(toks, start=1)
                if not any(s <= i <= e for s, e in ss)
            ]
            r = got[did]
            assert r["n_tokens"] == len(toks)
            assert r["n_spans"] == len(ss)
            assert r["n_removed"] == len(toks) - len(want_kept)
            assert r["scrubbed_text"] == " ".join(want_kept)


class TestRecurrenceCrossEngineParity:
    """The ev18/ev19 recurrence discipline, fuzzed: the identical
    left-to-right fold must produce BIT-IDENTICAL results on DuckDB
    (the oracle's recursive-CTE walk) and a pure-Python fold, on
    hostile random series the 30-day fixture never covers (spikes,
    zeros, long runs). No Spark here — the Spark==DuckDB leg is
    pinned by diffcheck on the real tables; this pins the walk's
    arithmetic itself, including the DuckDB v1.0 struct-state
    list_reduce hazard the oracle deliberately avoids."""

    @given(
        ys=st.lists(
            st.integers(min_value=0, max_value=10_000), min_size=2, max_size=45
        )
    )
    @settings(max_examples=25, deadline=None)
    def test_holt_walk_matches_python(self, ys):
        import duckdb

        lit = "[" + ", ".join(f"CAST({y} AS DOUBLE)" for y in ys) + "]"
        q = f"""
        WITH RECURSIVE ser AS (SELECT {lit} AS ys),
        walk(i, l, b) AS (
          SELECT 2, ys[1], ys[2] - ys[1] FROM ser
          UNION ALL
          SELECT w.i + 1,
                 (s.ys[w.i + 1] + w.l + w.b) * 0.5,
                 (((s.ys[w.i + 1] + w.l + w.b) * 0.5) - w.l + w.b) * 0.5
          FROM walk w, ser s WHERE w.i < len(s.ys)
        )
        SELECT l, b FROM walk WHERE i = {len(ys)}
        """
        dl, db = duckdb.connect().execute(q).fetchone()
        level, trend = float(ys[0]), float(ys[1]) - float(ys[0])
        for y in [float(v) for v in ys[2:]]:
            lnew = (y + level + trend) * 0.5
            trend = (lnew - level + trend) * 0.5
            level = lnew
        assert (dl, db) == (level, trend)  # bit-identical, no tolerance

    @given(
        ys=st.lists(
            st.integers(min_value=0, max_value=10_000), min_size=1, max_size=45
        )
    )
    @settings(max_examples=25, deadline=None)
    def test_cusum_walk_matches_python(self, ys):
        import duckdb

        d, t = len(ys), sum(ys)
        lit = "[" + ", ".join(f"CAST({y} AS BIGINT)" for y in ys) + "]"
        q = f"""
        WITH RECURSIVE ser AS (SELECT {lit} AS ys),
        walk(i, sp, sn) AS (
          SELECT 1,
                 GREATEST(CAST(0 AS BIGINT), 20 * {d} * ys[1] - 21 * {t}),
                 GREATEST(CAST(0 AS BIGINT), 19 * {t} - 20 * {d} * ys[1])
          FROM ser
          UNION ALL
          SELECT w.i + 1,
                 GREATEST(CAST(0 AS BIGINT), w.sp + 20 * {d} * s.ys[w.i + 1] - 21 * {t}),
                 GREATEST(CAST(0 AS BIGINT), w.sn + 19 * {t} - 20 * {d} * s.ys[w.i + 1])
          FROM walk w, ser s WHERE w.i < {d}
        )
        SELECT i, sp, sn FROM walk
        """
        got = sorted(duckdb.connect().execute(q).fetchall())
        sp = sn = 0
        want = []
        for i, y in enumerate(ys, 1):
            sp = max(0, sp + 20 * d * y - 21 * t)
            sn = max(0, sn + 19 * t - 20 * d * y)
            want.append((i, sp, sn))
        assert got == want


# ---------------------------------------------------------------------------
# Round-9: d26 suffix-array exact-substring spans vs a pure-Python
# suffix array (sorted suffixes + SA-neighbor LCP — a position's
# length-L window is duplicated iff an SA-adjacent suffix shares an
# LCP >= L, the textbook characterization; entirely independent of
# the engine's prefix-doubling construction).
# ---------------------------------------------------------------------------

# 2-symbol vocabulary makes exact length-6 repeats genuinely likely in
# 40-token docs (2^6 = 64 possible windows), including WITHIN-doc
# repeats — d26 counts those too (the published ExactSubstr form)
_D26_DOCS = st.lists(
    st.lists(st.sampled_from(["aa", "bb"]), min_size=0, max_size=40),
    min_size=2,
    max_size=5,
)


def _sa_ref_spans(docs: list[list[str]], L: int) -> list[tuple]:
    sufs = [
        (tuple(toks[i:]), did, i + 1)
        for did, toks in enumerate(docs)
        for i in range(len(toks))
    ]
    sufs.sort()

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    dup: set[tuple[int, int]] = set()
    for k in range(len(sufs) - 1):
        if lcp(sufs[k][0], sufs[k + 1][0]) >= L:
            dup.add((sufs[k][1], sufs[k][2]))
            dup.add((sufs[k + 1][1], sufs[k + 1][2]))
    out = []
    for did in sorted({d for d, _ in dup}):
        island: list[int] = []
        for p in sorted(p for d, p in dup if d == did):
            if island and p - island[-1] <= L:
                island.append(p)
            else:
                if island:
                    out.append(
                        (did, island[0], island[-1] + L - 1,
                         island[-1] + L - island[0], len(island))
                    )
                island = [p]
        if island:
            out.append(
                (did, island[0], island[-1] + L - 1,
                 island[-1] + L - island[0], len(island))
            )
    return sorted(out)


class TestSuffixArraySpansProperties:
    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_matches_pure_python_suffix_array(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=6).collect())
        assert got == _sa_ref_spans(docs, 6)

    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_power_of_two_window(self, spark, docs):
        """L = 4 exercises the half == 0 path (window == one rank)."""
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=4).collect())
        assert got == _sa_ref_spans(docs, 4)

    def test_agrees_with_d20_on_shared_block(self, spark):
        """d26 vs d20 on the same corpus: tokens are unique WITHIN each
        doc (so every duplicate is cross-doc and both operators see it)
        with a 60-token block shared at different offsets.  d26 (L=50)
        must report exactly the shared block; every d26 span must lie
        inside a d20 (K=5) island, since each 5-gram of a cross-doc
        50-token match is itself cross-doc duplicated."""
        from dww_data_pipeline_spark.plans.dedup_plans import (
            substring_spans,
            suffix_array_spans,
        )

        shared = [f"u{i}" for i in range(60)]
        doc0 = [f"a{i}" for i in range(20)] + shared + [f"b{i}" for i in range(20)]
        doc1 = [f"c{i}" for i in range(30)] + shared + [f"d{i}" for i in range(10)]
        df = spark.createDataFrame(
            [(0, " ".join(doc0)), (1, " ".join(doc1))],
            "doc_id long, text string",
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in suffix_array_spans(df, L=50).collect()
        )
        # shared block occupies positions 21..80 in doc0, 31..90 in doc1
        assert got == [(0, 21, 80), (1, 31, 90)]
        d20 = [
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in substring_spans(df).collect()
        ]
        for did, s, e in got:
            assert any(
                d == did and s0 <= s and e0 >= e for d, s0, e0 in d20
            ), f"d26 span ({did},{s},{e}) not contained in any d20 span {d20}"


def _ref_exactsubstr_scrub(docs: list[list[str]], L: int) -> list[tuple]:
    """Sequential reference for d27: per duplicated length-L window
    class, keep the min-(doc, pos) occurrence, remove every token
    covered by the other occurrences; islands merge at gap <= L."""
    wins: dict[tuple, list[tuple[int, int]]] = {}
    for did, toks in enumerate(docs):
        for i in range(len(toks) - L + 1):
            wins.setdefault(tuple(toks[i : i + L]), []).append((did, i + 1))
    nk: dict[int, list[int]] = {did: [] for did in range(len(docs))}
    for occ in wins.values():
        if len(occ) >= 2:
            for did, p in sorted(occ)[1:]:
                nk[did].append(p)
    out = []
    for did, toks in enumerate(docs):
        removed: set[int] = set()
        n_spans = 0
        prev = None
        for p in sorted(set(nk[did])):
            if prev is None or p - prev > L:
                n_spans += 1
            removed.update(range(p, p + L))
            prev = p
        kept = [t for i, t in enumerate(toks, start=1) if i not in removed]
        out.append(
            (did, len(toks), len(toks) - len(kept), n_spans, " ".join(kept))
        )
    return sorted(out)


class TestExactSubstrScrubProperties:
    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_matches_sequential_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import exactsubstr_scrub

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in exactsubstr_scrub(df, L=6).collect())
        assert got == _ref_exactsubstr_scrub(docs, 6)

    def test_keeper_survives_whole_doc_duplicates(self, spark):
        """Three identical docs: the lowest doc_id keeps its text, the
        other two scrub to empty — 'all but one occurrence' exactly."""
        from dww_data_pipeline_spark.plans.dedup_plans import exactsubstr_scrub

        text = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame(
            [(7, text), (3, text), (9, text)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in exactsubstr_scrub(df, L=50).collect()}
        assert rows[3]["n_removed"] == 0 and rows[3]["scrubbed_text"] == text
        for did in (7, 9):
            assert rows[did]["n_removed"] == 60
            assert rows[did]["scrubbed_text"] == ""


class TestSuffixSpansHostileSkew:
    def test_one_boilerplate_class_floods_every_doc(self, spark):
        """Hostile skew for the prefix-doubling class aggregation: ONE
        16-token boilerplate block opens every document, so a single
        rank class holds a constant fraction of all positions (the
        AQE-skew-join scenario d26's header documents).  The operator
        must still produce exactly the reference spans — correctness
        under skew, not just completion."""
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        boiler = [f"b{i}" for i in range(16)]
        docs = []
        for d in range(40):
            # unique tail per doc so only the boilerplate duplicates
            docs.append(boiler + [f"u{d}_{i}" for i in range(20)])
        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=8).collect())
        assert got == _sa_ref_spans(docs, 8)
        # the duplicated region is exactly the 16-token boilerplate:
        # windows at pos 1..9 (width 8), merged span [1, 16], per doc
        assert got == [(d, 1, 16, 16, 9) for d in range(40)]


class TestSuffixSpansGeneralL:
    """_d26_schedule claims general L but round-9 tests pinned L=50
    only (round-9 verdict #4).  L=5 and L=13 exercise base-4
    schedules with overlapping covering offsets ([0,1] and [0,4,8,9]);
    L=100 exercises a THREE-super-round schedule (base 64, offsets
    [0,36] — the covering block overlap just above a power of 4);
    exact-length-L docs pin the one-window boundary."""

    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_L5_matches_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=5).collect())
        assert got == _sa_ref_spans(docs, 5)

    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_L13_matches_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=13).collect())
        assert got == _sa_ref_spans(docs, 13)

    def test_L100_three_round_schedule(self, spark):
        """Deterministic corpus big enough for L=100: a 120-token
        block shared at different offsets plus an exact-length-100
        duplicated pair (the doc == one window edge) and one clean
        doc.  Checked against the pure-Python suffix array."""
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        shared = [f"s{i}" for i in range(120)]
        exact = [f"e{i}" for i in range(100)]
        docs = [
            [f"a{i}" for i in range(15)] + shared + [f"b{i}" for i in range(7)],
            [f"c{i}" for i in range(40)] + shared,
            exact,
            exact,
            [f"z{i}" for i in range(110)],  # long but unique: no spans
        ]
        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=100).collect())
        assert got == _sa_ref_spans(docs, 100)
        docs_with_spans = {r[0] for r in got}
        assert docs_with_spans == {0, 1, 2, 3}
        # the exact-length docs are one whole-doc window each
        assert (2, 1, 100, 100, 1) in got and (3, 1, 100, 100, 1) in got

    def test_exact_length_L_doc_single_window(self, spark):
        """A doc of exactly length L duplicated elsewhere yields the
        single span (1, L) with one window — the pos+L-1 <= n
        boundary at equality, for an overlapping-offsets L."""
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        toks = [f"w{i}" for i in range(13)]
        df = spark.createDataFrame(
            [
                (0, " ".join(toks)),
                (1, " ".join([f"p{i}" for i in range(5)] + toks)),
                (2, " ".join(f"q{i}" for i in range(13))),
            ],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in suffix_array_spans(df, L=13).collect())
        assert got == [(0, 1, 13, 13, 1), (1, 6, 18, 13, 1)]


class TestExactSubstrScrubGeneralL:
    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_L5_matches_sequential_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import exactsubstr_scrub

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in exactsubstr_scrub(df, L=5).collect())
        assert got == _ref_exactsubstr_scrub(docs, 5)

    @settings(**_SETTINGS)
    @given(_D26_DOCS)
    def test_L13_matches_sequential_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import exactsubstr_scrub

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in exactsubstr_scrub(df, L=13).collect())
        assert got == _ref_exactsubstr_scrub(docs, 13)

    def test_L100_keeper_discipline(self, spark):
        """Three-super-round scrub: the lowest-(doc, pos) occurrence
        of the shared 120-token block keeps its text; the other
        occurrence scrubs the covered positions; the exact-length
        duplicate pair keeps only the lower doc_id."""
        from dww_data_pipeline_spark.plans.dedup_plans import exactsubstr_scrub

        shared = [f"s{i}" for i in range(120)]
        exact = [f"e{i}" for i in range(100)]
        docs = [
            [f"a{i}" for i in range(15)] + shared,
            [f"c{i}" for i in range(40)] + shared + [f"d{i}" for i in range(5)],
            exact,
            exact,
        ]
        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in exactsubstr_scrub(df, L=100).collect())
        assert got == _ref_exactsubstr_scrub(docs, 100)
        rows = {r[0]: r for r in got}
        # doc0 holds the min-(doc,pos) occurrence: nothing removed
        assert rows[0][2] == 0
        # doc1 loses exactly the shared block, tail survives
        assert rows[1][2] == 120 and rows[1][4].startswith("c0 ")
        # exact pair: doc2 keeps, doc3 scrubs to empty
        assert rows[2][2] == 0 and rows[3][2] == 100 and rows[3][4] == ""


class TestGidPackingGuardBoundary:
    """The d26 gid packing domain is doc_id <= 2^39-2: at 2^39-1 with a
    maximal doc (n = 2^24) the gid doc_id*2^24 + pos reaches exactly
    2^63 and would wrap negative in non-ANSI Spark (round-9 advice)."""

    def test_max_in_domain_doc_id_computes(self, spark):
        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        text = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame(
            [((1 << 39) - 2, text), (0, text)], "doc_id long, text string"
        )
        rows = suffix_array_spans(df, L=50).collect()
        # both docs share every window — two full-coverage span rows
        assert sorted(r["doc_id"] for r in rows) == [0, (1 << 39) - 2]

    def test_out_of_domain_doc_id_raises(self, spark):
        import pytest

        from dww_data_pipeline_spark.plans.dedup_plans import suffix_array_spans

        text = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame(
            [((1 << 39) - 1, text), (0, text)], "doc_id long, text string"
        )
        with pytest.raises(Exception, match="d26 gid packing"):
            suffix_array_spans(df, L=50).collect()


# ---------------------------------------------------------------------------
# t37 — Gopher repetition rule set vs a pure-Python reference.  The
# synthetic parquet corpus has no within-doc >=5-gram repeats, so the
# oracle differential only exercises the top_{2,3,4} path; the dup_*
# coverage path gets its non-degenerate evidence HERE, on corpora
# drawn from a 4-word alphabet (dense repeats) plus deterministic
# hostile shapes (exact tandem repeats, doc shorter than n, empty-ish
# docs).
# ---------------------------------------------------------------------------

_T37_WORDS = ["aa", "b", "ccc", "dd"]
_T37_DOCS = st.lists(
    st.lists(st.sampled_from(_T37_WORDS), min_size=0, max_size=40),
    min_size=1,
    max_size=8,
)


def _round6_half_up(x: float) -> float:
    """Spark/DuckDB ROUND semantics (HALF_UP), not Python banker's."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _gopher_ref(docs):
    """Pure-Python t37: the module-header contract, independently."""
    from collections import Counter

    from dww_data_pipeline_spark.plans.text_plans import _T37_DUP, _T37_TOP

    out = {}
    for did, toks in docs:
        T = sum(len(x) for x in toks)
        sig = []
        keep = T > 0
        for n, thr in sorted(_T37_TOP.items()):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if grams and T:
                c = Counter(grams)
                best = sorted(
                    c.items(),
                    key=lambda kv: (-kv[1], -(len(kv[0]) - (n - 1)), kv[0]),
                )[0]
                frac = _round6_half_up(
                    best[1] * (len(best[0]) - (n - 1)) / T
                )
            else:
                frac = 0.0
            sig.append(frac)
            keep = keep and frac <= thr
        for n, thr in sorted(_T37_DUP.items()):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if c[g] >= 2:
                    covered.update(range(i, i + n))
            frac = (
                _round6_half_up(sum(len(toks[p]) for p in covered) / T)
                if T
                else 0.0
            )
            sig.append(frac)
            keep = keep and frac <= thr
        out[did] = tuple(sig) + (1 if keep else 0,)
    return out


class TestGopherRepetition:
    @settings(**_SETTINGS)
    @given(_T37_DOCS)
    def test_matches_python_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.text_plans import gopher_repetition

        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: tuple(r)[1:] for r in gopher_repetition(df).collect()
        }
        assert got == _gopher_ref(list(enumerate(docs)))

    def test_tandem_repeat_floods_every_dup_signal(self, spark):
        """A doc that is one 5-token phrase repeated 8x: every dup_n
        with n <= 10 covers ALL positions (any 10-gram repeats too),
        so all six coverage fractions are exactly 1.0 and the doc is
        dropped; a unique-token doc of the same length passes."""
        from dww_data_pipeline_spark.plans.text_plans import gopher_repetition

        phrase = ["p0", "p1", "p2", "p3", "p4"]
        docs = [(0, " ".join(phrase * 8)), (1, " ".join(f"u{i}" for i in range(40)))]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
        for n in (5, 6, 7, 8, 9, 10):
            assert got[0][f"dup_{n}gram_frac"] == 1.0
            assert got[1][f"dup_{n}gram_frac"] == 0.0
        assert got[0]["keep"] == 0 and got[1]["keep"] == 1

    def test_docs_shorter_than_n_score_zero(self, spark):
        from dww_data_pipeline_spark.plans.text_plans import gopher_repetition

        df = spark.createDataFrame(
            [(0, "one"), (1, "one two three four")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
        assert got[0]["top_2gram_frac"] == 0.0
        assert got[0]["dup_5gram_frac"] == 0.0
        assert got[1]["dup_5gram_frac"] == 0.0  # only 4 tokens
        assert got[0]["keep"] == 1

    def test_empty_doc_oracle_parity(self, spark):
        """r10 advice (medium): DuckDB's list_sum over an empty token
        list is NULL, so an empty / whitespace-only / NULL-text doc
        used to emit NULL fracs oracle-side while the engine emits the
        contract's 0.0 — a latent differential the real corpus never
        exercises (it has no such doc).  Pin the oracle's COALESCE +
        CASE guard differentially on a synthetic corpus that does."""
        import duckdb

        from dww_data_pipeline_spark.plans.text_plans import (
            _t37_oracle,
            gopher_repetition,
        )

        docs = [(0, ""), (1, "   "), (2, None),
                (3, "a b c a b c a b c a b")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: tuple(r)[1:] for r in gopher_repetition(df).collect()
        }
        for i in (0, 1, 2):
            assert got[i] == (0.0,) * 9 + (0,)  # the stated 0.0 contract
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        want = {
            row[0]: tuple(row)[1:]
            for row in con.execute(_t37_oracle()).fetchall()
        }
        con.close()
        assert got == want


# ---------------------------------------------------------------------------
# t38 — temperature mixture: the exact integer rate math vs a
# pure-Python fold (sqrt + floor-to-micro + integer DIV + the u32
# hash admission), on a skewed synthetic corpus where head/tail
# re-weighting actually moves the rates.
# ---------------------------------------------------------------------------


def _t38_ref(lang_counts: dict[str, int]):
    import hashlib
    import math

    s = {
        lang: math.floor(math.sqrt(float(n)) * 1000000)
        for lang, n in lang_counts.items()
    }
    s_total = sum(s.values())
    n_total = sum(lang_counts.values())
    out = {}
    for lang, n in lang_counts.items():
        q = (s[lang] * 1000000) // s_total
        rate = min(1000000, (q * (n_total // 2)) // n)
        out[lang] = (n, q, rate)
    return out, n_total


class TestTemperatureMixture:
    def test_rate_math_matches_python(self, spark):
        import hashlib

        from dww_data_pipeline_spark.plans.pipeline_ext import temperature_mixture

        counts = {"head": 400, "mid": 60, "tail": 9}
        rows, did = [], 0
        for lang, n in counts.items():
            for _ in range(n):
                rows.append((did, lang))
                did += 1
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = {r["lang"]: r for r in temperature_mixture(df).collect()}
        ref, _ = _t38_ref(counts)
        for lang, (n, q, rate) in ref.items():
            assert got[lang]["n_docs"] == n
            assert got[lang]["q_micro"] == q
            assert got[lang]["rate_micro"] == rate
            n_adm = sum(
                1
                for d, l in rows
                if l == lang
                and int(hashlib.md5(f"t38|{d}".encode()).hexdigest()[:8], 16)
                * 1000000
                < rate * 4294967296
            )
            assert got[lang]["n_sampled"] == n_adm

    def test_tail_up_head_down(self, spark):
        """The published smoothing property: the tail language's
        admission rate strictly exceeds the head's, and the head's
        mixture share shrinks vs its corpus share."""
        from dww_data_pipeline_spark.plans.pipeline_ext import temperature_mixture

        rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = {r["lang"]: r for r in temperature_mixture(df).collect()}
        assert got["tail"]["rate_micro"] > got["head"]["rate_micro"]
        assert got["head"]["q_micro"] < 900_000  # corpus share was 90%
        assert got["tail"]["q_micro"] > 100_000


# ---------------------------------------------------------------------------
# s21 — graph-walk ANN vs a pure-Python walk of the same contract
# (entry = MIN(vec_id), 3 rounds, beam 8, rank by rounded-cos DESC
# then vec_id), on explicit small graphs where the greedy walk's
# partial reachability actually matters (chain graphs: 3 rounds from
# vertex 0 cannot reach the far end — the bounded-round semantics,
# not an approximation bug).
# ---------------------------------------------------------------------------


def _s21_ref(vectors, edges, query_ids, rounds=3, beam=8, k=5):
    import math

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot = dot + float(x) * float(y)
        na = 0.0
        for x in a:
            na = na + float(x) * float(x)
        nb = 0.0
        for y in b:
            nb = nb + float(y) * float(y)
        return _round6_half_up(dot / (math.sqrt(na) * math.sqrt(nb)))

    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    entry = min(vectors)
    out = []
    for qid in query_ids:
        qv = vectors[qid]
        beam_set = [entry]
        ranked = []
        for _ in range(rounds):
            cand = set(beam_set)
            for v in beam_set:
                cand.update(adj.get(v, []))
            ranked = sorted(
                ((cos(vectors[v], qv), v) for v in cand),
                key=lambda cv: (-cv[0], cv[1]),
            )
            beam_set = [v for _, v in ranked[:beam]]
        for rank, (c, v) in enumerate(ranked[:k], start=1):
            out.append((qid, v, c, rank))
    return sorted(out)


class TestGraphAnnWalk:
    def _run(self, spark, vectors, edges, query_ids):
        from dww_data_pipeline_spark.plans.dedup_plans import graph_ann_walk

        e = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vectors.items()],
            "vec_id long, embedding array<float>",
        )
        ed = spark.createDataFrame(list(edges), "src long, dst long")
        got = sorted(
            (r["query_id"], r["vec_id"], r["cos"], r["rank"])
            for r in graph_ann_walk(e, ed, query_ids).collect()
        )
        # float32 ingestion: the reference must see the same float32-
        # truncated values Spark's array<float> stores
        import struct

        f32 = {
            i: [struct.unpack("f", struct.pack("f", float(x)))[0] for x in v]
            for i, v in vectors.items()
        }
        assert got == _s21_ref(f32, edges, query_ids)

    def test_chain_graph_bounded_reach(self, spark):
        """v_i on a slow arc so each vertex's neighbors are adjacent
        indices; query = far end.  3 rounds from vertex 0 reach only
        part of the chain — the walk must return the best REACHED
        set, exactly as the python walk does."""
        import math

        n = 14
        vectors = {
            i: [math.cos(i * 0.18), math.sin(i * 0.18), 1.0] for i in range(n)
        }
        edges = set()
        for i in range(n):
            for j in (i - 1, i + 1, i + 2):
                if 0 <= j < n and j != i:
                    edges.add((i, j))
        self._run(spark, vectors, edges, (n - 1,))

    def test_disconnected_island_unreachable(self, spark):
        """An isolated clique holds the true nearest neighbors; the
        walk can only ever return vertices from the entry component."""
        vectors = {
            0: [1.0, 0.0],
            1: [0.9, 0.1],
            2: [0.8, 0.2],
            # island — closest to the query but unreachable
            10: [0.0, 1.0],
            11: [0.05, 1.0],
        }
        edges = {(0, 1), (1, 0), (1, 2), (2, 1), (10, 11), (11, 10)}
        self._run(spark, vectors, edges, (10,))

    def test_hub_graph_full_reach(self, spark):
        """Star topology: everything is 2 hops from the entry, so the
        walk's top-5 equals the brute-force top-5."""
        vectors = {i: [1.0 + 0.1 * i, float(i % 3)] for i in range(9)}
        edges = set()
        for i in range(1, 9):
            edges.add((0, i))
            edges.add((i, 0))
        self._run(spark, vectors, edges, (4,))


# ---------------------------------------------------------------------------
# d28 — prefix-filtered EXACT similarity join vs brute-force Python
# Jaccard.  The prefix-filtering lemma must lose NOTHING: every pair
# with shingle-set Jaccard >= 1/2 appears, none below does, exact
# intersection/size integers intact — on corpora dense enough that
# prefixes actually prune (small alphabet, heavy overlap).
# ---------------------------------------------------------------------------

_D28_DOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=24),
    min_size=2,
    max_size=10,
)


def _d28_ref(docs, k=3):
    out = []
    sets = {
        i: {
            " ".join(toks[j : j + k])
            for j in range(len(toks) - k + 1)
        }
        for i, toks in enumerate(docs)
    }
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                ni = len(sets[a] & sets[b])
                na, nb = len(sets[a]), len(sets[b])
                if 3 * ni >= na + nb and ni > 0:
                    out.append(
                        (a, b, ni, na, nb,
                         _round6_half_up(ni / (na + nb - ni)))
                    )
    return sorted(out)


class TestPPJoinExact:
    @settings(**_SETTINGS)
    @given(_D28_DOCS)
    def test_matches_brute_force(self, spark, docs):
        from dww_data_pipeline_spark.plans.dedup_plans import ppjoin_exact

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = sorted(tuple(r) for r in ppjoin_exact(df).collect())
        assert got == _d28_ref(docs)

    def test_equals_d18_truth_set(self, spark, sf_dir):
        """d28's claim verbatim: the prefix-filtered join reproduces
        d18's brute-force truth set (same shingles, same threshold)
        on the real corpus."""
        from dww_data_pipeline_spark.plans.dedup_plans import ppjoin_exact
        from dww_data_pipeline_spark.plans.text_exprs import exploded_kgrams
        from dww_data_pipeline_spark.sources.catalog import load_table

        d = load_table(spark, sf_dir, "documents")
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in ppjoin_exact(d).collect()
        )
        sh = (
            exploded_kgrams(d.select("doc_id", "text"), "text", 3,
                            carry=("doc_id",), out="s")
            .select("doc_id", "s")
            .distinct()
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a = sh.select(F.col("doc_id").alias("id_a"), "s")
        b = sh.select(F.col("doc_id").alias("id_b"), "s")
        truth = sorted(
            (r["id_a"], r["id_b"])
            for r in (
                a.join(b, "s")
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("ni"))
                .join(sizes.select(F.col("doc_id").alias("id_a"),
                                   F.col("n").alias("na")), "id_a")
                .join(sizes.select(F.col("doc_id").alias("id_b"),
                                   F.col("n").alias("nb")), "id_b")
                .filter(3 * F.col("ni") >= F.col("na") + F.col("nb"))
                .select("id_a", "id_b")
            ).collect()
        )
        assert got == truth and len(got) > 0


# ---------------------------------------------------------------------------
# ev21 — Holt-Winters additive fold vs a pure-Python walk of the same
# stated contract (zero-filled calendar, two-week init, the exact
# step expressions), including a gap-day corpus where zero-fill must
# keep weekday alignment.
# ---------------------------------------------------------------------------


def _ev21_ref(rows):
    """rows: (event_type, date) pairs; returns {type: (n, level,
    trend, f1..f7)} rounded like both engines."""
    import datetime as dt
    from collections import Counter

    if not rows:
        return {}
    days = [d for _, d in rows]
    d0, d1 = min(days), max(days)
    cal = [d0 + dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
    out = {}
    for typ in sorted({t for t, _ in rows}):
        c = Counter(d for t, d in rows if t == typ)
        ys = [float(c.get(d, 0)) for d in cal]
        n = len(ys)
        if n < 14:
            continue
        a = (ys[0] + ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6]) / 7.0
        bb = (ys[7] + ys[8] + ys[9] + ys[10] + ys[11] + ys[12] + ys[13]) / 7.0
        l, b = a, (bb - a) / 7.0
        ring = [y - a for y in ys[:7]]
        for y in ys[7:]:
            lnew = (y - ring[0]) * 0.5 + (l + b) * 0.5
            bnew = (lnew - l) * 0.5 + b * 0.5
            snew = (y - lnew) * 0.5 + ring[0] * 0.5
            ring = ring[1:] + [snew]
            l, b = lnew, bnew
        out[typ] = tuple(
            [n, _round6_half_up(l), _round6_half_up(b)]
            + [
                _round6_half_up(l + b * h + ring[h - 1])
                for h in range(1, 8)
            ]
        )
    return out


class TestHoltWinters:
    def _check(self, spark, rows):
        import datetime as dt

        from dww_data_pipeline_spark.plans.selection_plans import holt_winters

        df = spark.createDataFrame(
            [(t, dt.datetime.combine(d, dt.time(12, 0))) for t, d in rows],
            "event_type string, ts timestamp",
        )
        got = {r["event_type"]: tuple(r)[1:] for r in holt_winters(df).collect()}
        assert got == _ev21_ref(rows)

    def test_dense_three_week_series(self, spark):
        import datetime as dt

        d0 = dt.date(2024, 3, 4)
        rows = []
        for i in range(21):
            day = d0 + dt.timedelta(days=i)
            for _ in range((i * 7 + 3) % 11 + (2 if day.weekday() >= 5 else 0)):
                rows.append(("a", day))
            for _ in range(i % 4):
                rows.append(("b", day))
        self._check(spark, rows)

    def test_gap_days_keep_weekday_alignment(self, spark):
        """Days with zero events for a type must enter the series as
        zeros, not vanish — otherwise every later seasonal index
        shifts weekday."""
        import datetime as dt

        d0 = dt.date(2024, 3, 4)
        rows = []
        for i in range(18):
            if i in (3, 9, 10):  # gaps for type a
                rows.append(("b", d0 + dt.timedelta(days=i)))
                continue
            rows.append(("a", d0 + dt.timedelta(days=i)))
            rows.append(("b", d0 + dt.timedelta(days=i)))
        self._check(spark, rows)

    def test_short_series_excluded(self, spark):
        import datetime as dt

        d0 = dt.date(2024, 3, 4)
        rows = [("a", d0 + dt.timedelta(days=i)) for i in range(10)]
        from dww_data_pipeline_spark.plans.selection_plans import holt_winters

        df = spark.createDataFrame(
            [(t, dt.datetime.combine(d, dt.time(9, 0))) for t, d in rows],
            "event_type string, ts timestamp",
        )
        assert holt_winters(df).count() == 0


# ---------------------------------------------------------------------------
# t39 — C4 line rules vs a pure-Python reference AND the DuckDB
# oracle on planted docs: the parquet corpus is single-line, so the
# multi-line / lorem / curly / javascript / empty paths live here
# (the t37 precedent).
# ---------------------------------------------------------------------------

_T39_LINE_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "Javascript",
                   "lorem", "ipsum", "{x}", "end."]


def _t39_ref(docs):
    import re

    out = {}
    for doc_id, text in docs:
        t = text or ""
        lines = t.split("\n") if t != "" else []
        has_lorem = "lorem ipsum" in t.lower()
        has_curly = "{" in t
        words = lambda l: [w for w in re.split(r"\s+", l.strip()) if w]  # noqa: E731
        kept = [
            l for l in lines
            if len(words(l)) >= 5
            and l.rstrip()[-1:] in (".", "!", "?", '"', "'")
            and "javascript" not in l.lower()
        ]
        n_lines = sum(1 for l in lines if l.strip() != "")
        n_words = sum(len(words(l)) for l in lines)
        n_kept = len(kept)
        n_kept_words = sum(len(words(l)) for l in kept)
        out[doc_id] = (
            n_lines, n_words, n_kept, n_kept_words,
            _round6_half_up(n_kept / n_lines) if n_lines else 0.0,
            _round6_half_up(n_kept_words / n_words) if n_words else 0.0,
            has_lorem, has_curly,
            int(n_kept >= 3 and not has_lorem and not has_curly),
        )
    return out


_T39_DOCS = st.lists(
    st.lists(  # doc = list of lines
        st.lists(st.sampled_from(_T39_LINE_WORDS), min_size=0, max_size=8)
        .map(" ".join),
        min_size=0,
        max_size=6,
    ).map("\n".join),
    min_size=1,
    max_size=8,
)


class TestC4LineRules:
    @settings(**_SETTINGS)
    @given(_T39_DOCS)
    def test_matches_python_reference(self, spark, docs):
        from dww_data_pipeline_spark.plans.text_plans import c4_line_rules

        rows = list(enumerate(docs))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: tuple(r)[1:] for r in c4_line_rules(df).collect()}
        assert got == _t39_ref(rows)

    def test_planted_paths_oracle_parity(self, spark):
        """Multi-line keeps, lorem/curly kills, javascript line drop,
        empty/NULL zero — engine vs the registered DuckDB oracle."""
        import duckdb

        from dww_data_pipeline_spark.plans.text_plans import (
            _t39_oracle,
            c4_line_rules,
        )

        good = "alpha beta gamma delta eps."
        docs = [
            (0, f"{good}\n{good}\n{good}"),              # 3 kept -> keep
            (1, f"{good}\n{good}"),                      # 2 kept -> drop
            (2, f"{good}\n{good}\n{good}\nLorem Ipsum"), # lorem kills
            (3, f"{good}\n{good}\n{good}\nx {{y}}"),     # curly kills
            (4, f"{good}\nalpha beta gamma delta Javascript."),  # js line
            (5, "alpha beta gamma delta"),               # no terminal punct
            (6, ""),
            (7, "   "),
            (8, None),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: tuple(r)[1:] for r in c4_line_rules(df).collect()}
        assert got[0][-1] == 1 and got[1][-1] == 0
        assert got[2][6] and got[2][-1] == 0       # has_lorem
        assert got[3][7] and got[3][-1] == 0       # has_curly
        assert got[4][2] == 1                       # js line dropped
        for i in (6, 7, 8):
            assert got[i] == (0, 0, 0, 0, 0.0, 0.0, False, False, 0)
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        want = {
            row[0]: tuple(row)[1:]
            for row in con.execute(_t39_oracle()).fetchall()
        }
        con.close()
        assert got == want


# ---------------------------------------------------------------------------
# s23 — NN-Descent: the paper's convergence measure as an invariant.
# ---------------------------------------------------------------------------


class TestNnDescent:
    def test_per_vertex_topk_cos_monotone_and_connectivity_improves(
        self, spark, sf_dir
    ):
        """Current edges are always candidates, so each vertex's top-k
        cosine sum must be non-decreasing round-over-round (Dong et
        al.'s convergence measure); and the ring+stride scaffold must
        fix the measured bucket-graph disconnection — the final graph
        reaches the whole corpus from vertex 0 (undirected)."""
        from dww_data_pipeline_spark.plans.dedup_plans import (
            _spark_lsh_bucket,
            nn_descent_edges,
        )
        from dww_data_pipeline_spark.sources.catalog import load_table

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            _spark_lsh_bucket("embedding").alias("bucket"),
        )
        n = e.count()
        rounds = nn_descent_edges(e)
        per_round_sums = []
        for _r, edges in rounds:
            per_round_sums.append(
                {
                    row["src"]: row["s"]
                    for row in edges.groupBy("src")
                    .agg(F.sum(F.round(F.col("cos") * 1e6, 0)).alias("s"))
                    .collect()
                }
            )
        for prev, cur in zip(per_round_sums, per_round_sums[1:]):
            for src, s in prev.items():
                assert cur[src] >= s, f"vertex {src} regressed"
        assert per_round_sums[0] != per_round_sums[-1], "no improvement at all"
        # undirected reachability from vertex 0 over the final graph
        adj: dict[int, set] = {}
        for row in rounds[-1][1].collect():
            adj.setdefault(row["src"], set()).add(row["dst"])
            adj.setdefault(row["dst"], set()).add(row["src"])
        seen, frontier = {0}, [0]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
        assert len(seen) == n, f"still disconnected: {len(seen)}/{n}"


# s25 — clustered-corpus recall gate: the planted-cluster derivation
# and the navigability claim it exists to prove.


class TestS25ClusteredRecall:
    def test_gate_passes_and_corpus_is_clustered(self, spark):
        from dww_data_pipeline_spark.plans.dedup_plans import (
            _S25_C,
            _S25_CMOD,
            clustered_corpus,
            s25_clustered_recall_gate,
        )

        sf_dir = "/root/testdata/sf0.001"
        rows = s25_clustered_recall_gate(spark, sf_dir).collect()
        assert len(rows) == 3
        assert all(r["gate_pass"] for r in rows)
        assert all(r["recall_at_k"] >= 0.8 for r in rows)
        # the derivation really plants clusters: within-cluster cosine
        # far above cross-cluster for a deterministic sample
        import math

        ec = {
            r["vec_id"]: r["embedding"]
            for r in clustered_corpus(spark, sf_dir)
            .filter(F.col("vec_id") < 40)
            .collect()
        }

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return dot / (na * nb)

        def cl(v):
            return (v % _S25_CMOD) % _S25_C

        within, cross = [], []
        ids = sorted(ec)
        for i in ids:
            for j in ids:
                if i < j:
                    (within if cl(i) == cl(j) else cross).append(
                        cos(ec[i], ec[j])
                    )
        assert within and cross
        assert min(within) > max(cross) + 0.1

    def test_scaffold_restores_cross_cluster_reachability(self, spark):
        """The measured design fact: bucket-kNN alone is cluster-
        disconnected on the planted corpus (the walk finds only the
        entry's cluster); the ring scaffold restores navigability."""
        from dww_data_pipeline_spark.operators.similarity import (
            bucket_knn_arrow,
        )
        from dww_data_pipeline_spark.plans.dedup_plans import (
            _S25_ROUNDS,
            _spark_lsh_bucket,
            clustered_corpus,
            graph_ann_walk,
            scaffolded_edges,
        )

        sf_dir = "/root/testdata/sf0.001"
        ec = clustered_corpus(spark, sf_dir).withColumn(
            "bucket", _spark_lsh_bucket("embedding")
        )
        n = ec.count()
        bare = (
            bucket_knn_arrow(ec, "vec_id", "embedding", "bucket", k=3)
            .select("src", "dst")
            .localCheckpoint()
        )
        got_bare = {
            (r["query_id"], r["vec_id"])
            for r in graph_ann_walk(
                ec, bare, (0, 1, 2), rounds=_S25_ROUNDS
            ).collect()
        }
        # queries 1 and 2 live in other clusters; the bare-graph walk
        # cannot reach them, so their "top-5" stays in cluster 0
        from dww_data_pipeline_spark.plans.dedup_plans import (
            _S25_C,
            _S25_CMOD,
        )

        def cl(v):
            return (v % _S25_CMOD) % _S25_C

        assert all(cl(v) == 0 for _, v in got_bare)
        scaff = scaffolded_edges(ec, n)
        got_scaff = {
            (q, v)
            for q, v in (
                (r["query_id"], r["vec_id"])
                for r in graph_ann_walk(
                    ec, scaff, (0, 1, 2), rounds=_S25_ROUNDS
                ).collect()
            )
        }
        # with the scaffold every query's results land in ITS cluster
        assert all(cl(v) == cl(q) for q, v in got_scaff)


# t40 — sequence packing vs a pure-Python greedy packer.


class TestT40SequencePacking:
    def _ref_pack(self, docs, n_shards=8, capacity=256):
        """(doc_id, n_tokens) -> {(shard, bin_id): (n_docs, tokens,
        oversize)} via the straight-line greedy recurrence."""
        out = {}
        by_shard = {}
        for doc_id, n in sorted(docs):
            by_shard.setdefault(doc_id % n_shards, []).append(n)
        for shard, ns in by_shard.items():
            bin_id, n_docs, fill, oversize = 0, 0, 0, False
            for n in ns:
                if bin_id == 0 or fill + n > capacity:
                    if bin_id > 0:
                        out[(shard, bin_id)] = (n_docs, fill, oversize)
                    bin_id += 1
                    n_docs, fill, oversize = 0, 0, False
                n_docs += 1
                fill += n
                oversize = oversize or n > capacity
            if bin_id > 0:
                out[(shard, bin_id)] = (n_docs, fill, oversize)
        return out

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10_000),
                st.integers(min_value=0, max_value=40),
            ),
            min_size=0,
            max_size=60,
            unique_by=lambda t: t[0],
        )
    )
    @settings(max_examples=20, deadline=None)
    def test_matches_reference_packer(self, spark, docs):
        from dww_data_pipeline_spark.plans.text_plans import (
            sequence_packing,
        )

        rows = [(doc_id, " ".join(["w"] * n)) for doc_id, n in docs]
        d = spark.createDataFrame(
            rows, "doc_id long, text string"
        ) if rows else spark.createDataFrame([], "doc_id long, text string")
        got = {
            (r["shard"], r["bin_id"]): (
                r["n_docs"], r["tokens"], r["has_oversize"]
            )
            for r in sequence_packing(d, capacity=30).collect()
        }
        assert got == self._ref_pack(docs, capacity=30)

    def test_invariants_on_documents(self, spark):
        """No bin overflows unless it holds a single oversize doc;
        every doc is packed exactly once; bins are dense 1..B."""
        from dww_data_pipeline_spark.plans.text_plans import (
            _T40_CAPACITY,
            t40_sequence_packing,
        )

        rows = t40_sequence_packing(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows
        n_docs_total = sum(r["n_docs"] for r in rows)
        import collections

        by_shard = collections.defaultdict(list)
        for r in rows:
            by_shard[r["shard"]].append(r)
            if r["tokens"] > _T40_CAPACITY:
                # only an oversize doc may overflow, and it sits alone
                # with any zero-token companions — never two payloads
                assert r["has_oversize"]
        d = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        assert n_docs_total == d.count()
        for shard, rs in by_shard.items():
            bins = sorted(r["bin_id"] for r in rs)
            assert bins == list(range(1, len(bins) + 1))


# s26 — SERVING-scale clustered recall: the shipped index (refined ∪
# scaffold) passes the gate at full fixture, and the as-shipped s24
# graph alone does NOT (the measured disconnection s26 exists to fix).


class TestS26ServingClusteredRecall:
    def test_gate_passes_at_full_fixture(self, spark):
        from dww_data_pipeline_spark.plans.dedup_plans import (
            s26_serving_clustered_recall,
        )

        rows = s26_serving_clustered_recall(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(rows) == 3
        assert all(r["gate_pass"] for r in rows)
        assert all(r["recall_overall"] >= 0.8 for r in rows)

    def test_refined_graph_alone_fails_the_gate(self, spark):
        """Negative control (variant A of
        `git show eb998ef:tools/s26_proto.py`): the
        NN-Descent round-2 graph WITHOUT the scaffold union is
        cluster-disconnected on the clustered corpus — the 4-round
        walk recovers only the entry vertex's cluster, recall well
        under the 0.8 floor.  This is the measured fact that makes
        the scaffold union a required part of the serving index."""
        from pyspark.sql import Window

        from dww_data_pipeline_spark.plans.dedup_plans import (
            _S26_QIDS,
            _S26_ROUNDS,
            _spark_cos,
            _spark_lsh_bucket,
            clustered_corpus,
            graph_ann_walk,
            nn_descent_edges,
        )

        ec = clustered_corpus(spark, "/root/testdata/sf0.001").withColumn(
            "bucket", _spark_lsh_bucket("embedding")
        )
        refined = nn_descent_edges(ec)[-1][1].select("src", "dst")
        walk = graph_ann_walk(
            ec, refined, _S26_QIDS, rounds=_S26_ROUNDS
        ).select("query_id", "vec_id")
        q = ec.filter(F.col("vec_id").isin(*_S26_QIDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
        truth = (
            ec.crossJoin(F.broadcast(q))
            .select(
                "query_id",
                "vec_id",
                F.round(
                    _spark_cos(F.col("embedding"), F.col("qv")), 6
                ).alias("cos"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("query_id", "vec_id")
        )
        hits = truth.join(walk, ["query_id", "vec_id"], "left_semi").count()
        assert hits < 0.8 * 15, f"expected disconnection, got {hits}/15"
