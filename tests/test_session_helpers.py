"""Session helpers: Arrow-path local frames, scoped loop width, the
persist lifetime and the catalog's artifact cache.

``local_rows_df`` replaced every non-test ``createDataFrame(list)``
call (21 sites) — these tests pin its VALUE fidelity against the
default path (the optimization must be invisible to results), the
exact-integer hazard it was designed around (no float64 promotion for
long columns containing None), ``bounded_loop_shuffle``'s and
``persisted``'s restore-on-exit contracts, and that
``catalog.cached_artifact`` rebuilds a value when a table under its
sf_dir is rewritten in place and serves a repeat lookup without a job.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dww_data_pipeline_spark.session import (
    bounded_loop_shuffle,
    local_rows_df,
    persisted,
)


class TestLocalRowsDf:
    CASES = [
        # exact 64-bit long next to a None in the same column — the
        # pandas from_records path would round this through float64
        ([(1, "a b", None, 2**62 + 12345), (2, None, "x", None)],
         "step long, pair string, merged string, n long"),
        ([(1, [1, 2, 3], 0.5), (2, [2**61, -5], None)],
         "i long, v array<long>, d double"),
        ([], "a long, b string"),
        ([(True, 0), (False, None)], "f boolean, n long"),
    ]

    def test_values_and_schema_match_default_path(self, spark):
        for rows, schema in self.CASES:
            got = local_rows_df(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got.schema == want.schema, schema
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.collect())
            ), schema

    def test_shape_mismatch_fails_fast(self, spark):
        # r14 advice: a row with more fields than the schema used to be
        # silently truncated by the column-wise zip, and a short row
        # padded with NaN by the pandas reindex — both must raise, as
        # spark.createDataFrame(rows, schema) would
        import pytest

        with pytest.raises(ValueError, match="3 fields, schema has 2"):
            local_rows_df(spark, [(1, "a", 99)], "a long, b string")
        with pytest.raises(ValueError, match="1 fields, schema has 2"):
            local_rows_df(spark, [(1,)], "a long, b string")

    def test_dict_rows_take_the_default_path(self, spark):
        # dict rows are not positional: the arity check must not read
        # their key count, and the values must land by field name
        rows = [{"b": "x", "a": 1}, {"a": 2, "b": None}]
        got = local_rows_df(spark, rows, "a long, b string")
        want = spark.createDataFrame(rows, "a long, b string")
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            map(tuple, want.collect()), key=str
        )
        assert sorted(r["a"] for r in got.collect()) == [1, 2]
        # all-string fields: a positional read of the dict would yield
        # its keys as values without any Arrow error to fall back on
        got = local_rows_df(spark, [{"b": "x", "a": "y"}], "a string, b string")
        assert [tuple(r) for r in got.collect()] == [("y", "x")]

    def test_row_objects_round_trip(self, spark):
        src = spark.range(3).select(
            "id",
            (F.col("id") % 2 == 0).alias("flag"),
            F.lit(None).cast("long").alias("z"),
        )
        rows = src.collect()
        back = local_rows_df(spark, rows, src.schema)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, rows))

    def test_coalesce1_write_round_trip(self, spark, tmp_path):
        # the motivating case: the tokenizer store's 16-row merge table
        rows = [(i, " a b ", " ab ", 100 + i) for i in range(16)]
        schema = "step long, pair string, merged string, n long"
        out = str(tmp_path / "merges")
        local_rows_df(spark, rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(out)
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert got == sorted(rows)


class TestBoundedLoopShuffle:
    def test_width_derives_from_rows_and_caps_at_session(self, spark):
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with bounded_loop_shuffle(spark, 31) as parts:
            assert parts == 1
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            # AQE stays ON unless explicitly opted out (join loops
            # need its runtime sizes)
            assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur
        huge = 10**12
        with bounded_loop_shuffle(spark, huge) as parts:
            assert parts == cur  # capped at the session width
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    def test_restores_on_exception(self, spark):
        cur = spark.conf.get("spark.sql.shuffle.partitions")
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            with bounded_loop_shuffle(spark, 1, disable_aqe=True):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == cur
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


class TestPersisted:
    def test_released_on_exit(self, spark):
        df = spark.range(10)
        with persisted(df) as got:
            assert got is df and df.is_cached
            assert got.count() == 10
        assert not df.is_cached

    def test_released_on_exception(self, spark):
        df = spark.range(10)
        with pytest.raises(RuntimeError):
            with persisted(df):
                raise RuntimeError("boom")
        assert not df.is_cached


def _jobs_under(spark, group: str, fn):
    """``fn()`` and the ids of the Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


class TestCachedArtifact:
    @pytest.fixture
    def sf_copy(self, sf_dir, tmp_path):
        from dww_data_pipeline_spark.sources.catalog import TABLES

        for name in TABLES:
            shutil.copyfile(
                os.path.join(sf_dir, f"{name}.parquet"),
                tmp_path / f"{name}.parquet",
            )
        return str(tmp_path)

    def test_hit_is_free_and_rewrite_rebuilds(self, spark, sf_copy):
        import pyarrow.parquet as pq

        from dww_data_pipeline_spark.plans.dedup_plans import (
            d2_minhash_lsh_pairs,
            lsh_pairs_cached,
        )
        from dww_data_pipeline_spark.sources.tokenizer_store import (
            tokenizer_store_cached,
        )

        def lookup():
            return (
                lsh_pairs_cached(spark, sf_copy),
                tokenizer_store_cached(spark, sf_copy),
            )

        (pairs, store), built = _jobs_under(spark, "artifact-cold", lookup)
        assert built  # the job-group probe sees the builds
        old_pairs = sorted(pairs.collect())

        (pairs2, store2), jobs = _jobs_under(spark, "artifact-hit", lookup)
        assert pairs2 is pairs and store2 == store
        assert jobs == []

        # rewrite one table in place under the same path
        path = os.path.join(sf_copy, "documents.parquet")
        docs = pq.read_table(path)
        pq.write_table(docs.slice(0, docs.num_rows // 2), path)

        (pairs3, store3), rebuilt = _jobs_under(spark, "artifact-stale", lookup)
        assert rebuilt
        got = sorted(pairs3.collect())
        assert got == sorted(d2_minhash_lsh_pairs(spark, sf_copy).collect())
        assert got != old_pairs
        assert store3 != store and os.path.isdir(store3)
        assert not os.path.exists(store)  # the superseded store is released
