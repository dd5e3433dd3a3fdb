"""Spark-semantics parity fixes from ADVICE r1: NaN ordering (Spark puts
NaN above every value; NaN == NaN) and session-time-zone timestamp
literals. Ground truth for every case is Spark's OWN filter over the raw
DataFrame — the engine scan (prune -> decode -> in-reader mask ->
residual) must return the identical row set."""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pytest

from aisle_spark.filterspec import col
from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

NAN = float("nan")


def _nan_df(spark):
    rows = [
        ("a", 1.0),
        ("b", NAN),
        ("c", -3.5),
        ("d", None),
        ("e", NAN),
        ("f", 7.25),
        ("g", 0.0),
    ]
    return spark.createDataFrame(rows, "k string, x double")


NAN_SPECS = [
    (col("x") > 2.0, "x > 2.0"),
    (col("x") >= 7.25, "x >= 7.25"),
    (col("x") < 2.0, "x < 2.0"),
    (col("x") <= 0.0, "x <= 0.0"),
    (col("x") == NAN, "x = double('nan')"),
    (col("x") != 1.0, "x != 1.0"),
    (col("x") > 100.0, "x > 100.0"),
    (~(col("x") > 2.0), "NOT (x > 2.0)"),
    (col("x").between(-10.0, 100.0), "x BETWEEN -10.0 AND 100.0"),
    (col("x").isin(1.0, NAN), "x IN (1.0, double('nan'))"),
]


@pytest.mark.parametrize("spec,sql", NAN_SPECS, ids=[s for _, s in NAN_SPECS])
def test_nan_predicates_match_spark(spark, spec, sql):
    df = _nan_df(spark)
    expected = sorted(r.k for r in df.filter(sql).collect())
    blocks = encode_table(df, parts=1, block_rows=2)  # NaN isolated in blocks
    got = sorted(
        r.k for r in scan(blocks, arrow_schema_of(df), where=spec).collect()
    )
    assert got == expected, f"{sql}: engine {got} vs spark {expected}"


def test_nan_block_stats_use_spark_ordering(spark):
    """A block holding [small values + NaN] must be KEPT for x > v."""
    df = spark.createDataFrame([("a", 1.0), ("b", NAN)], "k string, x double")
    blocks = encode_table(df, parts=1, block_rows=4096)
    kept = blocks.filter((col("x") > 5.0).keep_blocks()).count()
    assert kept == 1  # NaN row matches x > 5.0 under Spark semantics


def test_all_nan_block(spark):
    df = spark.createDataFrame([("a", NAN), ("b", NAN)], "k string, x double")
    blocks = encode_table(df, parts=1)
    schema = arrow_schema_of(df)
    assert scan(blocks, schema, where=col("x") == 3.0).count() == 0
    assert scan(blocks, schema, where=col("x") > 3.0).count() == 2
    out = scan(blocks, schema).collect()
    assert all(math.isnan(r.x) for r in out)


def test_timestamp_literals_respect_session_timezone(spark):
    """With a non-UTC session tz, the in-reader mask must agree with the
    Catalyst residual on naive datetime literals (ADVICE r1 medium)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rows = [
            ("a", dt.datetime(2024, 1, 10, 3, 0, 0)),
            ("b", dt.datetime(2024, 1, 10, 9, 30, 0)),
            ("c", dt.datetime(2024, 1, 11, 0, 0, 0)),
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp")
        cut = dt.datetime(2024, 1, 10, 9, 0, 0)
        expected = sorted(r.k for r in df.filter(df.ts > cut).collect())
        blocks = encode_table(df, parts=1, block_rows=2)
        got = sorted(
            r.k
            for r in scan(
                blocks, arrow_schema_of(df), where=col("ts") > cut
            ).collect()
        )
        assert got == expected == ["b", "c"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


class TestLikeClassification:
    """like_pattern_to_rule parity (/root/reference/src/compile.rs:700-745)."""

    def test_no_wildcard_is_eq(self):
        from aisle_spark.filterspec import Cmp, col

        assert col("s").like("foo") == Cmp("s", "eq", "foo")

    def test_trailing_percent_is_startswith(self):
        from aisle_spark.filterspec import StartsWith, col

        assert col("s").like("foo%") == StartsWith("s", "foo")

    def test_other_wildcards_are_residual_like(self):
        # the reference REJECTS these at compile (src/compile.rs:700-745);
        # we classify them as residual-only Like (Unknown to the pruner,
        # exact on the decoded frame)
        from aisle_spark.filterspec import Like, col

        for pat in ("%foo", "f%o", "f_o", "fo_%"):
            spec = col("s").like(pat)
            assert spec == Like("s", pat)
            assert spec.to_sql() == f"s LIKE '{pat}'"


class TestArrayAny:
    """List-element predicates pruned via elem_min/max stats
    (/root/reference/tests/prune_list_map.rs element-path parity)."""

    def test_contains_matches_spark_exists(self, spark):
        import pyarrow as pa

        from pyspark.sql import functions as F

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import encode_table, scan
        from aisle_spark.schema import TOKEN_SCHEMA, synth_batch

        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 3000)])).cache()
        blocks = encode_table(df, parts=2, block_rows=256).cache()
        total = blocks.count()
        spec = col("tokens").contains(77777)  # regime-2 palette value
        got = {r.doc_id for r in scan(blocks, TOKEN_SCHEMA, where=spec,
                                      columns=["doc_id"]).collect()}
        exp = {r.doc_id for r in df.filter(
            F.array_contains("tokens", 77777)).select("doc_id").collect()}
        assert got == exp and got
        # out-of-vocab value prunes EVERY block via elem stats
        spec2 = col("tokens").contains(10_000_000)
        assert blocks.filter(spec2.keep_blocks()).count() == 0
        # any_gt with impossible bound also prunes all
        assert blocks.filter(
            col("tokens").any_cmp("gt", 10_000_000).keep_blocks()
        ).count() == 0
        # Not(exists) conservatively keeps (t-side is never certain)
        assert blocks.filter((~spec).keep_blocks()).count() == total
        got_not = {r.doc_id for r in scan(blocks, TOKEN_SCHEMA, where=~spec,
                                          columns=["doc_id"]).collect()}
        exp_not = {r.doc_id for r in df.filter(
            ~F.array_contains("tokens", 77777)).select("doc_id").collect()}
        assert got_not == exp_not
        blocks.unpersist()
        df.unpersist()

    def test_nan_elements_never_skipped(self, spark):
        import math

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

        df = spark.createDataFrame(
            [(1, [0.1, 0.2]), (2, [float("nan"), 0.1]), (3, [0.3, 0.4])],
            "id long, v array<double>",
        )
        schema = arrow_schema_of(df)
        blocks = encode_table(df, parts=1, block_rows=4)
        # Spark: exists(v, x -> x > 100) is TRUE for the NaN row
        got = scan(blocks, schema, where=col("v").any_cmp("gt", 100.0),
                   columns=["id"]).collect()
        assert [r.id for r in got] == [2]


class TestArrayLen:
    def test_size_cmp_matches_spark(self, spark):
        import pyarrow as pa

        from pyspark.sql import functions as F

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import encode_table, scan
        from aisle_spark.schema import TOKEN_SCHEMA, synth_batch

        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 3000)])).cache()
        blocks = encode_table(
            df, parts=2, block_rows=256, sort_cols=["n_tok"]
        ).cache()
        total = blocks.count()
        for op, ref in [
            ("gt", F.size("tokens") > 100),
            ("eq", F.size("tokens") == 1),
            ("le", F.size("tokens") <= 3),
        ]:
            v = {"gt": 100, "eq": 1, "le": 3}[op]
            spec = col("tokens").size_cmp(op, v)
            got = {r.doc_id for r in scan(blocks, TOKEN_SCHEMA, where=spec,
                                          columns=["doc_id"]).collect()}
            exp = {r.doc_id for r in df.filter(ref).select("doc_id").collect()}
            assert got == exp, op
        # sorted by n_tok == list length => the length point query prunes
        kept = blocks.filter(col("tokens").size_cmp("gt", 8000).keep_blocks()).count()
        assert kept < total
        blocks.unpersist()
        df.unpersist()


class TestUtcGuard:
    """VERDICT r2 #9: scan() refuses tz-naive datetime predicates outside
    a UTC driver (F.lit resolves naive instants with the process tz)."""

    def _blocks(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from aisle_spark.pipeline import arrow_schema_of, encode_table

        df = spark.range(0, 500).select(
            F.col("id"),
            (F.lit(dt.datetime(2024, 1, 1)) + F.make_dt_interval(F.lit(0), F.lit(0), F.col("id").cast("int"))).alias("ts"),
        )
        return encode_table(df, parts=1, block_rows=256), arrow_schema_of(df)

    def test_non_utc_session_warns(self, spark):
        import datetime as dt
        import warnings

        import pytest as _pytest

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import scan

        blocks, schema = self._blocks(spark)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            with _pytest.warns(UserWarning, match="non-UTC driver"):
                scan(blocks, schema, where=col("ts") > dt.datetime(2024, 1, 1, 1))
            # tz-aware literals are unambiguous: no warning under any zone
            aware = dt.datetime(2024, 1, 1, 1, tzinfo=dt.timezone.utc)
            with warnings.catch_warnings():
                warnings.simplefilter("error")
                n = scan(
                    blocks, schema, where=col("ts") > aware, columns=["id"]
                ).count()
            assert n == 500 - 61
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def test_utc_session_accepted(self, spark):
        import datetime as dt

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import scan

        blocks, schema = self._blocks(spark)
        n = scan(
            blocks, schema, where=col("ts") > dt.datetime(2024, 1, 1, 1), columns=["id"]
        ).count()
        assert n == 500 - 61

    @pytest.mark.parametrize("wrap", ["alone", "not", "and"])
    def test_naive_datetime_seen_in_map_literal(self, wrap):
        """A map-value comparison carries its literal like a Cmp does, so
        the naive-datetime check sees it alone and under Not/And."""
        from aisle_spark.filterspec import And, Cmp, MapKeyCmp, Not, has_naive_datetime

        def tree(v):
            m = MapKeyCmp("p", "k", "gt", v)
            return {"alone": m, "not": Not(m), "and": And([Cmp("x", "eq", 1), m])}[wrap]

        assert has_naive_datetime(tree(dt.datetime(2024, 1, 1)))
        aware = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        assert not has_naive_datetime(tree(aware))
