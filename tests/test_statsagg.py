"""Stats-only aggregation pushdown: COUNT(*) and MIN/MAX answered from
block evidence (definitely-true blocks never decode a payload byte),
boundary blocks decoded exactly. Beyond the reference's surface — the
classic metadata-aggregation optimization of columnar engines."""

from __future__ import annotations

import math

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from aisle_spark.filterspec import col
from aisle_spark.pipeline import (
    arrow_schema_of,
    encode_table,
    scan_count,
    scan_min_max,
)
from aisle_spark.schema import synth_batch


@pytest.fixture(scope="module")
def table(spark):
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(11, 6000)]))
    blocks = encode_table(
        df, parts=4, block_rows=512, sort_cols=["source", "n_tok"]
    ).persist()
    blocks.count()
    yield df, blocks, arrow_schema_of(df)
    blocks.unpersist()


class TestScanCount:
    @pytest.mark.parametrize(
        "spec,sql",
        [
            (col("n_tok").between(100, 3000), "n_tok BETWEEN 100 AND 3000"),
            (col("source") == "web", "source = 'web'"),
            ((col("n_tok") > 500) & (col("source") != "code"),
             "n_tok > 500 AND source <> 'code'"),
            (col("doc_id").startswith("books-"), "doc_id LIKE 'books-%'"),
            (None, None),
        ],
    )
    def test_matches_exact_count(self, spark, table, spec, sql):
        df, blocks, schema = table
        got = scan_count(blocks, schema, where=spec).collect()[0].cnt
        exp = df.filter(sql).count() if sql else df.count()
        assert got == exp

    def test_sure_blocks_never_decode(self, spark, table):
        """A predicate the whole sorted layout satisfies: every block is
        definitely-true, the boundary is EMPTY, and the plan's read
        schema contains no payload column at all."""
        df, blocks, schema = table
        spec = col("n_tok") >= -1  # n_tok is never null / negative
        assert blocks.filter(spec.not_true()).count() == 0
        got = scan_count(blocks, schema, where=spec)
        assert got.collect()[0].cnt == df.count()

    def test_impossible_predicate_zero(self, spark, table):
        _df, blocks, schema = table
        assert (
            scan_count(blocks, schema, where=col("n_tok") > 10**9)
            .collect()[0]
            .cnt
            == 0
        )

    def test_random_predicates_match(self, spark, table):
        import random

        from tests.test_random_predicates import _rand_spec

        df, blocks, schema = table
        rng = random.Random(31)
        for _ in range(10):
            spec = _rand_spec(rng)
            got = scan_count(blocks, schema, where=spec).collect()[0].cnt
            exp = df.filter(spec.residual()).count()
            assert got == exp, repr(spec)

    def test_accepts_sql_string(self, spark, table):
        df, blocks, schema = table
        got = scan_count(blocks, schema, where="n_tok <= 300").collect()[0].cnt
        assert got == df.filter("n_tok <= 300").count()


class TestScanMinMax:
    def test_int_with_predicate(self, spark, table):
        df, blocks, schema = table
        r = scan_min_max(
            blocks, schema, "n_tok", where=col("source") == "books"
        ).collect()[0]
        e = df.filter("source = 'books'").agg(
            F.min("n_tok").alias("mn"), F.max("n_tok").alias("mx")
        ).collect()[0]
        assert (r.mn, r.mx) == (e.mn, e.mx)

    def test_no_predicate_stats_only(self, spark, table):
        df, blocks, schema = table
        r = scan_min_max(blocks, schema, "n_tok").collect()[0]
        e = df.agg(F.min("n_tok"), F.max("n_tok")).collect()[0]
        assert (r.mn, r.mx) == (e[0], e[1])

    def test_float_nan_and_nulls(self, spark):
        rows = [(i, v) for i, v in enumerate(
            [1.5, -3.25, None, math.nan, 0.0, 7.125, None, math.inf, -math.inf]
        )]
        df = spark.createDataFrame(rows, "id long, x double")
        blocks = encode_table(df, parts=1, block_rows=4)
        schema = arrow_schema_of(df)
        r = scan_min_max(blocks, schema, "x").collect()[0]
        e = df.agg(F.min("x").alias("mn"), F.max("x").alias("mx")).collect()[0]
        # Spark total order: NaN greatest — stats agree bit-for-bit
        assert str(r.mn) == str(e.mn) and str(r.mx) == str(e.mx)

    def test_empty_result_is_null(self, spark, table):
        _df, blocks, schema = table
        r = scan_min_max(
            blocks, schema, "n_tok", where=col("n_tok") > 10**9
        ).collect()[0]
        assert r.mn is None and r.mx is None

    def test_string_kind_raises(self, spark, table):
        _df, blocks, schema = table
        with pytest.raises(TypeError, match="bounds"):
            scan_min_max(blocks, schema, "doc_id")

    def test_decimal_exact(self, spark):
        import decimal

        df = spark.range(200).selectExpr(
            "id", "cast(id + 0.75 as decimal(12,2)) AS amt",
            "cast(id % 5 as int) AS g"
        )
        blocks = encode_table(df, parts=1, block_rows=32, sort_cols=["amt"])
        schema = arrow_schema_of(df)
        r = scan_min_max(blocks, schema, "amt", where=col("g") == 3).collect()[0]
        e = df.filter("g = 3").agg(
            F.min("amt").alias("mn"), F.max("amt").alias("mx")
        ).collect()[0]
        assert (r.mn, r.mx) == (e.mn, e.mx)
        assert isinstance(r.mn, decimal.Decimal)


class TestScanCountBy:
    def test_group_by_sorted_column_matches(self, spark, table):
        from aisle_spark.pipeline import scan_count_by

        df, blocks, schema = table
        got = {
            (r[0], r.cnt)
            for r in scan_count_by(blocks, schema, "source").collect()
        }
        exp = {
            (r[0], r[1])
            for r in df.groupBy("source").count().collect()
        }
        assert got == exp
        # the sorted layout makes MOST blocks single-valued on source
        single = blocks.filter(
            F.col("source__min").isNotNull()
            & (F.col("source__min") == F.col("source__max"))
            & (F.col("source__nulls") == 0)
        ).count()
        assert single > 0  # interior blocks of each sorted source run

    def test_group_by_with_where(self, spark, table):
        from aisle_spark.pipeline import scan_count_by

        df, blocks, schema = table
        got = {
            (r[0], r.cnt)
            for r in scan_count_by(
                blocks, schema, "source", where=col("n_tok") > 500
            ).collect()
        }
        exp = {
            (r[0], r[1])
            for r in df.filter("n_tok > 500").groupBy("source").count().collect()
        }
        assert got == exp

    def test_null_groups_counted(self, spark):
        from aisle_spark.pipeline import scan_count_by

        df = spark.range(3000).selectExpr(
            "id",
            "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('g', id % 2) END AS g",
        )
        blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["g"])
        schema = arrow_schema_of(df)
        got = {
            (r[0], r.cnt)
            for r in scan_count_by(blocks, schema, "g").collect()
        }
        exp = {(r[0], r[1]) for r in df.groupBy("g").count().collect()}
        assert got == exp  # includes the NULL group

    def test_random_predicates_match(self, spark, table):
        import random

        from tests.test_random_predicates import _rand_spec
        from aisle_spark.pipeline import scan_count_by

        df, blocks, schema = table
        rng = random.Random(77)
        for _ in range(6):
            spec = _rand_spec(rng)
            got = {
                (r[0], r.cnt)
                for r in scan_count_by(
                    blocks, schema, "source", where=spec
                ).collect()
            }
            exp = {
                (r[0], r[1])
                for r in df.filter(spec.residual()).groupBy("source").count().collect()
            }
            assert got == exp, repr(spec)

    def test_list_or_dotted_group_rejected(self, spark, table):
        from aisle_spark.pipeline import scan_count_by

        _df, blocks, schema = table
        with pytest.raises(TypeError):
            scan_count_by(blocks, schema, "tokens")


class TestScanSum:
    def test_int_sum_matches(self, spark, table):
        from aisle_spark.pipeline import scan_sum

        df, blocks, schema = table
        for sql in (None, "source = 'web'", "n_tok BETWEEN 50 AND 4000"):
            spec = None
            if sql:
                from aisle_spark.sqlcompile import parse_where

                spec = parse_where(sql)
            got = scan_sum(blocks, schema, "n_tok", where=spec).collect()[0].total
            base = df.filter(sql) if sql else df
            exp = base.agg(F.sum("n_tok")).collect()[0][0]
            assert got == exp, sql

    def test_decimal_sum_exact(self, spark):
        import decimal

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import scan_sum

        df = spark.range(5000).selectExpr(
            "id", "cast(id * 1.37 as decimal(14,2)) AS amt",
            "cast(id % 7 as int) AS g",
        )
        blocks = encode_table(df, parts=2, block_rows=512, sort_cols=["g", "amt"])
        schema = arrow_schema_of(df)
        got = scan_sum(blocks, schema, "amt", where=col("g") <= 3).collect()[0].total
        exp = df.filter("g <= 3").agg(F.sum("amt")).collect()[0][0]
        assert isinstance(got, decimal.Decimal)
        assert got == exp

    def test_overflow_guard_falls_back(self, spark):
        from aisle_spark.pipeline import scan_sum

        big = 1 << 53  # 600 rows x 2^53 trips the 2^62 per-block guard
        df = spark.range(600).selectExpr(f"id", f"id + {big} AS v")
        blocks = encode_table(df, parts=1, block_rows=1024)
        schema = arrow_schema_of(df)
        # __sum must be NULL (unknown) on these blocks...
        assert blocks.filter(F.col("v__sum").isNotNull()).count() == 0
        # ...and the result still exact via decode fallback
        got = scan_sum(blocks, schema, "v").collect()[0].total
        exp = df.agg(F.sum("v")).collect()[0][0]
        assert got == exp

    def test_pre_r4_table_without_sum_stats(self, spark, table):
        """ADVICE r4 medium: a blocks table lacking the r4 ``__sum``
        column must take the documented decode-all fallback, not raise
        AnalysisException on the unresolved column."""
        from aisle_spark.pipeline import scan_sum

        df, blocks, schema = table
        legacy = blocks.drop("n_tok__sum")
        assert "n_tok__sum" not in legacy.columns
        got = scan_sum(legacy, schema, "n_tok", where="source = 'web'")
        exp = df.filter("source = 'web'").agg(F.sum("n_tok")).collect()[0][0]
        assert got.collect()[0].total == exp
        # impossible predicate on the legacy table: NULL total, no crash
        from aisle_spark.filterspec import col as _c

        assert (
            scan_sum(legacy, schema, "n_tok", where=_c("n_tok") > 10**9)
            .collect()[0]
            .total
            is None
        )

    def test_nulls_excluded(self, spark):
        from aisle_spark.pipeline import scan_sum

        df = spark.range(3000).selectExpr(
            "id", "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS v"
        )
        blocks = encode_table(df, parts=2, block_rows=256)
        schema = arrow_schema_of(df)
        got = scan_sum(blocks, schema, "v").collect()[0].total
        exp = df.agg(F.sum("v")).collect()[0][0]
        assert got == exp

    def test_all_null_selection_sums_to_null(self, spark):
        """SQL SUM over a fully-NULL selection is NULL, not 0 — the
        recorded per-block __sum of an all-null block is 0 and must map
        back to NULL in the sure branch."""
        from aisle_spark.pipeline import scan_sum

        df = spark.range(2000).selectExpr(
            "id", "cast(NULL as bigint) AS v"
        )
        blocks = encode_table(df, parts=1, block_rows=512)
        schema = arrow_schema_of(df)
        assert scan_sum(blocks, schema, "v").collect()[0].total is None

    def test_empty_is_null_and_float_rejected(self, spark, table):
        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import scan_sum

        df, blocks, schema = table
        got = scan_sum(blocks, schema, "n_tok", where=col("n_tok") > 10**9)
        assert got.collect()[0].total is None
        fdf = spark.range(10).selectExpr("id", "cast(id as double) AS x")
        fb = encode_table(fdf, parts=1)
        with pytest.raises(TypeError, match="order-dependent"):
            scan_sum(fb, arrow_schema_of(fdf), "x")


class TestScanSumBy:
    def test_sum_by_sorted_group_matches(self, spark, table):
        from aisle_spark.pipeline import scan_sum_by

        df, blocks, schema = table
        for sql in (None, "n_tok > 300"):
            got = {
                r.source: r.total
                for r in scan_sum_by(
                    blocks, schema, "source", "n_tok", where=sql
                ).collect()
            }
            base = df.filter(sql) if sql else df
            exp = {
                r.source: r.s
                for r in base.groupBy("source")
                .agg(F.sum("n_tok").alias("s"))
                .collect()
            }
            assert got == exp, sql

    def test_sure_blocks_contribute_without_decode(self, spark, table):
        """On the source-sorted layout most blocks are single-valued in
        the group column; with no predicate the boundary set must be
        empty or tiny, yet the result stays exact."""
        df, blocks, schema = table
        from aisle_spark.pipeline import scan_sum_by

        gmin, gmax = F.col("source__min"), F.col("source__max")
        single = (gmin == gmax) & (F.col("source__nulls") == 0)
        n_single = blocks.filter(single & F.col("n_tok__sum").isNotNull()).count()
        assert n_single > 0  # the stats-only path genuinely fires
        got = {
            r.source: r.total
            for r in scan_sum_by(blocks, schema, "source", "n_tok").collect()
        }
        exp = {
            r.source: r.s
            for r in df.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
        }
        assert got == exp

    def test_decimal_sum_by_exact(self, spark):
        import decimal

        from aisle_spark.pipeline import scan_sum_by

        df = spark.range(4000).selectExpr(
            "id",
            "cast(id * 1.37 as decimal(14,2)) AS amt",
            "concat('g', cast(id % 3 as string)) AS g",
        )
        blocks = encode_table(df, parts=2, block_rows=512, sort_cols=["g", "id"])
        schema = arrow_schema_of(df)
        got = {
            r.g: r.total
            for r in scan_sum_by(blocks, schema, "g", "amt", where="id < 3500").collect()
        }
        exp = {
            r.g: r.s
            for r in df.filter("id < 3500")
            .groupBy("g")
            .agg(F.sum("amt").alias("s"))
            .collect()
        }
        assert got == exp
        assert all(isinstance(v, decimal.Decimal) for v in got.values())

    def test_null_groups_and_null_sums(self, spark):
        from aisle_spark.pipeline import scan_sum_by

        df = spark.range(3000).selectExpr(
            "id",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('g', cast(id % 2 as string)) END AS g",
            "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS v",
        )
        blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["g"])
        schema = arrow_schema_of(df)
        got = {
            r.g: r.total
            for r in scan_sum_by(blocks, schema, "g", "v").collect()
        }
        exp = {
            r.g: r.s
            for r in df.groupBy("g").agg(F.sum("v").alias("s")).collect()
        }
        assert got == exp

    def test_legacy_table_without_sums(self, spark, table):
        from aisle_spark.pipeline import scan_sum_by

        df, blocks, schema = table
        legacy = blocks.drop("n_tok__sum")
        got = {
            r.source: r.total
            for r in scan_sum_by(legacy, schema, "source", "n_tok").collect()
        }
        exp = {
            r.source: r.s
            for r in df.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
        }
        assert got == exp

    def test_rejects_bad_columns(self, spark, table):
        from aisle_spark.pipeline import scan_sum_by

        _df, blocks, schema = table
        with pytest.raises(TypeError, match="group column"):
            scan_sum_by(blocks, schema, "tokens", "n_tok")
        with pytest.raises(TypeError, match="integer and decimal"):
            scan_sum_by(blocks, schema, "source", "doc_id")
        with pytest.raises(KeyError):
            scan_sum_by(blocks, schema, "source", "nope")


class TestScanAvg:
    def test_int_avg_matches(self, spark, table):
        import math
        from fractions import Fraction

        from aisle_spark.pipeline import scan_avg

        df, blocks, schema = table
        for sql in (None, "source = 'web'", "n_tok BETWEEN 50 AND 4000"):
            got = scan_avg(blocks, schema, "n_tok", where=sql).collect()[0].avg
            base = df.filter(sql) if sql else df
            rows = [r.n_tok for r in base.select("n_tok").collect() if r.n_tok is not None]
            exp = Fraction(sum(rows), len(rows))
            assert math.isclose(got, float(exp), rel_tol=1e-8), sql

    def test_nulls_excluded_and_empty_null(self, spark):
        import math

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import scan_avg

        df = spark.range(3000).selectExpr(
            "id", "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS v"
        )
        blocks = encode_table(df, parts=2, block_rows=256)
        schema = arrow_schema_of(df)
        got = scan_avg(blocks, schema, "v").collect()[0].avg
        vals = [i for i in range(3000) if i % 5 != 0]
        assert math.isclose(got, sum(vals) / len(vals), rel_tol=1e-8)
        assert (
            scan_avg(blocks, schema, "v", where=col("id") > 10**9)
            .collect()[0]
            .avg
            is None
        )

    def test_decimal_avg_and_float_rejected(self, spark):
        import math

        from aisle_spark.pipeline import scan_avg

        df = spark.range(2000).selectExpr(
            "id", "cast(id * 1.37 as decimal(14,2)) AS amt"
        )
        blocks = encode_table(df, parts=1, block_rows=512)
        schema = arrow_schema_of(df)
        got = scan_avg(blocks, schema, "amt").collect()[0].avg
        exp = df.agg(F.avg("amt")).collect()[0][0]
        assert math.isclose(got, float(exp), rel_tol=1e-8)
        fdf = spark.range(10).selectExpr("id", "cast(id as double) AS x")
        fb = encode_table(fdf, parts=1)
        with pytest.raises(TypeError, match="order-dependent"):
            scan_avg(fb, arrow_schema_of(fdf), "x")

    def test_legacy_table_without_stats(self, spark, table):
        import math

        from aisle_spark.pipeline import scan_avg

        df, blocks, schema = table
        legacy = blocks.drop("n_tok__sum")
        got = scan_avg(legacy, schema, "n_tok").collect()[0].avg
        exp = df.agg(F.avg("n_tok")).collect()[0][0]
        assert math.isclose(got, float(exp), rel_tol=1e-8)


class TestScanMinMaxBy:
    def test_group_min_max_matches(self, spark, table):
        from aisle_spark.pipeline import scan_min_max_by

        df, blocks, schema = table
        for sql in (None, "n_tok > 200"):
            got = {
                r.source: (r.mn, r.mx)
                for r in scan_min_max_by(
                    blocks, schema, "source", "n_tok", where=sql
                ).collect()
            }
            base = df.filter(sql) if sql else df
            exp = {
                r.source: (r.mn, r.mx)
                for r in base.groupBy("source")
                .agg(F.min("n_tok").alias("mn"), F.max("n_tok").alias("mx"))
                .collect()
            }
            assert got == exp, sql

    def test_null_groups_and_rejections(self, spark):
        from aisle_spark.pipeline import scan_min_max_by

        df = spark.range(2000).selectExpr(
            "id",
            "CASE WHEN id % 6 = 0 THEN NULL ELSE concat('g', id % 2) END AS g",
            "cast(id as int) AS v",
        )
        blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["g"])
        schema = arrow_schema_of(df)
        got = {
            r.g: (r.mn, r.mx)
            for r in scan_min_max_by(blocks, schema, "g", "v").collect()
        }
        exp = {
            r.g: (r.mn, r.mx)
            for r in df.groupBy("g")
            .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
            .collect()
        }
        assert got == exp  # includes the NULL group
        with pytest.raises(TypeError, match="bounds"):
            # string value column: truncation bounds, not values
            scan_min_max_by(blocks, schema, "g", "g")


_RESULT_TYPES = {
    "scan_count": ((), [("cnt", "bigint")]),
    "scan_sum": (("n_tok",), [("total", "bigint")]),
    "scan_avg": (("n_tok",), [("avg", "double")]),
    "scan_min_max": (("n_tok",), [("mn", "int"), ("mx", "int")]),
    "scan_count_by": (("source",), [("source", "string"), ("cnt", "bigint")]),
    "scan_sum_by": (
        ("source", "n_tok"), [("source", "string"), ("total", "bigint")]
    ),
    "scan_min_max_by": (
        ("source", "n_tok"),
        [("source", "string"), ("mn", "int"), ("mx", "int")],
    ),
}


@pytest.mark.parametrize("name", sorted(_RESULT_TYPES))
def test_result_types_independent_of_path(spark, table, name):
    """Every answer path — all blocks sure, a decoded boundary, nothing
    kept, a legacy table without ``__sum`` — yields the same columns and
    types; a global aggregate always has one row, a grouped one none
    when no block can match."""
    import aisle_spark.pipeline as pl

    _df, blocks, schema = table
    args, types = _RESULT_TYPES[name]
    fn = getattr(pl, name)
    impossible = "n_tok > 1000000000"
    for label, tbl in (("full", blocks), ("legacy", blocks.drop("n_tok__sum"))):
        for where in (None, "n_tok >= -1", "n_tok BETWEEN 100 AND 3000",
                      impossible):
            out = fn(tbl, schema, *args, where=where)
            assert out.dtypes == types, (label, where)
            n = out.count()
            if name.endswith("_by"):
                assert (n == 0) == (where == impossible), (label, where)
            else:
                assert n == 1, (label, where)


_NOT_PROBE_AGGS = {
    "scan_count": ((), ["count(1) AS cnt"]),
    "scan_sum": (("id",), ["sum(id) AS total"]),
    "scan_avg": (("id",), ["avg(id) AS avg"]),
    "scan_min_max": (("id",), ["min(id) AS mn", "max(id) AS mx"]),
    "scan_count_by": (("g",), ["count(1) AS cnt"]),
    "scan_sum_by": (("g", "id"), ["sum(id) AS total"]),
    "scan_min_max_by": (("g", "id"), ["min(id) AS mn", "max(id) AS mx"]),
}


@pytest.fixture(scope="module")
def not_probes(spark):
    """Two tables on which a NOT leaves rows whose predicate is NULL:
    ``v`` is NULL on every 5th row under ``NOT (v < 5)``, and no map row
    holds the key ``zz`` under ``NOT (props['zz'] > 1)``. Every block's
    group ``g`` is single-valued, so the grouped aggregates have sure
    blocks too."""
    nulls = spark.range(2000).selectExpr(
        "id", "cast(id div 1024 AS int) AS g",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id + 10 END AS v",
    )
    maps = spark.range(1000).selectExpr(
        "id", "cast(id div 512 AS int) AS g", "map('k', id) AS props"
    )
    probes = []
    for df, where in (
        (nulls, ~(col("v") < 5)),
        (maps, ~(col("props").map_key("zz") > 1)),
    ):
        blocks = encode_table(df, parts=1, block_rows=512, sort_cols=["id"]).persist()
        probes.append((df, blocks, arrow_schema_of(df), where))
    yield probes
    for _df, blocks, _schema, _where in probes:
        blocks.unpersist()


@pytest.mark.parametrize("name", sorted(_NOT_PROBE_AGGS))
def test_not_counts_only_true_rows(spark, not_probes, name):
    """Under a NOT, a block with no FALSE row may still hold NULL rows,
    which do not match: every aggregate equals Spark's over the filter."""
    import aisle_spark.pipeline as pl

    args, aggs = _NOT_PROBE_AGGS[name]
    keys = args[:1] if name.endswith("_by") else ()
    for df, blocks, schema, where in not_probes:
        got = sorted(map(tuple, getattr(pl, name)(blocks, schema, *args, where=where).collect()))
        ref = df.filter(where.residual()).groupBy(*keys).agg(*map(F.expr, aggs))
        exp = sorted(map(tuple, ref.collect()))
        assert got == exp, (name, where)
