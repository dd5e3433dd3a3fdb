"""The engine as a Spark data source: ``spark.read.format("aisle")`` with
advisory filter pushdown (planning-time block pruning through the DuckDB
evidence dialect) and ``df.write.format("aisle")`` with manifest-commit
semantics."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from aisle_spark.datasource import (
    AisleReader,
    filters_to_spec,
    planned_files,
    register,
)
from aisle_spark.pipeline import arrow_schema_of, encode_table, load_manifest, write_encoded
from aisle_spark.schema import synth_batch


def _kept(blocks: list[dict] | None, spec, schema: pa.Schema) -> bool:
    """The file tier's verdict on one file whose blocks carry the stat
    rows ``blocks`` (block-schema names, ``{"v__min": 1, "v__nulls": 0}``;
    an absent stat is NULL, an absent ``n_rows`` 10), folded as a commit
    folds them — None: the file has no stats row. The predicate is
    normalized as ``AisleReader.partitions`` does."""
    from aisle_spark.chunkstats import fold_blocks
    from aisle_spark.datasource import _file_rows, _files_kept, coerce_temporals
    from aisle_spark.filterspec import utc_normalize
    from aisle_spark.schema import blocks_arrow_schema, specs_for_schema

    specs = specs_for_schema(schema)
    stats = None
    if blocks is not None:
        types = blocks_arrow_schema(specs)
        names = set().union(*blocks) | {"n_rows"}
        table = pa.table(
            {
                n: pa.array([b.get(n, 10 if n == "n_rows" else None) for b in blocks], types.field(n).type)
                for n in sorted(names)
            }
        )
        stats = fold_blocks(["f"], [table], [None], specs)
    where = utc_normalize(coerce_temporals(spec, schema))
    return bool(_files_kept(["f"], _file_rows(stats, ["f"], schema), where, schema))


def _b(c: str, lo, hi, nulls=None, n_rows: int = 10) -> dict:
    """One block's bounds, null count and rows for column ``c``."""
    return {f"{c}__min": lo, f"{c}__max": hi, f"{c}__nulls": nulls, "n_rows": n_rows}


def _stats(out: str) -> dict:
    """A table's committed stats rows, by file."""
    return {r["file"]: r for r in load_manifest(None, out, stats=True)["stats"].to_pylist()}


def _rewrite_stats(out: str, edit) -> None:
    """Replace every stats file of ``out`` with ``edit(table)`` (the file
    is unlinked first, so a hard-linked copy never writes through)."""
    import glob

    import pyarrow.parquet as pq

    for p in glob.glob(os.path.join(out, "_aisle_snapshots", "*.stats.parquet")):
        t = edit(pq.read_table(p))
        os.unlink(p)
        pq.write_table(t, p)


def _entries(parts):
    """Flattened (path, rows) pairs of a plan — unpacks combined
    small-file partitions."""
    return [e for p in parts for e in p.entries()]


@pytest.fixture(scope="module")
def encoded_dir(spark, tmp_path_factory):
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(1, 4000)]))
    blocks = encode_table(df, parts=4, block_rows=256, sort_cols=["source", "n_tok"])
    out = str(tmp_path_factory.mktemp("ds") / "enc")
    write_encoded(blocks, out, arrow_schema_of(df))
    register(spark)
    return df, out


class TestRead:
    def test_full_read_roundtrip(self, spark, encoded_dir):
        df, out = encoded_dir
        got = spark.read.format("aisle").load(out)
        assert sorted(got.columns) == sorted(df.columns)
        g = {r.doc_id for r in got.select("doc_id").collect()}
        e = {r.doc_id for r in df.select("doc_id").collect()}
        assert g == e

    def test_filtered_read_exact(self, spark, encoded_dir):
        from pyspark.sql import functions as F

        df, out = encoded_dir
        got = (
            spark.read.format("aisle")
            .load(out)
            .filter((F.col("source") == "books") & (F.col("n_tok") > 100))
        )
        exp = df.filter((F.col("source") == "books") & (F.col("n_tok") > 100))
        g = sorted(r.doc_id for r in got.select("doc_id").collect())
        e = sorted(r.doc_id for r in exp.select("doc_id").collect())
        assert g == e and g

    def test_filtered_read_all_types(self, spark, encoded_dir):
        from pyspark.sql import functions as F

        df, out = encoded_dir
        loaded = spark.read.format("aisle").load(out)
        preds = [
            F.col("doc_id").startswith("web-"),
            F.col("source").isin("web", "code"),
            F.col("n_tok").isNotNull() & (F.col("n_tok") <= 50),
            F.col("source") != "books",
            F.col("doc_id").contains("-00"),
        ]
        for p in preds:
            g = loaded.filter(p).count()
            e = df.filter(p).count()
            assert g == e, str(p)

    def test_planning_prunes_blocks(self, spark, encoded_dir):
        """The reader's partition planning must drop definitely-false
        blocks before any task is scheduled."""
        from pyspark.sql.datasource import EqualTo

        df, out = encoded_dir
        reader = AisleReader(out)
        all_parts = _entries(reader.partitions())
        total_blocks = sum(
            len(rows) if rows is not None else 1 for _p, rows in all_parts
        )
        reader2 = AisleReader(out)
        reader2.pushFilters([EqualTo(("source",), "books")])
        pruned = _entries(reader2.partitions())
        kept_blocks = sum(len(rows) for _p, rows in pruned)
        # blocks are sorted on source: 'books' must concentrate
        import pyarrow.parquet as pq

        n_total = sum(
            pq.read_metadata(p).num_rows for p, _rows in all_parts
        )
        assert 0 < kept_blocks < n_total

    def test_impossible_predicate_zero_partitions(self, spark, encoded_dir):
        from pyspark.sql import functions as F

        df, out = encoded_dir
        got = (
            spark.read.format("aisle").load(out).filter(F.col("source") == "zzz-nope")
        )
        assert got.count() == 0


class TestFilterTranslation:
    def test_translation_shapes(self):
        from pyspark.sql.datasource import (
            EqualNullSafe,
            EqualTo,
            GreaterThan,
            In,
            IsNotNull,
            Not,
            StringContains,
            StringStartsWith,
        )

        from aisle_spark.filterspec import (
            And,
            Cmp,
            InList,
            IsNull,
            Like,
            StartsWith,
        )
        from aisle_spark.filterspec import Not as SpecNot

        leaves = {"a", "s", "meta.lang"}
        spec = filters_to_spec(
            [
                EqualTo(("a",), 5),
                Not(GreaterThan(("a",), 9)),
                In(("s",), ("x", "y")),
                IsNotNull(("s",)),
                StringStartsWith(("s",), "pre"),
                StringContains(("s",), "mid"),
                EqualNullSafe(("meta", "lang"), None),
                EqualTo(("unknown",), 1),  # dropped
            ],
            leaves,
        )
        assert isinstance(spec, And)
        assert spec.parts == [
            Cmp("a", "eq", 5),
            SpecNot(Cmp("a", "gt", 9)),
            InList("s", ("x", "y")),
            IsNull("s", negated=True),
            StartsWith("s", "pre"),
            Like("s", "%mid%"),
            IsNull("meta.lang"),
        ]

    def test_wildcards_in_contains_not_translated(self):
        from pyspark.sql.datasource import StringContains

        assert filters_to_spec([StringContains(("s",), "a%b")], {"s"}) is None


class TestWrite:
    def test_write_read_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(2, 3000)]))
        register(spark)
        out = str(tmp_path / "w")
        (
            df.write.format("aisle")
            .option("sortCols", "source,n_tok")
            .option("blockRows", "512")
            .mode("overwrite")
            .save(out)
        )
        assert os.path.exists(os.path.join(out, "_aisle_files.json"))
        assert os.path.exists(os.path.join(out, "_aisle_schema.arrow"))
        got = spark.read.format("aisle").load(out)
        g = sorted(r.doc_id for r in got.select("doc_id").collect())
        e = sorted(r.doc_id for r in df.select("doc_id").collect())
        assert g == e

    def test_written_table_scannable_by_engine(self, spark, tmp_path):
        """A DataSource-written table is the same on-disk layout the
        library scan() reads — the two surfaces are interchangeable."""
        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import read_encoded, scan

        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(4, 2000)]))
        register(spark)
        out = str(tmp_path / "w2")
        df.write.format("aisle").option("sortCols", "source").mode("append").save(out)
        blocks, schema = read_encoded(spark, out)
        got = scan(blocks, schema, where=col("source") == "web", columns=["doc_id"])
        e = {r.doc_id for r in df.filter("source = 'web'").select("doc_id").collect()}
        assert {r.doc_id for r in got.collect()} == e

    def test_append_merges_manifest(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "w3")
        df1 = spark.createDataFrame(pa.Table.from_batches([synth_batch(5, 800)]))
        df2 = df1.withColumn("doc_id", F.concat(F.lit("b-"), F.col("doc_id")))
        df1.write.format("aisle").mode("append").save(out)
        df2.write.format("aisle").mode("append").save(out)
        got = spark.read.format("aisle").load(out)
        assert got.count() == df1.count() * 2

    def test_uncommitted_files_invisible(self, spark, tmp_path):
        """Manifest-commit: a stray parquet the manifest does not name is
        never read (failed/speculative attempt semantics)."""
        register(spark)
        out = str(tmp_path / "w4")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(6, 500)]))
        df.write.format("aisle").mode("append").save(out)
        n = spark.read.format("aisle").load(out).count()
        committed = load_manifest(None, out)["files"]
        import shutil

        shutil.copy(
            os.path.join(out, committed[0]), os.path.join(out, "part-orphan.parquet")
        )
        assert spark.read.format("aisle").load(out).count() == n


class TestWhereOption:
    def test_exact_where_option(self, spark, encoded_dir):
        df, out = encoded_dir
        got = (
            spark.read.format("aisle")
            .option("where", "source IN ('web','books') AND n_tok BETWEEN 10 AND 90")
            .load(out)
        )
        exp = df.filter("source IN ('web','books') AND n_tok BETWEEN 10 AND 90")
        assert sorted(r.doc_id for r in got.collect()) == sorted(
            r.doc_id for r in exp.collect()
        )

    def test_where_option_composes_with_filters(self, spark, encoded_dir):
        from pyspark.sql import functions as F

        df, out = encoded_dir
        got = (
            spark.read.format("aisle")
            .option("where", "doc_id LIKE 'code-%'")
            .load(out)
            .filter(F.col("n_tok") > 50)
        )
        exp = df.filter("doc_id LIKE 'code-%' AND n_tok > 50")
        assert got.count() == exp.count() > 0

    def test_where_float_literal_on_long_past_2_53(self, spark, tmp_path):
        """A long column meets a double literal as a double, in every tier
        and in the row mask: 2**53 + 1 rounds to 2**53, so one row
        matches, as in Spark."""
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "big")
        df = spark.range(1, 5).selectExpr("id + 9007199254740992 AS n")
        df.repartition(1).write.format("aisle").mode("append").save(out)
        exp = df.filter(F.col("n") == F.lit(9007199254740992.0)).count()
        got = (
            spark.read.format("aisle")
            .option("where", "n = 9007199254740992.0")
            .load(out)
            .count()
        )
        assert got == exp == 1

    def test_where_option_rejects_array_predicates(self, spark, encoded_dir):
        _df, out = encoded_dir
        with pytest.raises(Exception, match="not supported here"):
            spark.read.format("aisle").option(
                "where", "size(tokens) > 3"
            ).load(out).count()


def test_scan_accepts_sql_string(spark, encoded_dir):
    from aisle_spark.pipeline import read_encoded, scan

    df, out = encoded_dir
    blocks, schema = read_encoded(spark, out)
    got = scan(blocks, schema, where="source = 'web' AND n_tok >= 20", columns=["doc_id"])
    exp = df.filter("source = 'web' AND n_tok >= 20")
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in exp.select("doc_id").collect()
    )


def test_multi_rowgroup_filtered_read(spark, tmp_path):
    """>64 blocks => several parquet row groups; pruned reads must pick
    the right rows across row-group boundaries."""
    from pyspark.sql import functions as F

    register(spark)
    df = spark.createDataFrame(
        pa.Table.from_batches([synth_batch(7, 12000)])
    ).repartition(1)
    out = str(tmp_path / "rg")
    (
        df.write.format("aisle")
        .option("sortCols", "source,n_tok")
        .option("blockRows", "64")
        .mode("append")
        .save(out)
    )
    import pyarrow.parquet as pq

    f = _committed(out)
    assert pq.ParquetFile(f).num_row_groups >= 2
    loaded = spark.read.format("aisle").load(out)
    for pred in ("source = 'books' AND n_tok > 100", "n_tok BETWEEN 17 AND 23"):
        g = sorted(r.doc_id for r in loaded.filter(pred).collect())
        e = sorted(r.doc_id for r in df.filter(pred).collect())
        assert g == e and g, pred


def _committed(out):
    return os.path.join(out, load_manifest(None, out)["files"][0])


class TestColumnsOption:
    def test_projection(self, spark, encoded_dir):
        df, out = encoded_dir
        got = (
            spark.read.format("aisle")
            .option("columns", "doc_id,n_tok")
            .load(out)
        )
        assert got.columns == ["doc_id", "n_tok"]
        assert got.count() == df.count()

    def test_projection_with_filter_on_dropped_column(self, spark, encoded_dir):
        """where option may reference non-projected columns: they decode
        for the mask and are dropped from the output."""
        df, out = encoded_dir
        got = (
            spark.read.format("aisle")
            .option("columns", "doc_id")
            .option("where", "source = 'web' AND n_tok > 60")
            .load(out)
        )
        assert got.columns == ["doc_id"]
        e = sorted(
            r.doc_id for r in df.filter("source = 'web' AND n_tok > 60").collect()
        )
        assert sorted(r.doc_id for r in got.collect()) == e and e

    def test_projection_with_pushed_filter(self, spark, encoded_dir):
        from pyspark.sql import functions as F

        df, out = encoded_dir
        got = (
            spark.read.format("aisle")
            .option("columns", "doc_id,source")
            .load(out)
            .filter(F.col("source") == "code")
        )
        assert got.count() == df.filter("source = 'code'").count()

    def test_unknown_column_rejected(self, spark, encoded_dir):
        _df, out = encoded_dir
        with pytest.raises(Exception, match="unknown columns"):
            spark.read.format("aisle").option("columns", "nope").load(out).count()


class TestStreamRead:
    def test_stream_tails_manifest_commits(self, spark, tmp_path):
        """readStream picks up exactly the files committed since the last
        offset: run availableNow over the initial table, append a second
        write, run again with the same checkpoint — only new rows arrive."""
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "st")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        df1 = spark.createDataFrame(pa.Table.from_batches([synth_batch(21, 600)]))
        df1.write.format("aisle").mode("append").save(out)

        def run_once():
            q = (
                spark.readStream.format("aisle")
                .load(out)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        n1 = spark.read.parquet(sink).count()
        assert n1 == df1.count()

        df2 = df1.withColumn("doc_id", F.concat(F.lit("x-"), F.col("doc_id")))
        df2.write.format("aisle").mode("append").save(out)
        run_once()
        got = spark.read.parquet(sink)
        assert got.count() == df1.count() * 2
        assert got.filter(F.col("doc_id").startswith("x-")).count() == df1.count()

    def test_stream_with_where_and_columns(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "st2")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(22, 800)]))
        df.write.format("aisle").option("sortCols", "source").mode("append").save(out)
        sink = str(tmp_path / "sink2")
        q = (
            spark.readStream.format("aisle")
            .option("where", "source = 'web' AND n_tok > 40")
            .option("columns", "doc_id,n_tok,source")
            .load(out)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(sink)
        assert got.columns == ["doc_id", "n_tok", "source"]
        e = sorted(
            r.doc_id for r in df.filter("source = 'web' AND n_tok > 40").collect()
        )
        assert sorted(r.doc_id for r in got.collect()) == e and e


class TestFilesystemRouting:
    def test_file_uri_roundtrip(self, spark, tmp_path):
        """URI paths route through pyarrow.fs end-to-end (object-store
        mode exercised via file://): write, pruned read, append."""
        from pyspark.sql import functions as F

        register(spark)
        out = "file://" + str(tmp_path / "fsw")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(31, 900)]))
        df.write.format("aisle").option("sortCols", "source").mode("append").save(out)
        loaded = spark.read.format("aisle").load(out)
        assert loaded.count() == df.count()
        g = loaded.filter(F.col("source") == "web").count()
        assert g == df.filter("source = 'web'").count() > 0

    def test_subtree_fs_reader_and_writer(self, spark, tmp_path):
        """Direct reader/partition planning through an explicit pyarrow
        SubTreeFileSystem (no rename primitive on the commit path)."""
        from pyarrow import fs as pafs

        from aisle_spark.datasource import AisleReader

        register(spark)
        local_out = str(tmp_path / "sub")
        df = spark.createDataFrame(
            pa.Table.from_batches([synth_batch(32, 700)])
        ).repartition(1)
        df.write.format("aisle").option("sortCols", "source").option(
            "blockRows", "64"
        ).mode("append").save("file://" + local_out)
        # reader over the URI: planning must prune via the pyarrow branch
        from pyspark.sql.datasource import EqualTo

        r = AisleReader("file://" + local_out)
        r.pushFilters([EqualTo(("source",), "books")])
        parts = _entries(r.partitions())
        total = sum(len(rows) for _p, rows in parts)
        r2 = AisleReader("file://" + local_out)
        allparts = planned_files(r2.partitions())
        import pyarrow.parquet as pq

        sub = pafs.SubTreeFileSystem(local_out, pafs.LocalFileSystem())
        n_total = 0
        for pth in allparts:
            with sub.open_input_file(pth.rsplit("/", 1)[-1]) as fh:
                n_total += pq.ParquetFile(fh).metadata.num_rows
        assert 0 < total < n_total
        from aisle_spark.datasource import AislePartition

        rows = []
        for path, prows in parts:
            for b in r.read(AislePartition(path, prows)):
                rows.extend(b.column(0).to_pylist())
        assert rows


class TestHardening:
    def test_sql_over_loaded_view(self, spark, encoded_dir):
        """The SQL face: a temp view over the loaded source, with pushdown
        intact. (CREATE TABLE ... USING aisle parses, but this Spark build
        does not propagate catalog-table options to Python DataSource
        readers — the view route is the supported SQL surface.)"""
        df, out = encoded_dir
        spark.read.format("aisle").load(out).createOrReplaceTempView("aisle_v")
        n = spark.sql(
            "SELECT count(*) AS n FROM aisle_v WHERE source = 'web'"
        ).collect()[0].n
        assert n == df.filter("source = 'web'").count() > 0

    def test_append_schema_mismatch_rejected(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "g")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(72, 300)]))
        df.write.format("aisle").mode("append").save(out)
        bad = df.withColumnRenamed("n_tok", "ntok2")
        with pytest.raises(Exception, match="does not match the"):
            bad.write.format("aisle").mode("append").save(out)
        # overwrite with the new schema is allowed
        bad.write.format("aisle").mode("overwrite").save(out)
        assert "ntok2" in spark.read.format("aisle").load(out).columns

    def test_empty_dataframe_write_and_read(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "e")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(73, 50)]))
        df.filter("n_tok < 0").write.format("aisle").mode("append").save(out)
        got = spark.read.format("aisle").load(out)
        assert got.count() == 0
        assert sorted(got.columns) == sorted(df.columns)


class TestFileLevelPruning:
    """Two-tier pruning: the manifest-list level (per-file stats rows
    beside each snapshot) must drop whole files before any manifest row is
    scanned — and never drop a file whose blocks could match."""

    @pytest.fixture()
    def per_source_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "fp")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(81, 2000)]))
        for src in ("books", "web", "code"):
            df.filter(F.col("source") == src).repartition(1).write.format(
                "aisle"
            ).option("sortCols", "n_tok").mode("append").save(out)
        return df, out

    def test_manifest_carries_file_stats(self, spark, per_source_files):
        _df, out = per_source_files
        m = load_manifest(None, out)
        st = _stats(out)
        assert set(st) == set(m["files"])
        some = next(iter(st.values()))
        assert some["n_tok__min"] <= some["n_tok__max"]
        mn, mx = some["source__min"], some["source__max"]
        assert isinstance(mn, str) and mn <= mx

    def test_whole_files_skipped_at_planning(self, spark, per_source_files):
        from pyspark.sql.datasource import EqualTo

        from aisle_spark.datasource import AisleReader

        _df, out = per_source_files
        r = AisleReader(out)
        r.pushFilters([EqualTo(("source",), "web")])
        touched = set(planned_files(r.partitions()))
        assert len(touched) == 1  # exactly the 'web' file

    def test_file_tier_prunes_an_or(self, spark, per_source_files):
        """An Or of two eqs keeps exactly the one file that can match."""
        from aisle_spark.datasource import _files_kept, _manifest_of
        from aisle_spark.pipeline import _read_sidecar_schema
        from aisle_spark.filterspec import col

        _df, out = per_source_files
        schema = _read_sidecar_schema(None, out)
        files, rows = _manifest_of(None, out, schema)
        spec = (col("source") == "web") | (col("source") == "news")
        kept = _files_kept(files, rows, spec, schema)
        st = _stats(out)
        bounds = [st[os.path.basename(f)] for f in kept]
        assert [(b["source__min"], b["source__max"]) for b in bounds] == [("web", "web")]

    def test_file_tier_superset_of_block_survivors(
        self, spark, per_source_files, monkeypatch
    ):
        """Stripping the file stats must never ADD result files —
        file-level pruning only removes files whose every block was
        doomed anyway."""
        import random

        import aisle_spark.pipeline as pl
        from aisle_spark.datasource import AisleReader
        from tests.test_random_predicates import _rand_spec

        _df, out = per_source_files
        rng = random.Random(7)
        for _ in range(15):
            spec = _rand_spec(rng)
            r = AisleReader(out)
            r.spec = spec
            with_stats = dict(_entries(r.partitions()))
            with monkeypatch.context() as mp:
                mp.setattr(pl, "snapshot_stats", lambda *a, **k: None)
                r2 = AisleReader(out)
                r2.spec = spec
                without = dict(_entries(r2.partitions()))
            assert with_stats == without, repr(spec)

    def test_results_exact_with_file_pruning(self, spark, per_source_files):
        from pyspark.sql import functions as F

        df, out = per_source_files
        got = (
            spark.read.format("aisle")
            .load(out)
            .filter((F.col("source") == "web") & (F.col("n_tok") > 50))
        )
        exp = df.filter("source = 'web' AND n_tok > 50")
        assert sorted(r.doc_id for r in got.collect()) == sorted(
            r.doc_id for r in exp.collect()
        )

    def test_compact_regenerates_file_stats(self, spark, per_source_files):
        from pyspark.sql.datasource import EqualTo

        from aisle_spark.datasource import AisleReader
        from aisle_spark.maintenance import compact_encoded

        df, out = per_source_files
        compact_encoded(spark, out, target_files=3, order_by="source")
        m = load_manifest(None, out)
        st = _stats(out)
        assert st and set(st) == set(m["files"])
        r = AisleReader(out)
        r.pushFilters([EqualTo(("source",), "web")])
        touched = set(planned_files(r.partitions()))
        assert 0 < len(touched) < 3
        got = spark.read.format("aisle").load(out)
        assert got.count() == df.filter(
            "source IN ('books','web','code')"
        ).count()


class TestStatsFiles:
    """Each commit's stats rows live in a parquet file beside its
    snapshot; manifests from before them read as having no file stats."""

    @pytest.fixture()
    def three_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "sf")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(83, 1500)]))
        for src in ("books", "web", "code"):
            df.filter(F.col("source") == src).repartition(1).write.format(
                "aisle"
            ).mode("append").save(out)
        return df, out

    def test_legacy_json_stats_read_as_none(self, spark, three_files):
        """A manifest whose stats are JSON ``file_stats`` has no stats
        file: Unknown, so the file tier keeps every file and results stay
        exact; compaction folds stats rows again."""
        from aisle_spark.datasource import _files_kept, _manifest_of
        from aisle_spark.pipeline import _read_sidecar_schema
        from aisle_spark.filterspec import col
        from aisle_spark.maintenance import compact_encoded

        df, out = three_files
        snaps = os.path.join(out, "_aisle_snapshots")
        legacy = {"source": ["web", "web", 0, 500]}
        for name in os.listdir(snaps):
            p = os.path.join(snaps, name)
            if name.endswith(".stats.parquet"):
                os.remove(p)
                continue
            snap = json.load(open(p))
            del snap["stats"]
            if "delta_base" in snap:
                snap.update(set_stats={"f": legacy}, del_stats=[])
            else:
                snap["file_stats"] = {f: legacy for f in snap["files"]}
            json.dump(snap, open(p, "w"))
        schema = _read_sidecar_schema(None, out)
        where = col("source") == "code"
        files, rows = _manifest_of(None, out, schema)
        assert rows.column("n_rows").null_count == 3
        assert _files_kept(files, rows, where, schema) == files
        got = spark.read.format("aisle").option("where", "source = 'code'").load(out)
        assert got.count() == df.filter("source = 'code'").count()
        compact_encoded(spark, out, target_files=2, order_by="source")
        files, rows = _manifest_of(None, out, schema)
        assert rows.column("n_rows").null_count == 0
        assert len(_files_kept(files, rows, where, schema)) == 1
        written = df.filter("source IN ('books', 'web', 'code')").count()
        assert spark.read.format("aisle").load(out).count() == written

    def test_missing_stats_file_raises(self, spark, three_files):
        from aisle_spark.pipeline import read_snapshot

        _df, out = three_files
        snaps = os.path.join(out, "_aisle_snapshots")
        for name in os.listdir(snaps):
            if name.endswith(".stats.parquet"):
                os.remove(os.path.join(snaps, name))
        assert read_snapshot(None, out, 3)["files"]  # files alone still read
        with pytest.raises(FileNotFoundError):
            read_snapshot(None, out, 3, stats=True)
        with pytest.raises(FileNotFoundError):
            AisleReader(out).partitions()


def test_stream_not_reemitted_by_compaction(spark, tmp_path):
    """Snapshot-version offsets: OPTIMIZE between micro-batches must not
    re-emit already-streamed rows (filename-diff offsets would)."""
    from pyspark.sql import functions as F

    from aisle_spark.maintenance import compact_encoded

    register(spark)
    out = str(tmp_path / "sc")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(55, 500)]))
    for i in range(3):
        df.filter(F.crc32(F.col("doc_id")) % 3 == i).write.format("aisle").mode(
            "append"
        ).save(out)

    def run_once():
        q = (
            spark.readStream.format("aisle")
            .load(out)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(sink).count() == df.count()
    compact_encoded(spark, out, target_files=1)
    run_once()  # compaction emitted a new snapshot: nothing new to stream
    assert spark.read.parquet(sink).count() == df.count()
    extra = df.limit(40).withColumn("doc_id", F.concat(F.lit("n-"), F.col("doc_id")))
    extra.write.format("aisle").mode("append").save(out)
    run_once()
    assert spark.read.parquet(sink).count() == df.count() + 40


class TestTypedFileStats:
    """Manifest-list (whole-file) pruning for timestamp/date/decimal/
    duration columns (VERDICT r3 missing #1): bounds are stored in a
    JSON-safe canonical domain (epoch-µs / epoch-days / µs / exact
    decimal string) and planning drops whole files on them — the file
    granularity of the reference's stats pruning
    (/root/reference/src/prune/stats.rs:120-157, 365-410)."""

    N = 3000  # rows; three appends of N/3 each => 3 files, disjoint ranges

    @pytest.fixture()
    def typed_files(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "typed")
        df = spark.range(self.N).selectExpr(
            "concat('e-', lpad(cast(id as string), 6, '0')) AS eid",
            "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, cast(id as int), 0) AS ts",
            "date_add(date'2024-01-01', cast(id / 100 as int)) AS d",
            "cast(id + 0.25 as decimal(12,2)) AS price",
            "make_dt_interval(0, 0, 0, cast(id as int)) AS dur",
            "cast(id as int) AS n",
        )
        third = self.N // 3
        for lo in (0, third, 2 * third):
            df.filter(f"n >= {lo} AND n < {lo + third}").repartition(
                1
            ).write.format("aisle").option("sortCols", "ts").mode("append").save(out)
        return df, out

    def test_bounds_are_typed(self, spark, typed_files):
        import datetime as dt
        import decimal

        _df, out = typed_files
        m = load_manifest(None, out)
        assert len(m["files"]) == 3
        sts = _stats(out)
        assert set(sts) == set(m["files"])
        for st in sts.values():
            for c, t in (
                ("ts", dt.datetime), ("d", dt.date), ("dur", dt.timedelta),
                ("price", decimal.Decimal), ("n", int),
            ):
                lo, hi = st[f"{c}__min"], st[f"{c}__max"]
                assert isinstance(lo, t) and isinstance(hi, t) and lo <= hi
        # minute 0 of the table is 2024-01-01T00:00Z
        all_lo = min(st["ts__min"] for st in sts.values())
        assert all_lo == dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def _one_file_planned(self, out, where):
        r = AisleReader(out, where=where)
        return planned_files(r.partitions())

    def test_planning_drops_whole_files_per_type(self, spark, typed_files):
        df, out = typed_files
        third = self.N // 3
        cases = [
            # last third only: minute >= 2*third
            (f"ts >= TIMESTAMP '2024-01-02 09:20:00'", 1),   # minute 2000
            (f"d >= DATE '2024-01-21'", 1),                   # id >= 2000
            (f"price <= 999.25", 1),                          # first file
            (f"dur >= INTERVAL {2 * third} SECONDS", 1),      # last file
            (f"ts < TIMESTAMP '2023-12-31 00:00:00'", 0),     # before table
        ]
        for where, n_files in cases:
            got = self._one_file_planned(out, where)
            assert len(got) == n_files, (where, got)

    def test_results_exact_with_typed_file_pruning(self, spark, typed_files):
        df, out = typed_files
        for where, sql in [
            ("ts >= TIMESTAMP '2024-01-02 09:20:00'", "ts >= '2024-01-02 09:20:00'"),
            ("d >= DATE '2024-01-21'", "d >= DATE '2024-01-21'"),
            ("price <= 999.25", "price <= 999.25"),
        ]:
            got = (
                spark.read.format("aisle")
                .option("where", where)
                .load(out)
                .select("eid")
            )
            exp = df.filter(sql).select("eid")
            assert sorted(r.eid for r in got.collect()) == sorted(
                r.eid for r in exp.collect()
            ), where

    def test_cross_domain_date_literal_on_timestamp(self, spark, typed_files):
        """ADVICE r4 high e2e: DATE literal on a timestamp column — the
        pre-fix planner compared epoch-days to epoch-µs and pruned all
        files even though every row matches."""
        df, out = typed_files
        assert len(self._one_file_planned(out, "ts < DATE '2024-06-01'")) == 3
        n = (
            spark.read.format("aisle")
            .option("where", "ts < DATE '2024-06-01'")
            .load(out)
            .count()
        )
        assert n == self.N
        # the coerced midnight literal still prunes when it genuinely can
        kept = self._one_file_planned(out, "ts >= DATE '2024-01-02'")
        assert 0 < len(kept) < 3
        n = (
            spark.read.format("aisle")
            .option("where", "ts >= DATE '2024-01-02'")
            .load(out)
            .count()
        )
        assert n == df.filter("ts >= timestamp'2024-01-02 00:00:00'").count()

    def test_compaction_recomputes_typed_bounds(self, spark, typed_files):
        from aisle_spark.maintenance import compact_encoded

        df, out = typed_files
        compact_encoded(spark, out, target_files=3, order_by="ts")
        for st in _stats(out).values():
            assert st["ts__min"] is not None and st["d__max"] is not None
        # time-clustered output: a narrow time-range query still avoids
        # touching every file, and results stay exact
        got = self._one_file_planned(out, "ts >= TIMESTAMP '2024-01-02 09:55:00'")
        assert 0 < len(got) < 3
        n = (
            spark.read.format("aisle")
            .option("where", "ts >= TIMESTAMP '2024-01-02 09:55:00'")
            .load(out)
            .count()
        )
        assert n == df.filter("ts >= '2024-01-02 09:55:00'").count()


class TestMapKeyFileStats:
    """Per-file map key-set evidence (VERDICT r4 missing #3): the block
    dictionary-hint discipline one level up — a key provably absent from
    a whole file prunes ``props['k'] op v`` at planning time."""

    @pytest.fixture()
    def map_files(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "maps")
        # 3 appends with DISJOINT key sets: k0 only in file 0, etc.
        for i in range(3):
            df = spark.range(400).selectExpr(
                f"concat('e{i}-', id) AS eid",
                f"map(concat('k', {i}), cast(id as string), 'shared', 'x') "
                "AS props",
            )
            df.repartition(1).write.format("aisle").mode("append").save(out)
        return out

    def test_manifest_carries_key_sets(self, spark, map_files):
        m = load_manifest(None, map_files)
        assert len(m["files"]) == 3
        seen = []
        for st in _stats(map_files).values():
            ks = st["props__keys"]
            assert "shared" in ks and len(ks) == 2
            seen.append([k for k in ks if k != "shared"][0])
        assert sorted(seen) == ["k0", "k1", "k2"]

    def test_planning_drops_keyless_files(self, spark, map_files):
        r = AisleReader(map_files, where="props['k1'] = '7'")
        assert len(planned_files(r.partitions())) == 1
        r = AisleReader(map_files, where="props['shared'] = 'x'")
        assert len(planned_files(r.partitions())) == 3
        r = AisleReader(map_files, where="props['nope'] = 'x'")
        assert list(r.partitions()) == []
        # absence prunes for EVERY op: missing key evaluates NULL
        r = AisleReader(map_files, where="props['k1'] <> 'zzz'")
        assert len(planned_files(r.partitions())) == 1

    def test_results_exact_through_where_option(self, spark, map_files):
        got = (
            spark.read.format("aisle")
            .option("where", "props['k1'] = '7'")
            .load(map_files)
            .select("eid")
            .collect()
        )
        assert sorted(r.eid for r in got) == ["e1-7"]
        got = (
            spark.read.format("aisle")
            .option("where", "props['shared'] = 'x' AND props['k2'] >= '350'")
            .load(map_files)
            .count()
        )
        # string comparison: '350'..'399' plus '36'..'39' etc — compare
        # against Spark's own evaluation for exactness
        exp = (
            spark.read.format("aisle").load(map_files)
            .filter("try_element_at(props, 'shared') = 'x' AND "
                    "try_element_at(props, 'k2') >= '350'")
            .count()
        )
        assert got == exp and got > 0

    def test_compaction_recomputes_key_sets(self, spark, map_files):
        from aisle_spark.maintenance import compact_encoded

        compact_encoded(spark, map_files, target_files=1)
        m = load_manifest(None, map_files)
        assert len(m["files"]) == 1
        st = next(iter(_stats(map_files).values()))
        assert st["props__keys"] == ["k0", "k1", "k2", "shared"]

    def test_nested_struct_map_key_sets_recorded(self, spark, tmp_path):
        """A map nested inside a struct gets per-file key evidence for
        free through the dotted leaf name (wrap.props) — folded at the
        writer's commit and again at compaction."""
        from aisle_spark.maintenance import compact_encoded

        register(spark)
        out = str(tmp_path / "nmap")
        for i in range(2):
            df = spark.range(200).selectExpr(
                f"concat('e{i}-', id) AS eid",
                f"named_struct('props', map(concat('k', {i}), id)) AS wrap",
            )
            df.repartition(1).write.format("aisle").mode("append").save(out)
        keysets = sorted(tuple(st["wrap.props__keys"]) for st in _stats(out).values())
        assert keysets == [("k0",), ("k1",)]
        compact_encoded(spark, out, target_files=1)
        st = next(iter(_stats(out).values()))
        assert st["wrap.props__keys"] == ["k0", "k1"]

    def test_too_many_keys_is_no_evidence(self, spark, tmp_path):
        from aisle_spark.schema import MAP_KEYS_MAX

        register(spark)
        out = str(tmp_path / "widemap")
        df = spark.range(300).selectExpr(
            "concat('e-', id) AS eid",
            f"map(concat('k', id % {MAP_KEYS_MAX + 8}), 'v') AS props",
        )
        df.repartition(1).write.format("aisle").mode("append").save(out)
        st = next(iter(_stats(out).values()))
        assert st["props__keys"] is None  # exact-or-nothing
        # no evidence => every file kept, results stay exact
        got = (
            spark.read.format("aisle")
            .option("where", "props['k3'] = 'v'")
            .load(out)
            .count()
        )
        assert got == df.filter("try_element_at(props, 'k3') = 'v'").count()


class TestFileKeepDomains:
    """File-tier semantics in each column's stat type: one file's blocks
    folded into its stats row and run through the block tier's
    tri-state."""

    def test_timestamp_domain(self):
        import datetime as dt

        from aisle_spark.filterspec import col

        utc = dt.timezone.utc
        stats = [_b("ts", dt.datetime(2024, 1, 1, tzinfo=utc), dt.datetime(2024, 1, 2, tzinfo=utc))]
        sch = pa.schema([("ts", pa.timestamp("us", tz="UTC"))])
        assert not _kept(stats, col("ts") > dt.datetime(2024, 1, 3, tzinfo=utc), sch)
        assert _kept(stats, col("ts") > dt.datetime(2024, 1, 1, 12, tzinfo=utc), sch)
        assert not _kept(stats, col("ts") < dt.datetime(2023, 12, 1, tzinfo=utc), sch)

    def test_date_and_duration_domains(self):
        import datetime as dt

        from aisle_spark.filterspec import col

        stats = [{
            **_b("d", dt.date(2024, 1, 1), dt.date(2024, 1, 31)),
            **_b("dur", dt.timedelta(seconds=10), dt.timedelta(seconds=500)),
        }]
        sch = pa.schema([("d", pa.date32()), ("dur", pa.duration("us"))])
        assert not _kept(stats, col("d") > dt.date(2024, 2, 2), sch)
        assert _kept(stats, col("d") == dt.date(2024, 1, 15), sch)
        assert not _kept(stats, col("dur") > dt.timedelta(seconds=600), sch)
        assert _kept(stats, col("dur") >= dt.timedelta(seconds=499), sch)

    def test_cross_domain_literals(self):
        """ADVICE r4 high: a DATE literal against a timestamp column (or a
        datetime against a date column) must never compare epoch-days to
        epoch-µs — coerce into the column's domain or keep the file."""
        import datetime as dt

        from aisle_spark.filterspec import col

        utc = dt.timezone.utc
        ts_stats = [_b("ts", dt.datetime(2024, 1, 1, tzinfo=utc), dt.datetime(2024, 1, 31, tzinfo=utc))]
        ts = pa.schema([("ts", pa.timestamp("us", tz="UTC"))])
        # every row matches ts < DATE '2024-06-01' — comparing epoch-days
        # to epoch-µs would silently prune the file
        assert _kept(ts_stats, col("ts") < dt.date(2024, 6, 1), ts)
        # the coercion is real, not a blanket keep: midnight 2024-06-01
        # epoch-µs correctly excludes this January file for ">"
        assert not _kept(ts_stats, col("ts") > dt.date(2024, 6, 1), ts)

        d_stats = [_b("d", dt.date(2024, 1, 1), dt.date(2024, 1, 31))]
        # datetime literal vs date column: epoch-days can't hold sub-day
        # precision — no evidence, file kept (epoch-µs is a huge int, so
        # "d > datetime" compared as ints would prune every file)
        assert _kept(
            d_stats, col("d") > dt.datetime(2024, 1, 1), pa.schema([("d", pa.date32())])
        )
        # duration literal vs non-duration column: no evidence
        assert _kept(ts_stats, col("ts") > dt.timedelta(seconds=1), ts)

    def test_decimal_domain_exact_strings(self):
        from decimal import Decimal

        from aisle_spark.filterspec import col

        # lexicographic comparison of these as strings would invert:
        # "9.50" > "10.20"
        stats = [_b("price", Decimal("9.50"), Decimal("10.20"))]
        sch = pa.schema([("price", pa.decimal128(12, 2))])
        assert _kept(stats, col("price") >= Decimal("10"), sch)
        assert not _kept(stats, col("price") > Decimal("10.20"), sch)
        assert not _kept(stats, col("price") < Decimal("9.50"), sch)
        # INT literal vs decimal domain coerces exactly and prunes (the
        # where-grammar path: "l_price >= 60000" parses as Python int)
        assert not _kept(stats, col("price") > 11, sch)
        assert _kept(stats, col("price") > 10, sch)
        # float literal: the decimal compares as a double, as in Spark
        assert not _kept(stats, col("price") > 11.0, sch)

    def test_decimal_domain_exact_float_literals(self):
        import math
        from decimal import Decimal

        from aisle_spark.filterspec import col

        stats = [_b("price", Decimal("9.50"), Decimal("10.25"))]
        sch = pa.schema([("price", pa.decimal128(12, 2))])
        # Spark compares a float literal with the decimal cast to double;
        # each bound's double is the correctly rounded unscaled / 10**2
        assert not _kept(stats, col("price") > 11.0, sch)
        assert not _kept(stats, col("price") > 10.25, sch)
        assert _kept(stats, col("price") >= 10.25, sch)
        assert not _kept(stats, col("price") < 9.50, sch)
        assert _kept(stats, col("price") <= 9.50, sch)
        assert not _kept(stats, col("price") == 60000.00, sch)
        # off-grid literals compare in double too: 9.5 >= 0.1 everywhere,
        # 10.25 > 10.2 may match
        assert not _kept(stats, col("price") < 0.10, sch)
        assert _kept(stats, col("price") > 10.20, sch)
        # past every bound, however coarse its ulp, and non-finite
        assert not _kept(stats, col("price") > float(2**60), sch)
        assert not _kept(stats, col("price") > math.inf, sch)
        # int and Decimal literals keep working against the scaled domain
        assert not _kept(stats, col("price") > 11, sch)
        assert not _kept(stats, col("price") > Decimal("10.25"), sch)

    def test_nan_bound_poisons_merge(self):
        """``pc.min_max`` skips NaN, but Spark orders NaN greatest: a NaN
        block bound makes that side of the file bound NULL."""
        import math

        from aisle_spark.filterspec import col

        sch = pa.schema([("x", pa.float64())])
        nan_block = [_b("x", 1.0, 5.0, 0), _b("x", 2.0, math.nan, 0)]
        # a NaN-bearing file must stay for x > v under NaN-greatest order
        assert _kept(nan_block, col("x") > 100.0, sch)
        assert not _kept(nan_block, col("x") < 0.5, sch)  # min side intact
        assert _kept([_b("x", math.nan, math.nan), _b("x", 2.0, 3.0)], col("x") < 0.5, sch)
        # a NaN literal too: every non-NaN value is < NaN, NaN == NaN
        clean = [_b("x", 1.0, 5.0, 0)]
        assert _kept(clean, col("x") < math.nan, sch)
        assert _kept(nan_block, col("x") == math.nan, sch)
        assert not _kept(clean, col("x") > math.nan, sch)
        f32 = pa.schema([("x", pa.float32())])
        assert _kept([_b("x", 1.0, math.nan, 0)], col("x") > 100.0, f32)

    def test_string_bounds_stay_lexicographic(self):
        from aisle_spark.filterspec import col

        # string columns keep plain string comparison: "10" < "9"
        stats = [_b("s", "10", "9")]
        sch = pa.schema([("s", pa.string())])
        assert not _kept(stats, col("s") > "95", sch)
        assert _kept(stats, col("s") == "42", sch)

    def test_shapes_beyond_conjunctions(self):
        """Or, Not, ne and nested connectives prune files through the
        same tri-state as blocks."""
        from aisle_spark.filterspec import col

        stats = [{**_b("v", 5, 5, 0), "m__keys": ["a", "b"]}]
        sch = pa.schema([("v", pa.int64()), ("m", pa.map_(pa.string(), pa.int64()))])
        assert not _kept(stats, (col("v") == 4) | (col("v") == 6), sch)
        assert _kept(stats, (col("v") == 4) | (col("v") == 5), sch)
        assert not _kept(stats, ~(col("v") != 6), sch)
        assert _kept(stats, ~(col("v") != 5), sch)
        assert not _kept(stats, col("v") != 5, sch)  # single-valued, no nulls
        assert not _kept(stats, col("v").is_null() | (col("v") == 6), sch)
        assert not _kept(stats, (col("m").map_key("z") == 1) | (col("v") == 6), sch)
        assert _kept(stats, (col("m").map_key("a") == 1) | (col("v") == 6), sch)

    def test_malformed_entries_keep(self):
        """Stats are read from disk: a stats column that does not cast to
        its stat type, or a file without a row, gives no evidence — the
        file is kept, never an error."""
        from aisle_spark.datasource import _file_rows, _files_kept
        from aisle_spark.filterspec import col

        sch = pa.schema([
            ("i", pa.int32()),
            ("b", pa.bool_()),
            ("f", pa.float32()),
            ("m", pa.map_(pa.string(), pa.int64())),
        ])
        spec = (
            (col("i") > 5) & (col("b") == 1) & (col("f") > 0.5)
            & (col("m").map_key("z") == 1)
        )

        def kept(stats: pa.Table | None, where=spec) -> bool:
            return bool(_files_kept(["f"], _file_rows(stats, ["f"], sch), where, sch))

        bad = pa.table({
            "file": ["f"],
            "n_rows": pa.array(["many"]),
            "i__min": pa.array(["x"]),
            "i__max": pa.array([2**40]),  # overflows the int32 stat type
            "b__min": pa.array([[1]]),
            "b__max": pa.array([{"a": 1}]),
            "f__min": pa.array([b"\x00"]),
            "f__max": pa.array([b"\x01"]),
            "m__keys": pa.array([7]),
        })
        assert kept(bad)
        assert kept(None) and kept(bad.slice(0, 0))  # no row for the file
        good = pa.table({"file": ["f"], "i__min": pa.array([1]), "i__max": pa.array([2])})
        assert not kept(good)  # a row that casts still prunes
        assert kept(good.set_column(0, "file", pa.array(["g"])))  # another file's row

    def test_fold_poisons_unknown_blocks(self):
        """A NULL block bound, a NULL ``__nulls`` and NULL or more than
        ``MAP_KEYS_MAX`` keys each make the file's stat NULL."""
        from aisle_spark.filterspec import col
        from aisle_spark.schema import MAP_KEYS_MAX

        sch = pa.schema([("v", pa.int64()), ("m", pa.map_(pa.string(), pa.int64()))])
        assert not _kept([_b("v", 1, 9, 0), _b("v", 2, 4, 0)], col("v") > 9, sch)
        assert _kept([_b("v", 1, 9, 0), _b("v", 2, None, 0)], col("v") > 9, sch)
        assert _kept([_b("v", 1, 9, 0), _b("v", None, 4, 0)], col("v") < 1, sch)
        assert not _kept([_b("v", 1, 9, 0), _b("v", 2, 4, 0)], col("v").is_null(), sch)
        assert _kept([_b("v", 1, 9, 0), _b("v", 2, 4, None)], col("v").is_null(), sch)
        # all-null file: both sides' counts are known
        assert not _kept([_b("v", None, None, 10), _b("v", None, None, 10)], col("v").is_not_null(), sch)
        keys = [{"m__keys": ["a"]}, {"m__keys": ["b"]}]
        assert not _kept(keys, col("m").map_key("z") == 1, sch)
        assert _kept(keys, col("m").map_key("b") == 1, sch)
        assert _kept(keys + [{"m__keys": None}], col("m").map_key("z") == 1, sch)
        wide = [{"m__keys": [f"k{i}" for i in range(j, j + MAP_KEYS_MAX)]} for j in (0, 1)]
        assert _kept(wide, col("m").map_key("z") == 1, sch)  # union of 65 keys

    def test_duration_folds_through_int64(self):
        """``duration`` has no ``min_max`` kernel: the fold runs it as
        int64 and the file bound comes back a duration."""
        import datetime as dt

        from aisle_spark.chunkstats import fold_blocks
        from aisle_spark.schema import specs_for_schema

        sch = pa.schema([("dur", pa.duration("us"))])
        blocks = pa.table({
            "n_rows": pa.array([3, 4], pa.int32()),
            "dur__min": pa.array([dt.timedelta(seconds=5), dt.timedelta(seconds=2)], pa.duration("us")),
            "dur__max": pa.array([dt.timedelta(seconds=9), dt.timedelta(seconds=7)], pa.duration("us")),
        })
        row = fold_blocks(["f"], [blocks], [100], specs_for_schema(sch)).to_pylist()[0]
        assert (row["dur__min"], row["dur__max"]) == (dt.timedelta(seconds=2), dt.timedelta(seconds=9))
        assert (row["n_rows"], row["__bytes"]) == (7, 100)


class _CountingFS:
    """Delegating pyarrow-fs wrapper that records how many
    open_input_file calls run concurrently (and in total)."""

    def __init__(self, inner):
        import threading

        self._inner = inner
        self._lock = threading.Lock()
        self.active = 0
        self.max_active = 0
        self.opens = 0
        self.reads: dict[str, int] = {}  # open_input_stream calls per path

    def open_input_file(self, path):
        import time

        with self._lock:
            self.active += 1
            self.opens += 1
            self.max_active = max(self.max_active, self.active)
        time.sleep(0.02)  # widen the overlap window so parallelism shows
        try:
            return self._inner.open_input_file(path)
        finally:
            with self._lock:
                self.active -= 1

    def open_input_stream(self, path):
        with self._lock:
            self.reads[path] = self.reads.get(path, 0) + 1
        return self._inner.open_input_stream(path)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TestParallelPlanningIO:
    """Object-store planning must overlap per-file metadata round-trips
    under a bounded thread pool (VERDICT r3 wrong #2): serial footer
    fetches at 10^5 files x ~50ms would be hours of planning."""

    N_FILES = 6

    @pytest.fixture()
    def many_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "many")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(3, 1800)]))
        for i in range(self.N_FILES):
            df.filter(F.crc32(F.col("doc_id")) % self.N_FILES == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        return out

    def test_reader_planning_is_parallel_and_bounded(self, spark, many_files):
        from aisle_spark.datasource import _PLANNING_IO_THREADS, AisleReader
        from aisle_spark.filterspec import col

        r = AisleReader("file://" + many_files)
        r.spec = col("n_tok") >= -1  # keeps every file => all fetched
        fsw = _CountingFS(r.fs)
        r.fs = fsw
        parts = r.partitions()
        assert len(planned_files(parts)) == self.N_FILES
        assert fsw.opens == self.N_FILES  # one stat projection per file
        assert 2 <= fsw.max_active <= _PLANNING_IO_THREADS

    def test_recompute_file_stats_is_parallel_and_bounded(self, spark, many_files):
        from aisle_spark.datasource import _PLANNING_IO_THREADS, _fs_of
        from aisle_spark.pipeline import _read_sidecar_schema, fold_file_stats
        from aisle_spark.schema import specs_for_schema

        fs, root = _fs_of("file://" + many_files)
        fsw = _CountingFS(fs)
        files = load_manifest(None, many_files)["files"]
        specs = specs_for_schema(_read_sidecar_schema(fs, root))
        stats = fold_file_stats(fsw, root, files, specs)
        assert stats.column("file").to_pylist() == files
        assert stats.to_pylist() == [_stats(many_files)[f] for f in files]
        assert fsw.opens == self.N_FILES  # one stat projection per file
        assert 2 <= fsw.max_active <= _PLANNING_IO_THREADS


class TestStreamReadsOnce:
    """The stream reader reads each snapshot and stats file once per
    ``latestOffset()`` or ``partitions()`` call, though every version's
    additions need it and its predecessor."""

    def test_each_snapshot_file_read_once_per_call(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from aisle_spark.datasource import AisleStreamReader

        register(spark)
        out = str(tmp_path / "s")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(9, 900)]))
        for i in range(3):
            df.filter(F.crc32(F.col("doc_id")) % 3 == i).repartition(2).write.format(
                "aisle"
            ).mode("append").save(out)
        for restart in ({"version": 1}, {"version": 0}):
            r = AisleStreamReader("file://" + out, max_files_per_trigger=1, where="n_tok >= 0")
            fsw = _CountingFS(r.fs)
            r.fs = fsw
            r.partitions(restart, restart)  # the restart protocol seeds the cursor
            cur, emitted = restart, []
            for _ in range(10):
                fsw.reads.clear()
                nxt = r.latestOffset()
                assert max(fsw.reads.values(), default=1) == 1, fsw.reads
                if nxt == cur:
                    break
                fsw.reads.clear()
                emitted += [p.path for p in r.partitions(cur, nxt)]
                assert max(fsw.reads.values(), default=1) == 1, fsw.reads
                r.commit(nxt)
                cur = nxt
            assert len(emitted) == len(set(emitted)) == (4 if restart["version"] else 6)


class TestPartitionRowsCap:
    """Plan-size bound (VERDICT r3 wrong #3): above _PARTITION_ROWS_CAP
    surviving blocks per file the plan ships rows=None and the reader
    re-prunes — results must be identical either way."""

    def test_cap_bounds_plan_and_preserves_results(
        self, spark, encoded_dir, monkeypatch
    ):
        from pyspark.sql import functions as F

        import aisle_spark.datasource as D

        df, out = encoded_dir
        # weakly-selective predicate: survives in almost every block
        pred = (F.col("n_tok") >= 0) | F.col("n_tok").isNull()
        r = D.AisleReader(out)
        from aisle_spark.filterspec import col

        r.spec = col("n_tok") >= 0
        uncapped = _entries(r.partitions())
        assert any(rows is not None and len(rows) > 2 for _p, rows in uncapped)

        monkeypatch.setattr(D, "_PARTITION_ROWS_CAP", 2)
        r2 = D.AisleReader(out)
        r2.spec = col("n_tok") >= 0
        capped = _entries(r2.partitions())
        assert {p for p, _ in capped} == {p for p, _ in uncapped}
        assert all(
            rows is None or len(rows) <= 2 for _p, rows in capped
        )  # plan-size bound holds

        # drive the reader over BOTH plans in-process: the rows=None
        # fallback must decode exactly the same row set
        def all_ids(reader, entries):
            from aisle_spark.datasource import AislePartition

            ids = []
            for path, rows in entries:
                for batch in reader.read(AislePartition(path, rows)):
                    ids.extend(batch.column("doc_id").to_pylist())
            return sorted(ids)

        assert all_ids(r2, capped) == all_ids(r, uncapped)
        exp = df.filter(pred).select("doc_id")
        assert all_ids(r2, capped) == sorted(x.doc_id for x in exp.collect())

    def test_selective_predicate_keeps_row_lists(self, spark, encoded_dir):
        from aisle_spark.datasource import AisleReader
        from aisle_spark.filterspec import col

        _df, out = encoded_dir
        r = AisleReader(out)
        r.spec = col("source") == "books"
        parts = _entries(r.partitions())
        assert parts and all(rows is not None for _p, rows in parts)


class TestBinaryFileStats:
    """Binary file-level bounds ride as tagged base64 — whole-file
    pruning for byte-ordered predicates (closes the last kind gap in
    _FILE_STAT_KINDS)."""

    def test_file_tier_bytes_domain(self):
        from aisle_spark.filterspec import col

        stats = [_b("h", b"\x10aa", b"\x18"), _b("h", b"\x12", b"\x20zz")]
        sch = pa.schema([("h", pa.binary())])
        assert not _kept(stats, col("h") > b"\x30", sch)
        assert _kept(stats, col("h") >= b"\x15", sch)
        assert not _kept(stats, col("h") < b"\x10aa", sch)
        # a NULL (overflowed) block bound => Unknown => keep
        assert _kept(stats + [_b("h", b"\x11", None)], col("h") > b"\x30", sch)
        # non-bytes predicate against a bytes bound => Unknown => keep
        assert _kept(stats, col("h") > "zzz", sch)

    def test_planning_drops_files_on_binary_bounds(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "bin")
        df = spark.range(900).selectExpr(
            "id",
            # unhex gives disjoint byte ranges per third: 0x00.., 0x01.., 0x02..
            "unhex(concat(lpad(hex(cast(id / 300 as int)), 2, '0'),"
            " lpad(hex(id % 256), 2, '0'))) AS h",
        )
        for lo in (0, 300, 600):
            df.filter(f"id >= {lo} AND id < {lo + 300}").repartition(
                1
            ).write.format("aisle").option("sortCols", "h").mode("append").save(out)
        sts = _stats(out)
        assert len(sts) == 3
        assert all(st["h__min"] is not None for st in sts.values())
        r = AisleReader(out, where="h >= '\\x02\\x00'::BLOB")
        assert len(planned_files(r.partitions())) == 1  # the last third's file
        got = (
            spark.read.format("aisle")
            .option("where", "h >= '\\x02\\x00'::BLOB")
            .load(out)
        )
        assert got.count() == df.filter(F.col("h") >= bytes([2, 0])).count()


class TestNullCountFileStats:
    """Per-file null/row totals (``{c}__nulls`` and ``n_rows``, r4): IS
    NULL drops files with zero nulls, IS NOT NULL drops all-null files —
    the `WHERE deleted_at IS NULL` shape at file granularity."""

    def test_file_tier_null_semantics(self):
        from aisle_spark.filterspec import col

        no_nulls = [_b("v", 1, 9, 0, 60), _b("v", 2, 4, 0, 40)]
        some_nulls = [_b("v", 1, 9, 40, 60), _b("v", 2, 4, 0, 40)]
        all_nulls = [_b("v", None, None, 60, 60), _b("v", None, None, 40, 40)]
        legacy = [_b("v", 1, 9), _b("v", 2, 4, 0)]  # one block without null evidence
        sch = pa.schema([("v", pa.int64())])
        assert not _kept(no_nulls, col("v").is_null(), sch)
        assert _kept(some_nulls, col("v").is_null(), sch)
        assert _kept(all_nulls, col("v").is_null(), sch)
        assert _kept(no_nulls, col("v").is_not_null(), sch)
        assert _kept(some_nulls, col("v").is_not_null(), sch)
        assert not _kept(all_nulls, col("v").is_not_null(), sch)
        assert _kept(legacy, col("v").is_null(), sch)
        assert _kept(legacy, col("v").is_not_null(), sch)

    @pytest.fixture()
    def null_files(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "nulls")
        base = spark.range(600).selectExpr("id", "cast(id as double) AS v")
        # file 1: no nulls; file 2: all null; file 3: mixed
        cases = [
            "v",
            "cast(NULL as double)",
            "CASE WHEN id % 2 = 0 THEN v ELSE NULL END",
        ]
        for i, expr in enumerate(cases):
            base.filter(f"id % 3 = {i}").selectExpr("id", f"{expr} AS v").repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        return out

    def test_planning_drops_files_on_null_evidence(self, spark, null_files):
        out = null_files
        sts = _stats(out)
        assert len(sts) == 3
        assert all(st["v__nulls"] is not None for st in sts.values())
        r = AisleReader(out, where="v IS NULL")
        assert len(planned_files(r.partitions())) == 2  # no-null file dropped
        r2 = AisleReader(out, where="v IS NOT NULL")
        assert len(planned_files(r2.partitions())) == 2  # all-null file dropped

    def test_results_exact(self, spark, null_files):
        out = null_files
        loaded = spark.read.format("aisle")
        for where, exp in (("v IS NULL", 300), ("v IS NOT NULL", 300)):
            got = loaded.option("where", where).load(out).count()
            assert got == exp, where

    def test_compaction_preserves_null_totals(self, spark, null_files):
        from aisle_spark.maintenance import compact_encoded

        out = null_files
        compact_encoded(spark, out, target_files=3, order_by="id")
        sts = list(_stats(out).values())
        assert sts and all(st["v__nulls"] is not None for st in sts)
        total_nulls = sum(st["v__nulls"] for st in sts)
        total_rows = sum(st["n_rows"] for st in sts)
        assert (total_nulls, total_rows) == (300, 600)
        got = (
            spark.read.format("aisle")
            .option("where", "v IS NOT NULL")
            .load(out)
            .count()
        )
        assert got == 300


class TestTypedFileKeepSoundness:
    """Randomized superset property over the TYPED domains (timestamp/
    date/decimal/duration/null-counts): stripping the file stats must never
    change the surviving partition set — file-level pruning only removes
    files whose every block was doomed anyway."""

    def _rand_typed_spec(self, rng):
        import datetime as dt
        import decimal

        from aisle_spark.filterspec import And, Cmp, IsNull, Or

        utc = dt.timezone.utc

        def leaf():
            kind = rng.choice(["ts", "d", "price", "dur", "n", "null"])
            if kind == "ts":
                v = dt.datetime(2024, 1, 1, tzinfo=utc) + dt.timedelta(
                    minutes=rng.randint(-100, 3100)
                )
                return Cmp("ts", rng.choice(["lt", "le", "gt", "ge", "eq"]), v)
            if kind == "d":
                v = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randint(-2, 33))
                return Cmp("d", rng.choice(["lt", "le", "gt", "ge"]), v)
            if kind == "price":
                v = decimal.Decimal(rng.randint(-100, 330000)) / 100
                return Cmp("price", rng.choice(["lt", "le", "gt", "ge"]), v)
            if kind == "dur":
                v = dt.timedelta(seconds=rng.randint(-10, 3100))
                return Cmp("dur", rng.choice(["lt", "le", "gt", "ge"]), v)
            if kind == "n":
                return Cmp("n", rng.choice(["lt", "le", "gt", "ge", "eq"]),
                           rng.randint(-10, 3100))
            return IsNull("ts", negated=rng.random() < 0.5)

        spec = leaf()
        for _ in range(rng.randint(0, 2)):
            spec = (And if rng.random() < 0.7 else Or)([spec, leaf()])
        return spec

    def test_superset_property_random(self, spark, tmp_path, monkeypatch):
        import random

        import aisle_spark.pipeline as pl

        register(spark)
        out = str(tmp_path / "typedsound")
        df = spark.range(3000).selectExpr(
            "concat('e', id) AS eid",
            "timestamp'2024-01-01' + make_dt_interval(0, 0, cast(id as int), 0) AS ts",
            "date_add(date'2024-01-01', cast(id / 100 as int)) AS d",
            "cast(id + 0.25 as decimal(12,2)) AS price",
            "make_dt_interval(0, 0, 0, cast(id as int)) AS dur",
            "cast(id as int) AS n",
        )
        third = 1000
        for lo in (0, third, 2 * third):
            df.filter(f"n >= {lo} AND n < {lo + third}").repartition(
                1
            ).write.format("aisle").option("sortCols", "ts").mode("append").save(out)
        rng = random.Random(4242)
        for _ in range(25):
            spec = self._rand_typed_spec(rng)
            r = AisleReader(out)
            r.spec = spec
            with_stats = dict(_entries(r.partitions()))
            with monkeypatch.context() as mp:
                mp.setattr(pl, "snapshot_stats", lambda *a, **k: None)
                r2 = AisleReader(out)
                r2.spec = spec
                without = dict(_entries(r2.partitions()))
            assert with_stats == without, repr(spec)


class TestLeafColumnsOption:
    """Dotted names in the `columns` option select nested leaves: the
    reader yields a PARTIAL struct and never references the
    un-projected siblings' payloads (shared semantics with
    scan(columns=...), r4)."""

    @pytest.fixture()
    def nested_table(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "nested")
        meta_t = pa.struct(
            [pa.field("lang", pa.string()), pa.field("score", pa.int64())]
        )
        tbl = pa.Table.from_arrays(
            [
                pa.array([f"d{i:04d}" for i in range(2000)]),
                pa.array(
                    [
                        None
                        if i % 9 == 0
                        else {"lang": ["en", "de", "fr"][i % 3], "score": i}
                        for i in range(2000)
                    ],
                    type=meta_t,
                ),
            ],
            schema=pa.schema(
                [pa.field("doc_id", pa.string()), pa.field("meta", meta_t)]
            ),
        )
        df = spark.createDataFrame(tbl)
        df.write.format("aisle").mode("append").save(out)
        return df, out

    def test_partial_struct_through_datasource(self, spark, nested_table):
        df, out = nested_table
        got = (
            spark.read.format("aisle")
            .option("columns", "doc_id,meta.lang")
            .load(out)
        )
        assert [f.name for f in got.schema.fields] == ["doc_id", "meta"]
        assert [f.name for f in got.schema["meta"].dataType.fields] == ["lang"]
        g = sorted(
            (r.doc_id, r.meta.lang if r.meta is not None else None)
            for r in got.collect()
        )
        e = sorted(
            (r.doc_id, r.meta.lang if r.meta is not None else None)
            for r in df.collect()
        )
        assert g == e

    def test_unprojected_leaf_payload_never_read(self, spark, nested_table):
        import pyarrow.parquet as pq

        _df, out = nested_table
        m = load_manifest(None, out)
        # drop the score payload from every committed block file
        for f in m["files"]:
            p = os.path.join(out, f)
            t = pq.read_table(p)
            t = t.drop_columns(["meta.score__payload"])
            pq.write_table(t, p, compression="zstd")
        got = (
            spark.read.format("aisle")
            .option("columns", "meta.lang")
            .load(out)
        )
        assert got.count() == 2000  # plan never touched the dropped column
        import pytest as _pytest

        with _pytest.raises(Exception):
            spark.read.format("aisle").load(out).select("meta").collect()

    def test_unknown_leaf_rejected(self, spark, nested_table):
        _df, out = nested_table
        with pytest.raises(Exception):
            (
                spark.read.format("aisle")
                .option("columns", "meta.nope")
                .load(out)
                .count()
            )

    def test_scan_projection_matches_datasource(self, spark, nested_table):
        """scan() and format("aisle") resolve one projection to one
        schema, and a predicate-only leaf never leaks into the projected
        struct: predicate-only children drop after the residual, and a
        NULL struct stays NULL (the IS NULL case keeps those rows)."""
        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import read_encoded, scan

        df, out = nested_table
        blocks, schema = read_encoded(spark, out)
        cases = [
            (["meta.lang"], col("meta.score") > 1500, "meta.score > 1500"),
            (["doc_id", "meta.lang"], col("meta.score") > 1500, "meta.score > 1500"),
            (["meta.score"], col("meta.lang") == "de", "meta.lang = 'de'"),
            (["doc_id"], col("meta.score") > 1500, "meta.score > 1500"),
            (["doc_id", "meta.lang"], col("meta.score").is_null(), "meta.score IS NULL"),
        ]

        def rows(frame, columns):
            def leaf(r, c):
                top, *rest = c.split(".")
                v = r[top]
                return v if not rest or v is None else (v[rest[0]],)

            return sorted(
                (tuple(leaf(r, c) for c in columns) for r in frame.collect()),
                key=repr,
            )

        for columns, where, sql in cases:
            got = scan(blocks, schema, where=where, columns=columns)
            ds = spark.read.format("aisle").option("columns", ",".join(columns)).load(out)
            assert got.schema == ds.schema, (columns, sql)
            exp = rows(df.filter(sql), columns)
            assert exp, sql
            assert rows(got, columns) == exp, (columns, sql)

    def test_predicate_only_leaf_decodes_alone(self, spark, nested_table):
        """A nested leaf only the predicate reads decodes with its
        validity chain and nothing else: the un-projected sibling's
        payload is gone from the block files and the scan still runs."""
        import pyarrow.parquet as pq

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import read_encoded, scan

        df, out = nested_table
        m = load_manifest(None, out)
        for f in m["files"]:
            p = os.path.join(out, f)
            pq.write_table(pq.read_table(p).drop_columns(["meta.lang__payload"]), p)
        blocks, schema = read_encoded(spark, out)
        got = scan(blocks, schema, where=col("meta.score") > 1500, columns=["doc_id"])
        assert got.count() == df.filter("meta.score > 1500").count() > 0

    def test_read_plan_columns(self):
        """The block-table columns a read requests: each decoded leaf's
        payload in spec order, then the predicate leaves' chunk stats."""
        from aisle_spark.schema import TOKEN_SCHEMA, read_plan

        chunks = lambda c: [f"{c}__chunk_{s}" for s in ("min", "max", "nulls")]  # noqa: E731
        flat = read_plan(TOKEN_SCHEMA, ["n_tok", "doc_id"], {"source"})
        assert flat.out.names == ["n_tok", "doc_id"]
        assert flat.columns == [
            "doc_id__payload", "n_tok__payload", "source__payload", *chunks("source")
        ]
        meta_t = pa.struct([pa.field("lang", pa.string()), pa.field("score", pa.int64())])
        nested = pa.schema([pa.field("doc_id", pa.string()), pa.field("meta", meta_t)])
        dotted = read_plan(nested, ["meta.lang"], ())
        assert dotted.out.field("meta").type == pa.struct([pa.field("lang", pa.string())])
        assert dotted.columns == ["meta.__defined__payload", "meta.lang__payload"]
        pred = read_plan(nested, ["doc_id"], ["meta.score"])
        assert pred.out.names == ["doc_id"]
        assert pred.decoded.field("meta").type == pa.struct([pa.field("score", pa.int64())])
        assert pred.columns == [
            "doc_id__payload",
            "meta.__defined__payload",
            "meta.score__payload",
            *chunks("meta.score"),
        ]
        with pytest.raises(KeyError):
            read_plan(nested, ["meta.nope"], ())
        with pytest.raises(KeyError):
            read_plan(nested, None, ["meta"])


class TestWhereOptionRandomDifferential:
    """Seeded randomized soundness for the AUTHORITATIVE where option:
    Spark never re-evaluates it, so the three-tier pruning + in-reader
    mask must equal a plain DataFrame filter EXACTLY. One WHERE string
    drives both sides (parse_where and Spark SQL share the grammar
    subset used here), covering every scalar domain, cross-domain
    temporal literals (the ADVICE r4 high class), and map-key access."""

    @staticmethod
    def _rand_where(rng) -> str:
        def leaf() -> str:
            k = rng.randrange(10)
            op = rng.choice(["=", "<>", "<", "<=", ">", ">="])
            if k == 0:
                return f"n {op} {rng.randrange(0, 3000)}"
            if k == 1:
                return f"n {op} {rng.randrange(0, 6000) / 2.0}"
            if k == 2:
                return (
                    f"f {op} {rng.randrange(0, 1000) / 4.0}"
                    if rng.random() < 0.7
                    else rng.choice(["f IS NULL", "f IS NOT NULL"])
                )
            if k == 3:
                vals = ", ".join(
                    f"'s{v}'" for v in rng.sample(range(8), rng.randrange(1, 4))
                )
                return f"s IN ({vals})"
            if k == 4:
                return f"s {rng.choice(['=', '<>'])} 's{rng.randrange(0, 8)}'"
            if k == 5:
                pat = rng.choice(["s0%", "s%", "%1%", "zzz%"])
                return f"s LIKE '{pat}'"
            if k == 6:
                day = rng.randrange(1, 28)
                lit = (
                    f"TIMESTAMP '2024-01-{day:02d} 12:00:00'"
                    if rng.random() < 0.5
                    else f"DATE '2024-01-{day:02d}'"  # cross-domain on ts
                )
                return f"ts {op} {lit}"
            if k == 7:
                lo, hi = sorted((rng.randrange(0, 3000), rng.randrange(0, 3000)))
                return f"n BETWEEN {lo} AND {hi}"
            if k == 8:
                d1, d2 = sorted((rng.randrange(1, 28), rng.randrange(1, 28)))
                return (
                    f"ts BETWEEN TIMESTAMP '2024-01-{d1:02d} 00:00:00' "
                    f"AND TIMESTAMP '2024-01-{d2:02d} 23:00:00'"
                )
            key = rng.choice(["k0", "k1", "k2", "nope"])
            return f"try_element_at(props, '{key}') {op} {rng.randrange(0, 3000)}"

        def tree(depth: int) -> str:
            if depth == 0 or rng.random() < 0.4:
                return leaf()
            a, b = tree(depth - 1), tree(depth - 1)
            k = rng.randrange(3)
            if k == 0:
                return f"({a}) AND ({b})"
            if k == 1:
                return f"({a}) OR ({b})"
            return f"NOT ({a})"

        return tree(2)

    @pytest.fixture(scope="class")
    def table(self, spark, tmp_path_factory):
        register(spark)
        out = str(tmp_path_factory.mktemp("wrand") / "t")
        df = spark.range(3000).selectExpr(
            "concat('d-', id) AS doc_id",
            "cast(id as int) AS n",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE cast(id % 997 as double) / 4.0 END AS f",
            "concat('s', id % 8) AS s",
            "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, cast(id % 40000 as int), 0) AS ts",
            "map(concat('k', id % 3), id % 2900) AS props",
        )
        for i in range(3):
            df.filter(f"id % 3 = {i}").repartition(1).write.format(
                "aisle"
            ).option("sortCols", "s,n").mode("append").save(out)
        return df.cache(), out

    @pytest.mark.parametrize("seed", [11, 12, 13])
    def test_where_option_equals_dataframe_filter(self, spark, table, seed):
        import random

        df, out = table
        rng = random.Random(seed)
        for _ in range(8):
            w = self._rand_where(rng)
            got = {
                r.doc_id
                for r in spark.read.format("aisle")
                .option("where", w)
                .option("columns", "doc_id")
                .load(out)
                .collect()
            }
            exp = {r.doc_id for r in df.filter(w).select("doc_id").collect()}
            assert got == exp, (
                f"seed={seed} where={w!r}: "
                f"extra={sorted(got - exp)[:5]} missing={sorted(exp - got)[:5]}"
            )


class TestSmallFilePacking:
    """Partition bin-packing (r5): a 10^5-small-file table must not mean
    10^5 task schedulings — files under _PACK_SMALL_BYTES pack
    sequentially into combined partitions; results stay exact."""

    def test_small_files_pack_results_exact(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "pk")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(51, 2400)]))
        for i in range(8):
            df.filter(F.crc32(F.col("doc_id")) % 8 == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        r = AisleReader(out)
        parts = r.partitions()
        files = planned_files(parts)
        assert len(files) == 8
        assert len(parts) < 8  # tiny files combined
        got = spark.read.format("aisle").load(out)
        assert got.count() == df.count()
        g = {x.doc_id for x in got.select("doc_id").collect()}
        assert g == {x.doc_id for x in df.select("doc_id").collect()}

    def test_pack_target_splits_and_keeps_name_order(self, spark, tmp_path):
        import aisle_spark.datasource as D

        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "pk2")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(52, 1200)]))
        for i in range(4):
            df.filter(F.crc32(F.col("doc_id")) % 4 == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        m = load_manifest(None, out)
        ordered = sorted(m["files"])
        sizes = [_stats(out)[f]["__bytes"] for f in ordered]
        # a PACK target of two files forces a split into two tasks
        old_max = D._PACK_MAX_BYTES
        D._PACK_MAX_BYTES = 2 * max(sizes) + 1
        try:
            parts = AisleReader(out).partitions()
        finally:
            D._PACK_MAX_BYTES = old_max
        assert len(parts) == 2 and all(len(p.more) == 1 for p in parts)
        # sequential packing: name order (= clustering order) preserved
        assert planned_files(parts) == [os.path.join(out, f) for f in ordered]

    def test_unknown_size_never_packs(self, spark, tmp_path):
        """A file without a ``__bytes`` stat must keep one task per file
        (never guess a file small)."""
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "pk3")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(53, 900)]))
        for i in range(3):
            df.filter(F.crc32(F.col("doc_id")) % 3 == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        _rewrite_stats(out, lambda t: t.drop_columns(["__bytes"]))
        parts = AisleReader(out).partitions()
        assert len(parts) == 3 and all(not p.more for p in parts)
        assert spark.read.format("aisle").load(out).count() == df.count()
