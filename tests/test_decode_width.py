"""Width of a pruned decode: each Python task reads about 4 MB or more of
payload, on both read paths. The DataSource packs its partitions by the
decode set of the row groups that hold a kept block; ``pipeline.scan``
coalesces its decode stage by the decode set of the files its scan reads.
Task counts are read from Spark's status tracker; every width case is
also checked row for row against Spark's own filter, since the width may
change partitioning, never results."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aisle_spark import datasource as D
from aisle_spark.datasource import (
    AisleReader,
    _manifest_of,
    plan_pruned,
    planned_files,
    register,
)
from aisle_spark.filterspec import col, utc_normalize
from aisle_spark.pipeline import (
    _decode_tasks,
    _footer_spark_schema,
    _read_sidecar_schema,
    arrow_schema_of,
    encode_files_direct,
    encode_table,
    read_encoded,
    scan,
    scan_count,
    write_encoded,
)
from aisle_spark.schema import read_plan, synth_batch

N_FILES = 4
ROWS = 1500


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A 4-file token table encoded sorted by (source, n_tok), and its
    input rows as a Spark DataFrame."""
    base = tmp_path_factory.mktemp("width")
    tbl = pa.Table.from_batches([synth_batch(0, N_FILES * ROWS, seed=5)])
    os.makedirs(base / "in")
    for i in range(N_FILES):
        pq.write_table(tbl.slice(i * ROWS, ROWS), str(base / "in" / f"p{i}.parquet"))
    out = str(base / "enc")
    encode_files_direct(spark, str(base / "in"), out, sort_cols=["source", "n_tok"], block_rows=512)
    assert len(_committed(out)[0]) == N_FILES
    register(spark)
    return out, spark.createDataFrame(tbl), tbl


def _committed(out: str):
    """(file paths, stats rows) of a committed table."""
    return _manifest_of(None, out, _read_sidecar_schema(None, out))


def _tasks(spark, action) -> int:
    """The most tasks any stage of ``action``'s jobs ran."""
    import uuid

    sc = spark.sparkContext
    group = f"decode-width-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "decode width")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    return max(st.getStageInfo(s).numTasks for s in stages)


def _rows(df, cols) -> list:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_point_predicate_decodes_in_one_task(spark, table):
    out, _df, tbl = table
    blocks, schema = read_encoded(spark, out)
    target = tbl.column("doc_id")[1234].as_py()
    got = []
    n = _tasks(spark, lambda: got.extend(scan(blocks, schema, where=col("doc_id") == target).collect()))
    assert n == 1
    assert [r.doc_id for r in got] == [target]


def test_subdirectory_files_decode_in_one_task(spark, table, tmp_path):
    """``write_encoded`` writes its block files one directory below the
    table root; a point predicate over them still decodes in one task."""
    _out, df, tbl = table
    out = str(tmp_path / "sub")
    write_encoded(encode_table(df, parts=N_FILES, block_rows=512), out, arrow_schema_of(df))
    files = _committed(out)[0]
    assert len(files) > 1 and all(os.path.dirname(os.path.dirname(f)) == out for f in files)
    blocks, schema = read_encoded(spark, out)
    target = tbl.column("doc_id")[1234].as_py()
    got = []
    n = _tasks(spark, lambda: got.extend(scan(blocks, schema, where=col("doc_id") == target).collect()))
    assert n == 1
    assert [r.doc_id for r in got] == [target]


def test_unpruned_scan_keeps_one_task_per_file(spark, table):
    out, _df, _tbl = table
    blocks, schema = read_encoded(spark, out)
    assert _tasks(spark, lambda: scan(blocks, schema, columns=["doc_id"]).collect()) == N_FILES


def test_datasource_packs_by_read_bytes(spark, table):
    """A selective pushed filter plans one task, and still reads every
    file that keeps a block."""
    from pyspark.sql.datasource import EqualTo

    out, df, _tbl = table
    cols = ["doc_id", "n_tok", "source"]
    r = AisleReader(out, columns=cols)
    r.pushFilters([EqualTo(("source",), "code")])
    parts = r.partitions()
    assert len(parts) == 1
    assert planned_files(parts) == _committed(out)[0]
    got = (spark.read.format("aisle").option("columns", ",".join(cols)).load(out)
           .filter(F.col("source") == "code"))
    assert _tasks(spark, got.collect) == 1
    assert _rows(got, cols) == _rows(df.filter(F.col("source") == "code"), cols)


def _enc(path: str, leaves) -> list[int]:
    """Per block of one file, the decode set's ``__enc_bytes``."""
    t = pq.read_table(path, columns=[f"{c}__enc_bytes" for c in leaves])
    return [sum(r.values()) for r in t.to_pylist()]


@pytest.fixture(scope="module")
def grouped(spark, tmp_path_factory):
    """The token table written with two blocks per row group."""
    import aisle_spark.pipeline as pl

    base = tmp_path_factory.mktemp("grouped")
    tbl = pa.Table.from_batches([synth_batch(0, N_FILES * ROWS, seed=6)])
    os.makedirs(base / "in")
    for i in range(N_FILES):
        pq.write_table(tbl.slice(i * ROWS, ROWS), str(base / "in" / f"p{i}.parquet"))
    out = str(base / "enc")
    mp = pytest.MonkeyPatch()
    mp.setattr(pl, "FLUSH_BLOCKS", 2)
    try:
        encode_files_direct(spark, str(base / "in"), out, sort_cols=["source", "n_tok"], block_rows=256)
    finally:
        mp.undo()
    files = _committed(out)[0]
    assert all(pq.ParquetFile(f).metadata.num_row_groups >= 3 for f in files)
    return out


def test_read_bytes_are_the_kept_row_groups(spark, grouped):
    """A pruned entry's size is the decode set of every block in the row
    groups that hold a block Catalyst's ``keep()`` keeps: the row groups
    its task reads."""
    blocks, schema = read_encoded(spark, grouped)
    files, stats = _committed(grouped)
    for where, columns in (
        (col("source") == "code", ["doc_id", "n_tok"]),
        (col("n_tok").between(1000, 2000) & (col("source") == "books"), None),
    ):
        leaves = read_plan(schema, columns, where.columns()).leaves
        kept = {
            (r[0], r[1])
            for r in blocks.filter(where.keep())
            .select(F.input_file_name(), "block_id").collect()
        }
        want = {}
        for f in files:
            ids = pq.read_table(f, columns=["block_id"]).column(0).to_pylist()
            hit = [i for i, b in enumerate(ids) if any(u.endswith(f) and b == k for u, k in kept)]
            if hit:
                md = pq.ParquetFile(f).metadata
                group = [g for g in range(md.num_row_groups) for _ in range(md.row_group(g).num_rows)]
                enc = _enc(f, leaves)
                want[f] = sum(e for e, g in zip(enc, group) if g in {group[i] for i in hit})
        got = plan_pruned(None, schema, files, stats, utc_normalize(where), leaves)
        assert {f: b for f, _rows, b in got} == want, where
        assert any(b < sum(_enc(f, leaves)) for f, b in want.items())  # a row group skipped


def test_scan_sizes_by_the_files_decode_set(spark, table):
    """``scan()`` counts each file at its manifest ``__enc_bytes`` totals
    over the decode set, which equal its blocks' column sums."""
    out, _df, _tbl = table
    blocks, schema = read_encoded(spark, out)
    files, stats = _committed(out)
    leaves = read_plan(schema, None, ["source"]).leaves
    sizes = D._decode_set_bytes(stats, leaves)
    assert sizes == [sum(_enc(f, leaves)) for f in files]
    want = len(D._pack_partitions([(f, None, b) for f, b in zip(files, sizes)]))
    assert _decode_tasks(blocks, leaves) == want == 1


def test_large_files_keep_spark_width(spark, table, monkeypatch):
    """A file reading ``_PACK_SMALL_BYTES`` or more leaves Spark's width:
    ``coalesce`` could merge the splits Spark made of it."""
    out, df, tbl = table
    blocks, schema = read_encoded(spark, out)
    target = tbl.column("doc_id")[1234].as_py()
    monkeypatch.setattr(D, "_PACK_SMALL_BYTES", 1000)
    assert _decode_tasks(blocks, read_plan(schema, None, ["doc_id"]).leaves) is None
    got = []
    n = _tasks(spark, lambda: got.extend(scan(blocks, schema, where=col("doc_id") == target).collect()))
    assert n == N_FILES
    assert [r.doc_id for r in got] == [target]


class TestWidthNeverChangesResults:
    WHERE = (col("source") == "web") & (col("n_tok") > 100)

    def _check(self, blocks, schema, df):
        got = scan(blocks, schema, where=self.WHERE, columns=["doc_id", "n_tok"])
        want = df.filter((F.col("source") == "web") & (F.col("n_tok") > 100))
        assert _rows(got, ["doc_id", "n_tok"]) == _rows(want, ["doc_id", "n_tok"])

    def test_user_filtered_blocks(self, spark, table):
        """A caller's own filter on ``blocks`` can only make the estimate
        high: it is sized from the files, as the unfiltered table."""
        out, df, _tbl = table
        blocks, schema = read_encoded(spark, out)
        leaves = read_plan(schema, ["doc_id", "n_tok"], self.WHERE.columns()).leaves
        sub = blocks.filter(F.col("block_id") % 2 == 0)
        assert _decode_tasks(sub, leaves) == 1
        assert _decode_tasks(blocks, leaves) == 1
        # the rows of the even blocks only: decode them unpruned, filter
        got = scan(sub, schema, where=self.WHERE, columns=["doc_id"])
        want = scan(sub, schema, columns=["doc_id", "source", "n_tok"]).filter(
            (F.col("source") == "web") & (F.col("n_tok") > 100)
        )
        assert _rows(got, ["doc_id"]) == _rows(want, ["doc_id"])

    def test_in_memory_blocks(self, spark, table):
        _out, df, tbl = table
        blocks = encode_table(df, parts=2, block_rows=512, sort_cols=["source", "n_tok"])
        assert blocks.inputFiles() == []
        schema = tbl.schema
        leaves = read_plan(schema, ["doc_id", "n_tok"], self.WHERE.columns()).leaves
        assert _decode_tasks(blocks, leaves) is None
        self._check(blocks, schema, df)

    def test_unknown_size_keeps_spark_width(self, spark, table, tmp_path):
        """Stats without ``__enc_bytes`` (a legacy manifest's files have
        no stats rows at all): no estimate, one task per file, same
        rows."""
        from tests.test_datasource import _rewrite_stats

        out, df, _tbl = table
        legacy = str(tmp_path / "legacy")
        for d, _dirs, names in os.walk(out):
            os.makedirs(d.replace(out, legacy, 1), exist_ok=True)
            for n in names:
                os.link(os.path.join(d, n), os.path.join(d.replace(out, legacy, 1), n))
        _rewrite_stats(
            legacy, lambda t: t.drop_columns([c for c in t.column_names if c.endswith("__enc_bytes")])
        )
        blocks, schema = read_encoded(spark, legacy)
        leaves = read_plan(schema, ["doc_id", "n_tok"], self.WHERE.columns()).leaves
        assert _decode_tasks(blocks, leaves) is None
        n = _tasks(spark, lambda: scan(blocks, schema, where=self.WHERE, columns=["doc_id"]).collect())
        assert n == N_FILES
        self._check(blocks, schema, df)

    def test_count_stats_boundary_scan(self, spark, table):
        out, df, _tbl = table
        blocks, schema = read_encoded(spark, out)
        where = col("n_tok") > 700
        assert blocks.filter(where.keep() & where.not_true()).count() > 0  # a boundary decodes
        want = df.filter(F.col("n_tok") > 700).count()
        assert scan_count(blocks, schema, where=where).first()[0] == want


_TABLES = {
    "typed": [
        "cast(id + 0.25 as decimal(12,2)) AS price",
        "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, cast(id as int), 0) AS ts",
        "cast(concat('b', cast(id % 7 as string)) as binary) AS blob",
        "date_add(date'2024-01-01', cast(id / 100 as int)) AS d",
    ],
    "map": ["map('k', id, concat('x', cast(id % 3 as string)), id % 5) AS props"],
    "nested": ["named_struct('lang', cast(id % 4 as string), 'score', id) AS meta"],
    "duration": ["make_dt_interval(0, 0, 0, cast(id as int)) AS dur"],
}


_CONFS = {"default": {}, "binaryAsString": {"spark.sql.parquet.binaryAsString": "true"},
          "mergeSchema": {"spark.sql.parquet.mergeSchema": "true"}}


@pytest.mark.parametrize(
    "kind,conf", [(k, "default") for k in sorted(_TABLES)] + [("typed", "binaryAsString"), ("typed", "mergeSchema")]
)
@pytest.mark.parametrize("writer", ["spark", "datasource"])
def test_read_encoded_schema_equals_inferred(spark, tmp_path, kind, conf, writer):
    """``read_encoded`` hands Spark the schema of the first committed
    file's footer; it must equal what ``spark.read.parquet`` infers. A
    duration column has no footer type Spark infers the same way (Arrow
    restores it, Spark reads int64), so there Spark still infers, as it
    does under inference settings other than the defaults
    (``binaryAsString`` reads a pyarrow-written binary as a string)."""
    register(spark)
    df = spark.range(600).selectExpr("concat('d', cast(id as string)) AS doc_id", *_TABLES[kind])
    out = str(tmp_path / "t")
    if writer == "spark":  # Spark writes the block parquet
        write_encoded(encode_table(df, parts=2, block_rows=128), out, arrow_schema_of(df))
    else:  # the data source's tasks write it with pyarrow
        df.repartition(2).write.format("aisle").mode("append").save(out)
    files = _committed(out)[0]
    assert (_footer_spark_schema(files[0]) is None) == (kind == "duration" and writer == "datasource")
    for k, v in _CONFS[conf].items():
        spark.conf.set(k, v)
    try:
        blocks, _schema = read_encoded(spark, out)
        assert blocks.schema == spark.read.parquet(*files).schema
        assert blocks.count() == spark.read.parquet(*files).count()
    finally:
        for k in _CONFS[conf]:
            spark.conf.unset(k)
