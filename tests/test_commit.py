"""The one manifest transaction (``pipeline.commit``) that every writer
ends in: a crash inside it leaves the table at its previous version with
a schema sidecar, and concurrent local appenders lose no file."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aisle_spark.pipeline import load_manifest
from aisle_spark.schema import synth_batch

SIDECAR = "_aisle_schema.arrow"


def _table(i: int, n: int = 600) -> pa.Table:
    return pa.Table.from_batches([synth_batch(i * n, n)])


def _direct(spark, out, i):
    from aisle_spark.pipeline import encode_files_direct

    src = f"{out}_src"
    os.makedirs(src, exist_ok=True)
    pq.write_table(_table(i), f"{src}/f{i}.parquet")
    encode_files_direct(spark, src, out, resume=True, block_rows=512)


def _datasource(spark, out, i):
    # the writer's driver-side steps, in this process: Spark runs a
    # Python data source's commit in a separate worker
    from pyspark.sql.pandas.types import from_arrow_schema

    from aisle_spark.datasource import AisleWriter

    t = _table(i)
    w = AisleWriter(out, from_arrow_schema(t.schema), False, [], 512)
    w.commit([w.write(iter(t.to_batches()))])


def _stream(spark, out, i):
    from aisle_spark.streaming import write_batch

    write_batch(spark.createDataFrame(_table(i)), i, out, parts=2, block_rows=512)


def _compact(spark, out, i):
    from aisle_spark.maintenance import compact_encoded

    if i == 0:  # a table to compact: two appends
        for j in range(2):
            _datasource(spark, out, j)
    else:
        compact_encoded(spark, out, target_files=1)


def _write_encoded(spark, out, i):
    from aisle_spark.pipeline import arrow_schema_of, encode_table, write_encoded

    df = spark.createDataFrame(_table(i))
    write_encoded(encode_table(df, parts=2, block_rows=512), out, arrow_schema_of(df), mode="append")


WRITERS = {
    "direct": _direct,
    "datasource": _datasource,
    "stream": _stream,
    "compact": _compact,
    "write_encoded": _write_encoded,
}


def _state(spark, out):
    """(version, files, rows) as readers see the table; None without a
    manifest."""
    from aisle_spark.datasource import register

    m = load_manifest(None, out)
    if m is None:
        return None
    register(spark)
    return m["version"], m["files"], spark.read.format("aisle").load(out).count()


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_crash_in_commit_keeps_previous_version(spark, tmp_path, monkeypatch, writer):
    """An OSError at ``publish_manifest`` in a writer's first and second
    commit: the table still reads at its previous version (no manifest
    on a first commit) and the schema sidecar exists, because the commit
    writes it (tmp + rename) before it publishes. A retry then commits."""
    import aisle_spark.pipeline as pl

    out = str(tmp_path / "t")
    os.makedirs(out)
    step = WRITERS[writer]

    def crash(*args, **kwargs):
        raise OSError("injected crash")

    for i in range(2):
        if writer == "compact" and i == 0:
            step(spark, out, i)  # set-up; compaction needs a table
            continue
        before = _state(spark, out)
        with monkeypatch.context() as mp:
            mp.setattr(pl, "publish_manifest", crash)
            with pytest.raises(OSError, match="injected"):
                step(spark, out, i)
        assert _state(spark, out) == before
        with open(os.path.join(out, SIDECAR), "rb") as fh:
            assert pa.ipc.read_schema(pa.py_buffer(fh.read())).names == _table(0).schema.names
        step(spark, out, i)
        assert load_manifest(None, out)["version"] == (before[0] if before else 0) + 1


def test_concurrent_appenders_lose_no_file(tmp_path):
    """8 threads each commit 5 hard-linked copies of one block file, one
    per commit: every file is live, every version reads, and every file's
    stats row is the fold of that file."""
    from aisle_spark.pipeline import (
        BlockFileWriter,
        commit,
        fold_file_stats,
        list_snapshots,
        read_snapshot,
    )
    from aisle_spark.schema import TOKEN_SCHEMA, specs_for_schema

    root = str(tmp_path / "t")
    os.makedirs(root)
    specs = specs_for_schema(TOKEN_SCHEMA)
    w = BlockFileWriter(specs, root, "seed.parquet", block_rows=256)
    w.write(_table(0))
    seed = w.close()["file"]
    names = [[f"blocks-{t}-{k}.parquet" for k in range(5)] for t in range(8)]
    for f in sum(names, []):
        os.link(f"{root}/{seed}", f"{root}/{f}")

    def append(files):
        for f in files:
            commit(None, root, TOKEN_SCHEMA, [f])

    with ThreadPoolExecutor(8) as pool:
        list(pool.map(append, names))
    m = load_manifest(None, root, stats=True)
    assert m["files"] == sorted(sum(names, []))
    assert list_snapshots(None, root) == list(range(1, 41))
    for v in range(1, 41):
        assert len(read_snapshot(None, root, v, stats=True)["files"]) == v
    want = fold_file_stats(None, root, m["files"], specs).to_pylist()
    got = {r["file"]: r for r in m["stats"].to_pylist()}
    assert [got[r["file"]] for r in want] == want
