"""Structured Streaming encode sink: micro-batch encode + exactly-once
file-manifest commit, readable by scan() between batches."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aisle_spark.filterspec import col
from aisle_spark.pipeline import read_encoded, scan
from aisle_spark.schema import TOKEN_SCHEMA, synth_batch
from aisle_spark.streaming import _read_manifest, encode_stream, write_batch

BASE = "/tmp/aisle_stream_test"


@pytest.fixture()
def dirs():
    shutil.rmtree(BASE, ignore_errors=True)
    src = os.path.join(BASE, "src")
    out = os.path.join(BASE, "enc")
    ckp = os.path.join(BASE, "ckp")
    os.makedirs(src)
    yield src, out, ckp
    shutil.rmtree(BASE, ignore_errors=True)


def _drop(src: str, name: str, start: int, n: int) -> None:
    # write under a hidden name, then rename: a running file stream that
    # lists the file while it is still empty consumes it as an empty
    # batch and never reads it again
    tmp = os.path.join(src, f".{name}.tmp")
    pq.write_table(pa.Table.from_batches([synth_batch(start, n)]), tmp)
    os.replace(tmp, os.path.join(src, name))


def test_stream_encode_commits_and_scans(spark, dirs):
    src, out, ckp = dirs
    _drop(src, "a.parquet", 0, 3000)
    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = encode_stream(
        stream, out, ckp, parts=4, sort_cols=["source", "n_tok"], block_rows=512
    )
    try:
        q.processAllAvailable()
        blocks, schema = read_encoded(spark, out)
        assert scan(blocks, schema).count() == 3000
        # stream keeps appending; table stays readable and consistent
        _drop(src, "b.parquet", 3000, 2000)
        q.processAllAvailable()
        blocks, schema = read_encoded(spark, out)
        total = scan(blocks, schema).agg(
            F.count("*").alias("n"), F.sum("n_tok").alias("s")
        ).collect()[0]
        raw = spark.read.parquet(src).agg(
            F.count("*").alias("n"), F.sum("n_tok").alias("s")
        ).collect()[0]
        assert (total.n, total.s) == (raw.n, raw.s)
        # pruned scan over the streamed table matches the raw filter
        got = scan(blocks, schema, where=col("source") == "code").count()
        exp = spark.read.parquet(src).filter(F.col("source") == "code").count()
        assert got == exp
        m = _read_manifest(out)
        assert len(m["batches"]) == 2
        assert sorted(m["files"]) == m["files"]
    finally:
        q.stop()


def test_replayed_batch_is_idempotent(spark, dirs):
    """A batch re-run with the same batchId (crash before the manifest
    commit) must replace its files, never duplicate rows."""
    src, out, ckp = dirs
    _drop(src, "a.parquet", 0, 1500)
    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        ).parquet(src)
    )
    q = encode_stream(stream, out, ckp, parts=2, block_rows=512)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert any(f.startswith("stream-b") for f in os.listdir(out))
    blocks, schema = read_encoded(spark, out)
    n_before = scan(blocks, schema).count()
    # replay batch 0 through the sink's per-batch step, twice
    batch_df = spark.read.parquet(src)
    for _ in range(2):
        files = write_batch(batch_df, 0, out, parts=2, block_rows=512)
        assert files and all(f.startswith("stream-b00000000-") for f in files)
        blocks, schema = read_encoded(spark, out)
        assert scan(blocks, schema).count() == n_before  # replaced, not appended
        assert _read_manifest(out)["batches"]["0"] == files


def test_batch_commit_after_compaction_keeps_compacted_files(spark, dirs):
    """A micro-batch committed AFTER compact_encoded on a streaming table
    must preserve the compacted (non-batch) files in the manifest —
    rebuilding 'files' from the batches map alone would silently drop all
    pre-compaction rows (ADVICE r3 high)."""
    src, out, ckp = dirs
    _drop(src, "a.parquet", 0, 2000)
    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        ).parquet(src)
    )
    q = encode_stream(stream, out, ckp, parts=2, block_rows=512)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from aisle_spark.maintenance import compact_encoded

    compact_encoded(spark, out, target_files=1)
    m = _read_manifest(out)
    assert m["batches"] == {} and len(m["files"]) == 1
    compacted = set(m["files"])

    # next micro-batch arrives after the compaction
    _drop(src, "b.parquet", 2000, 1000)
    stream2 = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        ).parquet(src)
    )
    q2 = encode_stream(stream2, out, ckp, parts=2, block_rows=512)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    m = _read_manifest(out)
    assert compacted <= set(m["files"])  # compacted history survives
    blocks, schema = read_encoded(spark, out)
    assert scan(blocks, schema).count() == 3000
    # file_stats stay consistent with the file list
    assert set(m["file_stats"]) <= set(m["files"])


def test_stream_commits_record_file_stats(spark, dirs):
    """Streamed tables join the manifest-list pruning tier: each batch
    commit carries its files' [min,max] bounds, and the batch data source
    prunes whole streamed files on them."""
    src, out, ckp = dirs
    _drop(src, "a.parquet", 5, 2000)
    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = encode_stream(stream, out, ckp, parts=4, sort_cols=["source", "n_tok"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    m = _read_manifest(out)
    assert m["files"] and set(m["file_stats"]) == set(m["files"])
    some = next(iter(m["file_stats"].values()))
    assert "n_tok" in some and some["n_tok"][0] <= some["n_tok"][1]

    from aisle_spark.datasource import file_keep

    spec = col("n_tok") > 10**9
    assert all(not file_keep(s, spec) for s in m["file_stats"].values())
