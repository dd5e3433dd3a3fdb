"""The one manifest transaction (``pipeline.commit``) that every writer
ends in: a crash inside it leaves the table at its previous version with
a schema sidecar, and concurrent local appenders lose no file. The swap
of ``_aisle_files.json`` is the one commit point: nothing written before
it is visible to any reader."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aisle_spark.pipeline import commit, fold_file_stats, list_snapshots, load_manifest
from aisle_spark.schema import TOKEN_SCHEMA, specs_for_schema, synth_batch

SIDECAR = "_aisle_schema.arrow"


def _table(i: int, n: int = 600) -> pa.Table:
    return pa.Table.from_batches([synth_batch(i * n, n)])


def _linked(root: str, names: list[str]) -> None:
    """``root`` holding one block file hard-linked under each of
    ``names``: files a commit can fold and publish without Spark."""
    from aisle_spark.pipeline import BlockFileWriter

    os.makedirs(root)
    w = BlockFileWriter(specs_for_schema(TOKEN_SCHEMA), root, "seed.parquet", block_rows=256)
    w.write(_table(0))
    seed = w.close()["file"]
    for f in names:
        os.link(f"{root}/{seed}", f"{root}/{f}")


def _stats_are_folds(root: str, m: dict) -> bool:
    """Every live file's committed stats row is the fold of that file."""
    want = fold_file_stats(None, root, m["files"], specs_for_schema(TOKEN_SCHEMA)).to_pylist()
    got = {r["file"]: r for r in m["stats"].to_pylist()}
    return [got[r["file"]] for r in want] == want


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
    writes it (tmp + rename) before it publishes. A retry then commits
    its own rows only: the failed attempt's files stay uncommitted."""
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
        version, _files, rows = _state(spark, out)
        assert version == (before[0] if before else 0) + 1
        # compaction rewrites the committed rows, every other writer adds 600
        assert rows == (before[2] if before else 0) + (0 if writer == "compact" else 600)


def test_concurrent_appenders_lose_no_file(tmp_path):
    """8 threads each commit 5 hard-linked copies of one block file, one
    per commit: every file is live, every version reads, and every file's
    stats row is the fold of that file."""
    from aisle_spark.pipeline import read_snapshot

    root = str(tmp_path / "t")
    names = [[f"blocks-{t}-{k}.parquet" for k in range(5)] for t in range(8)]
    _linked(root, sum(names, []))

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
    assert _stats_are_folds(root, m)


def test_crash_at_manifest_swap_commits_nothing(tmp_path, monkeypatch):
    """An OSError at the ``_aisle_files.json`` write of a second commit,
    after its stats file and snapshot v2 are written: every reader stays
    at version 1, and the retry commits version 2 over the orphan."""
    import aisle_spark.pipeline as pl
    from aisle_spark.datasource import AisleReader, AisleStreamReader, planned_files
    from aisle_spark.maintenance import snapshots

    root = str(tmp_path / "t")
    _linked(root, ["f0.parquet", "f1.parquet", "f2.parquet"])
    commit(None, root, TOKEN_SCHEMA, ["f0.parquet"])
    real = pl._fs_write_json

    def crash(fs, path, obj):
        if path.endswith(pl.MANIFEST):
            raise OSError("injected crash")
        real(fs, path, obj)

    with monkeypatch.context() as mp:
        mp.setattr(pl, "_fs_write_json", crash)
        with pytest.raises(OSError, match="injected"):
            commit(None, root, TOKEN_SCHEMA, ["f1.parquet"])
    assert os.path.exists(f"{root}/_aisle_snapshots/v00000002.json")
    m = load_manifest(None, root)
    assert (m["version"], m["files"]) == (1, ["f0.parquet"])
    assert AisleStreamReader(root).latestOffset() == {"version": 1}
    assert list_snapshots(None, root) == [1]
    assert snapshots(root) == [{"version": 1, "n_files": 1}]
    with pytest.raises(FileNotFoundError):
        AisleReader(root, version=2).partitions()

    assert commit(None, root, TOKEN_SCHEMA, ["f2.parquet"]) == 2
    assert load_manifest(None, root)["files"] == ["f0.parquet", "f2.parquet"]
    stream = AisleStreamReader(root)
    assert stream.latestOffset() == {"version": 2}
    assert planned_files(stream.partitions({"version": 1}, {"version": 2})) == [f"{root}/f2.parquet"]


@pytest.mark.parametrize("form", ["full_form", "pointer_form"])
def test_older_manifest_forms_read_and_commit(tmp_path, form):
    """Tables whose ``_aisle_files.json`` was written in an older form
    (the full file list, or a version with a pointer flag) load, and
    accept a commit that numbers the next version."""
    root = str(tmp_path / "t")
    _linked(root, ["f0.parquet", "f1.parquet"])
    commit(None, root, TOKEN_SCHEMA, ["f0.parquet"])
    old = {"version": 1, "files": ["f0.parquet"]} if form == "full_form" else dict(version=1, pointer=True)
    with open(f"{root}/_aisle_files.json", "w") as fh:
        json.dump(old, fh)
    assert load_manifest(None, root)["files"] == ["f0.parquet"]
    assert commit(None, root, TOKEN_SCHEMA, ["f1.parquet"]) == 2
    m = load_manifest(None, root, stats=True)
    assert m["files"] == ["f0.parquet", "f1.parquet"] and _stats_are_folds(root, m)


# a child process that commits one file and dies (os._exit) at the write
# whose path ends in argv[3]: after the tmp file is half written, before
# its rename
_KILLED_COMMIT = """
import os, sys
import aisle_spark.pipeline as pl
from aisle_spark.schema import TOKEN_SCHEMA

root, name, target = sys.argv[1:4]
real = pl._fs_write


def write(fs, path, body):
    if path.endswith(target):
        with open(f"{path}.tmp{os.getpid()}", "wb") as fh:
            fh.write(body[: len(body) // 2])
        os._exit(1)
    real(fs, path, body)


pl._fs_write = write
pl.commit(None, root, TOKEN_SCHEMA, [name])
sys.exit(2)  # the kill point was never reached
"""


def test_killed_commit_process_leaves_previous_version(tmp_path):
    """A real process killed at each of ``commit``'s writes in turn (the
    schema sidecar, the stats file, the snapshot, the manifest swap):
    afterwards the table reads at its previous version with every stats
    row equal to its file's fold, no snapshot above it is listed, and
    the next commit takes the next version."""
    root = str(tmp_path / "t")
    names = [f"f{k}.parquet" for k in range(5)]
    _linked(root, names)
    commit(None, root, TOKEN_SCHEMA, names[:1])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]))
    # the third child, killed at its snapshot write, commits version 4
    kills = ["_aisle_schema.arrow", ".stats.parquet", "v00000004.json", "_aisle_files.json"]
    for version, (name, target) in enumerate(zip(names[1:], kills), start=1):
        child = subprocess.run(
            [sys.executable, "-c", _KILLED_COMMIT, root, name, target], env=env, capture_output=True
        )
        assert child.returncode == 1, child.stderr.decode()[-2000:]
        m = load_manifest(None, root, stats=True)
        assert m["version"] == version and m["files"] == names[:version]
        assert _stats_are_folds(root, m)
        assert list_snapshots(None, root)[-1] == version
        assert commit(None, root, TOKEN_SCHEMA, [name]) == version + 1
    assert load_manifest(None, root)["files"] == names
