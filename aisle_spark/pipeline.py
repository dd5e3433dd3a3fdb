"""The distributed encode / scan pipeline — declarative DataFrame ops plus
vectorized Arrow UDFs.

Shape (SURVEY.md §7.0):

  encode:  input parquet files
             -> packed into byte-balanced tasks (whole files per task)
             -> mapInArrow: each task reads its files with pyarrow and
                writes its own block parquet through BlockFileWriter
                (_order_and_slice -> encode_block -> row groups)
             -> per-input _done/ sidecars -> file stats folded from the
                written files' block stats -> publish_manifest

           ``encode_table`` is the row-shuffle variant: rows move to a
           salted ``part_id`` (xxhash64(salt_cols) % P) through
           groupBy(part_id).applyInArrow and come back as a blocks
           DataFrame (manifest stats columns + payload columns fused).

  scan:    blocks df
             -> .filter(spec.keep_blocks())             (tri-state pruning —
                a plain Catalyst filter; when blocks live in parquet the
                same comparisons ALSO push down to parquet row-group stats,
                so the manifest is itself min-max indexed)
             -> .select(required payload columns)       (projection pushdown)
             -> mapInArrow(decode)                      (vectorized)
             -> .filter(spec.residual())                (exact row filter —
                aisle's RowFilter, src/row_filter.rs in the reference)

At 1000-executor / 100 TB scale: the manifest filter is embarrassingly
parallel over block rows, decode is shuffle-free (narrow), and encode
moves no rows at all — each task encodes the files it reads and only
file names cross back to the JVM.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aisle_spark.blocks import decode_block, encode_block
from aisle_spark.filterspec import Spec
from aisle_spark.schema import (
    ColumnSpec,
    ReadPlan,
    assemble_struct,
    blocks_arrow_schema,
    blocks_spark_schema,
    flatten_table,
    read_plan,
    specs_for_schema,
)

DEFAULT_BLOCK_ROWS = 4096

# direct-write encode streams blocks to the output parquet every this many
# blocks (one row group each): the task's block-buffer peak is bounded by
# FLUSH_BLOCKS regardless of input file size
FLUSH_BLOCKS = 64


def _pin_worker_threads() -> None:
    """Inside executor python workers, pyarrow must not fan compute out to
    every core: N workers x N arrow threads = N^2 runnable threads and
    throughput COLLAPSES at high parallelism (measured: local[32] slower
    than local[8] before pinning). Idempotent; called at UDF entry."""
    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)


# cap flattened list values per block so UDF batches stay bounded
# (SURVEY.md §7.3 risk 5): 4096 rows x zipf lengths can explode otherwise
DEFAULT_MAX_VALUES = 1 << 21


def arrow_schema_of(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def _order_and_slice(
    tbl: pa.Table,
    specs: list[ColumnSpec],
    sort_keys: list,
    block_rows: int,
    max_values: int,
) -> list[pa.Table]:
    """Single-gather ordering: global sort by ``sort_keys``, block
    boundaries under the row AND flattened-value caps, then within-block
    token-width clustering — all computed on INDICES first; the table is
    gathered exactly ONCE. (sort_by + a per-block cluster take were two
    full copies of the token payload — pure memory traffic, the resource
    the 8->32 scaling ceiling is made of.) Returns zero-copy slices."""
    import numpy as np
    import pyarrow.compute as pc

    from aisle_spark.blocks import row_token_widths

    n = tbl.num_rows
    if n == 0:
        return []
    if sort_keys:
        idx = (
            pc.sort_indices(
                tbl.select([c for c, _ in sort_keys]), sort_keys=sort_keys
            )
            .to_numpy()
            .astype(np.int64)
        )
    else:
        idx = np.arange(n, dtype=np.int64)
    list_cols = [s.name for s in specs if s.kind in ("intlist", "floatlist")]
    first_intlist = next((s.name for s in specs if s.kind == "intlist"), None)
    weight = np.zeros(n, dtype=np.int64)
    flat0 = lens0 = None
    for c in list_cols:
        col = tbl.column(c).combine_chunks()
        lens = col.value_lengths().to_numpy(zero_copy_only=False)
        lens = np.nan_to_num(lens, nan=0).astype(np.int64)
        weight += lens
        if c == first_intlist:
            # share the flatten/lengths with the width-clustering pass —
            # both scan the same token payload
            flat0 = col.flatten().to_numpy(zero_copy_only=False)
            lens0 = lens
    width = row_token_widths(specs, tbl, _flat=flat0, _lens=lens0)  # ORIGINAL order
    cum = np.cumsum(weight[idx])
    bounds = [0]
    lo = 0
    while lo < n:
        hi_rows = min(lo + block_rows, n)
        base = cum[lo - 1] if lo else 0
        hi_vals = int(np.searchsorted(cum, base + max_values, side="right"))
        hi = max(lo + 1, min(hi_rows, hi_vals))
        bounds.append(hi)
        lo = hi
    if width is not None:
        parts = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            seg = idx[a:b]
            parts.append(seg[np.argsort(width[seg], kind="stable")])
        idx = np.concatenate(parts)
    if not np.array_equal(idx, np.arange(n, dtype=np.int64)):
        tbl = tbl.take(pa.array(idx))
    return [tbl.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def _default_salt_cols(specs: list[ColumnSpec]) -> list[str]:
    """High-cardinality top-level key columns: the default salt."""
    return [
        s.name
        for s in specs
        if s.kind in ("string", "int", "timestamp") and "." not in s.name
    ]


# the DataSource writer and the streaming sink hand the block writer
# record batches; they are sorted and encoded in slabs of this many rows,
# which bounds task memory whatever the partition size
SLAB_ROWS = 262_144


class BlockFileWriter:
    """The one task-side block-file writer: direct encode, the DataSource
    writer and the streaming sink all write block parquet through it.

    ``write(slab)`` takes one slab of flattened rows through
    ``_order_and_slice`` -> ``encode_block`` and streams a parquet row
    group out every ``flush_blocks`` blocks, so the task's block buffer
    is bounded whatever the input size. ``close()`` returns the file's
    commit record: file name, ``n_blocks``/``n_rows``/``enc_bytes``/
    ``raw_bytes`` and the sort/encode/write seconds — or None when no
    block was written (no file is left). File stats are folded at commit,
    from the written file (``fold_file_stats``).

    The rules every caller shares: ``part_id`` = crc32 of the block's
    first-row salt columns mod ``parts``; ``block_id`` = (Spark partition
    id << 24) | per-task sequence, 0 outside a task; files are written
    uncompressed (the payloads already are). Locally the file is written
    under a dot-tmp name and renamed into place on close, so a final name
    always holds a complete file and a replayed task replaces it; on an
    object store (``fs`` given) the final name is written directly —
    visibility there is governed by the manifest alone."""

    def __init__(
        self,
        specs: list[ColumnSpec],
        out_path: str,
        fname: str,
        fs=None,
        parts: int = 64,
        salt_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        block_rows: int = DEFAULT_BLOCK_ROWS,
        max_values: int = DEFAULT_MAX_VALUES,
        flush_blocks: int = FLUSH_BLOCKS,
    ):
        from pyspark import TaskContext

        tc = TaskContext.get()
        self._id_base = (tc.partitionId() if tc else 0) << 24
        self._specs = specs
        self._schema = blocks_arrow_schema(specs)
        self._sort_keys = [(c, "ascending") for c in (sort_cols or [])]
        self._salt_cols = salt_cols or _default_salt_cols(specs)
        self._parts = parts
        self._block_rows = block_rows
        self._max_values = max_values
        self._flush_blocks = flush_blocks
        self._fs = fs
        self.fname = fname
        root = out_path.rstrip("/")
        self._final = f"{root}/{fname}"
        self._target = f"{root}/.{fname}.tmp" if fs is None else self._final
        self._writer = None
        self._pending: list[dict] = []
        self._seq = 0
        self.n_blocks = self.n_rows = self.enc_bytes = self.raw_bytes = 0
        self.stages = {"sort_sec": 0.0, "encode_sec": 0.0, "write_sec": 0.0}

    def write(self, slab: pa.Table) -> None:
        import time
        import zlib

        ts = time.time()
        # single-gather ordering: sort + block bounds + width clustering
        # resolved on indices, ONE take
        blocks = _order_and_slice(
            slab, self._specs, self._sort_keys, self._block_rows, self._max_values
        )
        self.stages["sort_sec"] += time.time() - ts
        ts = time.time()
        for block in blocks:
            key = "\x1f".join(str(block.column(c)[0].as_py()) for c in self._salt_cols)
            row = encode_block(
                self._specs,
                block,
                int(zlib.crc32(key.encode()) % self._parts),
                self._id_base | self._seq,
            )
            self._seq += 1
            self._pending.append(row)
            if len(self._pending) >= self._flush_blocks:
                self.stages["encode_sec"] += time.time() - ts
                self._flush()
                ts = time.time()
        self.stages["encode_sec"] += time.time() - ts

    def write_batches(self, batches: Iterable[pa.RecordBatch]) -> None:
        """Flatten and write record batches in slabs of SLAB_ROWS rows."""
        slab: list[pa.RecordBatch] = []
        rows = 0
        for b in batches:
            slab.append(b)
            rows += b.num_rows
            if rows >= SLAB_ROWS:
                self.write(flatten_table(pa.Table.from_batches(slab)))
                slab, rows = [], 0
        if slab:
            self.write(flatten_table(pa.Table.from_batches(slab)))

    def _flush(self) -> None:
        import time

        import pyarrow.parquet as pq

        if not self._pending:
            return
        ts = time.time()
        if self._writer is None:
            self._writer = pq.ParquetWriter(
                self._target, self._schema, compression="none", filesystem=self._fs
            )
        self._writer.write_table(
            pa.Table.from_pylist(self._pending, schema=self._schema),
            row_group_size=self._flush_blocks,
        )
        self.stages["write_sec"] += time.time() - ts
        self.n_blocks += len(self._pending)
        for r in self._pending:
            self.n_rows += int(r["n_rows"])
            for c, v in r.items():
                if c.endswith("__enc_bytes"):
                    self.enc_bytes += int(v)
                elif c.endswith("__raw_bytes"):
                    self.raw_bytes += int(v)
        self._pending.clear()

    def close(self) -> dict | None:
        import os

        self._flush()
        if self._writer is None:
            return None
        self._writer.close()
        if self._fs is None:
            os.replace(self._target, self._final)
        return {
            "file": self.fname,
            "n_blocks": self.n_blocks,
            "n_rows": self.n_rows,
            "enc_bytes": self.enc_bytes,
            "raw_bytes": self.raw_bytes,
            "stages": {k: round(v, 4) for k, v in self.stages.items()},
        }


def encode_table(
    df: DataFrame,
    parts: int = 64,
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    max_values: int = DEFAULT_MAX_VALUES,
) -> DataFrame:
    """The row-shuffle encode: rows move to their salted partition
    (``part_id`` = xxhash64 of ``salt_cols`` mod ``parts``) through
    ``groupBy(part_id).applyInArrow``, and each group is encoded into
    block rows returned as a DataFrame (manifest + payload fused). It
    writes no files; ``encode_files_direct`` is the encode that does.

    Two knobs reconcile skew-balance with pruning power:
    * ``salt_cols`` — hashed into ``part_id`` so partitions are byte-
      balanced even under zipf document lengths / monster sources
      (north_rule "salted repartitioning on source+doc_id hash").
    * ``sort_cols`` — each partition is sorted (vectorized, in-UDF) on
      these before being sliced into blocks, so per-block min/max ranges
      are TIGHT and the tri-state pruner can actually skip. Salting
      balances BETWEEN partitions; sorting clusters WITHIN them — the
      same layout trick as parquet's sortWithinPartitions + row groups.
    """
    aschema = arrow_schema_of(df)
    specs = specs_for_schema(aschema)
    out_schema = blocks_arrow_schema(specs)
    sort_keys = [(c, "ascending") for c in (sort_cols or [])]
    salt = salt_cols or _default_salt_cols(specs)
    salted = df.withColumn(
        "part_id",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt]), F.lit(parts)).cast("int"),
    )

    def encode_group(key: tuple, tbl: pa.Table) -> pa.Table:
        _pin_worker_threads()
        part_id = int(key[0].as_py())
        tbl = flatten_table(tbl.drop_columns(["part_id"]))
        rows = []
        for seq, block in enumerate(
            _order_and_slice(tbl, specs, sort_keys, block_rows, max_values)
        ):
            block_id = (part_id << 24) | seq
            rows.append(encode_block(specs, block, part_id, block_id))
        return pa.Table.from_pylist(rows, schema=out_schema)

    return salted.groupBy("part_id").applyInArrow(
        encode_group, schema=blocks_spark_schema(specs)
    )


def _fs_write(fs, path: str, body: bytes) -> None:
    """Commit-point write. Local: tmp + atomic rename. Object store
    (``fs`` given): ONE streamed PUT — object stores create objects
    atomically (readers never observe partial bodies), and a retried task
    re-PUTs the same key with identical semantics to os.replace
    (last-writer-wins). This is the productionization path the round-2
    verdict flagged: no POSIX rename is assumed when fs is set."""
    import os as _os

    if fs is None:
        tmp = f"{path}.tmp{_os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(body)
        _os.replace(tmp, path)
    else:
        with fs.open_output_stream(path) as out:
            out.write(body)


def _fs_write_json(fs, path: str, obj) -> None:
    import json as _json

    _fs_write(fs, path, _json.dumps(obj).encode())


def _fs_read(fs, path: str) -> bytes:
    if fs is None:
        with open(path, "rb") as fh:
            return fh.read()
    with fs.open_input_stream(path) as inp:
        return inp.read()


def _fs_delete(fs, path: str) -> None:
    """Best-effort delete: a file that is already gone, or that cannot
    be removed, stays behind for ``vacuum_encoded``."""
    import os as _os

    try:
        if fs is None:
            _os.remove(path)
        else:
            fs.delete_file(path)
    except OSError:
        pass


from contextlib import contextmanager


@contextmanager
def manifest_lock(fs, root: str):
    """Serialize manifest read-modify-write cycles between LOCAL writers
    (concurrent appends, append-vs-compact) via flock on a sibling lock
    file. On an object store (``fs`` given) this is a documented no-op:
    last-writer-wins there, exactly as for every manifest PUT — true
    multi-writer safety needs the store's conditional-put (If-Match /
    generation preconditions), which pyarrow.fs does not expose; front a
    catalog or single-writer discipline in that deployment."""
    if fs is not None:
        yield
        return
    import fcntl

    lock_path = f"{root.rstrip('/')}/_aisle_manifest.lock"
    with open(lock_path, "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


_SNAP_DIR = "_aisle_snapshots"
# the current-state manifest: the committed file list, or a pointer to
# the snapshot holding it
MANIFEST = "_aisle_files.json"
# the table's Arrow schema (IPC), written by every commit
SCHEMA_SIDECAR = "_aisle_schema.arrow"


def list_snapshots(fs, root: str) -> list[int]:
    """Committed manifest versions, ascending."""
    out = []
    for p, _sz in _fs_list(fs, f"{root.rstrip('/')}/{_SNAP_DIR}", ".json"):
        name = p.rsplit("/", 1)[-1]
        if name.startswith("v") and name[1:-5].isdigit():
            out.append(int(name[1:-5]))
    return sorted(out)


# every Nth snapshot is written FULL; the ones between are deltas against
# their immediate predecessor. Bounds snapshot-commit bytes to O(changed
# files) instead of O(table files) — at 10^5 files an append of one file
# was rewriting the whole list every commit — while read_snapshot replays
# at most _SNAP_FULL_EVERY-1 consecutive deltas (all footer-sized reads)
_SNAP_FULL_EVERY = 16


def _cached(cache: dict | None, key: str, read: Callable):
    """``read()``, once per key while ``cache`` (a dict) lives."""
    if cache is None:
        return read()
    if key not in cache:
        cache[key] = read()
    return cache[key]


def snapshot_json(fs, root: str, version: int, cache: dict | None = None) -> dict:
    """Snapshot ``version`` as persisted: full, or a delta naming its
    ``delta_base``."""
    path = f"{root.rstrip('/')}/{_SNAP_DIR}/v{version:08d}.json"
    return _cached(cache, path, lambda: _fs_read_json(fs, path))


def snapshot_stats(fs, root: str, snap: dict, cache: dict | None = None) -> pa.Table | None:
    """The file stats rows (``schema.file_stats_schema``) a persisted
    snapshot names: every live file's when it is full, the rows its
    commit wrote when it is a delta. None when it names none (a legacy
    manifest: its files have no stats, Unknown). A named file that is
    missing raises FileNotFoundError, like a missing snapshot."""
    if snap.get("stats") is None:
        return None
    import pyarrow.parquet as pq

    path = f"{root.rstrip('/')}/{_SNAP_DIR}/{snap['stats']}"
    return _cached(cache, path, lambda: pq.read_table(pa.BufferReader(_fs_read(fs, path))))


def _write_stats(fs, root: str, version: int, rows: pa.Table) -> str:
    """Write ``rows`` as snapshot ``version``'s stats file (atomically,
    like the snapshot); returns the name the snapshot records."""
    import pyarrow.parquet as pq

    name = f"v{version:08d}.stats.parquet"
    body = pa.BufferOutputStream()
    pq.write_table(rows, body)
    _fs_write(fs, f"{root.rstrip('/')}/{_SNAP_DIR}/{name}", body.getvalue().to_pybytes())
    return name


def _merge_stats(rows: pa.Table | None, gone, added: pa.Table | None) -> pa.Table | None:
    """``rows`` without the files in ``gone`` or in ``added``, then
    ``added``: a rewritten file's new rows replace its old ones. None
    when no row is left (an overwrite may change the schema)."""
    import pyarrow.compute as pc

    if rows is not None:
        drop = list(gone) + ([] if added is None else added.column("file").to_pylist())
        rows = rows.filter(pc.invert(pc.is_in(rows.column("file"), pa.array(drop, pa.string()))))
    parts = [t for t in (rows, added) if t is not None and t.num_rows]
    return pa.concat_tables(parts, promote_options="default") if parts else None


def read_snapshot(
    fs, root: str, version: int, stats: bool = False, cache: dict | None = None
) -> dict:
    """Materialize one committed manifest version. Delta snapshots replay
    forward from the nearest full ancestor (chains are strictly
    consecutive, so the walk is bounded by _SNAP_FULL_EVERY). With
    ``stats`` the payload also carries ``"stats"``: the live files' stats
    rows, replayed along the same chain (``snapshot_stats``), or None
    when no snapshot of the chain has any. A missing file anywhere in the
    chain raises FileNotFoundError exactly like a missing full snapshot —
    retention violations stay loud. ``cache`` (a dict) memoizes the reads
    of snapshot and stats files across calls."""
    root = root.rstrip("/")
    snap = snapshot_json(fs, root, version, cache)
    chain = []
    while "delta_base" in snap:
        chain.append(snap)
        snap = snapshot_json(fs, root, snap["delta_base"], cache)
    payload = {k: v for k, v in snap.items() if k != "stats"}
    files = set(payload.get("files", []))
    rows = snapshot_stats(fs, root, snap, cache) if stats else None
    for d in reversed(chain):
        # in place: a step costs its delta, not the table's file count
        files.difference_update(d["del_files"])
        files.update(d["add_files"])
        payload = {"version": d["version"], **d.get("extras", {})}
        if stats:
            rows = _merge_stats(rows, d["del_files"], snapshot_stats(fs, root, d, cache))
    payload["files"] = sorted(files)
    if stats:
        payload["stats"] = rows
    return payload


def _snapshot_payload(fs, root: str, payload: dict, version: int) -> dict:
    """The JSON actually persisted for snapshot ``version``: the full
    payload on the periodic checkpoints (and whenever the delta would not
    be smaller: it would name as many files as the full list, and its
    stats file would hold as many rows — e.g. compaction rewrites the
    whole file set), otherwise a delta against version-1 as read from the
    CURRENT manifest. Any lineage surprise degrades to full — always
    correct, never smaller."""
    if version == 1 or version % _SNAP_FULL_EVERY == 1:
        return payload
    try:
        prev = load_manifest(fs, root)
    except OSError:
        return payload
    if prev is None or prev.get("version") != version - 1:
        return payload
    old_files = set(prev.get("files", []))
    new_files = set(payload.get("files", []))
    delta = {
        "version": version,
        "delta_base": version - 1,
        "add_files": sorted(new_files - old_files),
        "del_files": sorted(old_files - new_files),
        "extras": {k: v for k, v in payload.items() if k not in ("version", "files")},
    }
    if len(delta["add_files"]) + len(delta["del_files"]) >= len(new_files):
        return payload
    return delta


# above this many committed files the current-state manifest switches to
# the POINTER form ({"version": N, "pointer": true}): the commit then
# writes O(changed) bytes total — one delta snapshot plus a ~40-byte
# pointer swap — instead of rewriting the full file list (~10 MB at 10^6
# files). Readers resolve the pointer through read_snapshot
# (<= _SNAP_FULL_EVERY-1 footer-sized delta reads past the last full
# checkpoint) — the Delta-Lake commit-log + periodic-checkpoint
# amortization. Small tables keep the single-read full form.
_MANIFEST_POINTER_MIN_FILES = 4096


def load_manifest(fs, root: str, stats: bool = False) -> dict | None:
    """The current-state manifest as a FULL dict, resolving the pointer
    form through the snapshot chain; None when the table has no manifest
    (a plain ``blocks.write.parquet`` layout, or nothing committed yet).
    ``stats`` adds the live files' stats rows (``read_snapshot``). Every
    in-engine reader of the manifest goes through here."""
    root = root.rstrip("/")
    try:
        m = _fs_read_json(fs, f"{root}/{MANIFEST}")
    except FileNotFoundError:
        return None
    if "files" in m and not stats:
        return m
    return read_snapshot(fs, root, int(m["version"]), stats=stats)


def publish_manifest(fs, root: str, payload: dict, stats: pa.Table | None = None) -> int:
    """The ONE manifest commit point: write an immutable numbered
    snapshot (full or delta, see _snapshot_payload) — time travel for
    training-data reproducibility (readers pin ``versionAsOf``; vacuum
    keeps every file any retained snapshot references) — then commit by
    swapping ``_aisle_files.json``: the full payload for small tables,
    the pointer form past _MANIFEST_POINTER_MIN_FILES files so a
    single-file append writes O(changed) bytes at ANY table size.

    ``stats`` holds the stats rows (``fold_file_stats``) of the files
    this commit wrote; the survivors' rows carry forward. They go to an
    immutable ``v{N}.stats.parquet`` written before the snapshot that
    names it — every live file's rows when the snapshot is full, only
    ``stats`` when it is a delta — so the snapshot stays the commit
    point. ``commit`` calls it under ``manifest_lock``, which also
    serializes version numbering. Returns the new version."""
    import pyarrow.compute as pc

    root = root.rstrip("/")
    versions = list_snapshots(fs, root)
    version = (versions[-1] + 1) if versions else 1
    payload = dict(payload, version=version)
    _fs_mkdirs(fs, f"{root}/{_SNAP_DIR}")
    snap = _snapshot_payload(fs, root, payload, version)
    live = pa.array(payload.get("files", []), pa.string())

    def alive(rows: pa.Table | None) -> pa.Table | None:
        return None if rows is None else rows.filter(pc.is_in(rows.column("file"), live))

    stats = alive(stats)
    if "delta_base" not in snap and versions:
        prev = read_snapshot(fs, root, versions[-1], stats=True)["stats"]
        stats = _merge_stats(alive(prev), (), stats)
    if stats is not None:
        snap = dict(snap, stats=_write_stats(fs, root, version, stats))
    _fs_write_json(fs, f"{root}/{_SNAP_DIR}/v{version:08d}.json", snap)
    if len(payload.get("files", ())) > _MANIFEST_POINTER_MIN_FILES:
        current = {"version": version, "pointer": True}
    else:
        current = payload
    _fs_write_json(fs, f"{root}/{MANIFEST}", current)
    return version


def fold_file_stats(fs, root: str, rel_files: list[str], specs: list[ColumnSpec]) -> pa.Table:
    """The stats rows a commit records for ``rel_files`` (manifest-
    relative), folded on the driver from each committed file's block stat
    columns (``chunkstats.fold_blocks``) — one footer-sized read per
    file under the bounded planning thread pool — plus its size."""
    import os as _os

    from aisle_spark.chunkstats import fold_blocks
    from aisle_spark.datasource import read_stat_columns
    from aisle_spark.schema import file_stats_schema

    root = root.rstrip("/")
    paths = [f"{root}/{f}" for f in rel_files]
    want = [n for n in file_stats_schema(specs).names if n not in ("file", "__bytes")]
    if fs is None:
        sizes = [_os.path.getsize(p) for p in paths]
    else:
        sizes = [i.size for i in fs.get_file_info(paths)] if paths else []
    return fold_blocks(list(rel_files), read_stat_columns(fs, paths, want), sizes, specs)


# ``commit(..., drop=ALL)``: the commit replaces the whole live set
ALL = object()


def commit(
    fs,
    root: str,
    schema: pa.Schema,
    add: Iterable[str],
    drop: Iterable[str] | object = (),
    batch: int | None = None,
    compacted_from: int | None = None,
) -> int:
    """The ONE manifest transaction; every writer ends in it. Under
    ``manifest_lock`` it reads the current manifest once and makes the
    live set (current − ``drop``) ∪ ``add`` (``drop=ALL``: ``add`` alone).
    It folds stats rows (``fold_file_stats``) for the files of ``add``
    that do not survive unchanged: a survivor is a current file that
    ``drop`` does not name or, under ``ALL``, that ``add`` names again.
    So a resumed encode does not refold its committed files, while a
    rewritten name (a replayed batch) is folded anew. It then writes the
    schema sidecar (tmp + rename) and publishes (``publish_manifest``),
    so a committed table always has its schema.

    ``batches`` (the streaming sink's batch-id → files map) is carried
    forward, filtered to live files. ``batch=b`` also drops batch b's
    old files and maps b to ``add``: a replay replaces, never adds.
    ``compacted_from`` is written only when given, never carried: it
    marks a commit whose files hold only already-emitted rows, which
    stream readers skip. Returns the new version."""
    root = root.rstrip("/")
    new = set(add)
    _fs_mkdirs(fs, root)
    with manifest_lock(fs, root):
        cur = load_manifest(fs, root) or {"files": []}
        old = set(cur["files"])
        batches = cur.get("batches")
        replaced = set()
        if batch is not None:
            batches = dict(batches or {})
            replaced = set(batches.get(str(batch), ()))
            batches[str(batch)] = sorted(new)
        # the survivors: files whose stats rows carry forward unfolded
        kept = (old & new if drop is ALL else old - set(drop)) - replaced
        live = kept | new
        stats = fold_file_stats(fs, root, sorted(new - kept), specs_for_schema(schema))
        payload: dict = {"files": sorted(live)}
        if batches is not None:
            payload["batches"] = {
                b: left for b, files in batches.items() if (left := [f for f in files if f in live])
            }
        if compacted_from is not None:
            payload["compacted_from"] = compacted_from
        _write_schema_sidecar(root, schema, fs)
        return publish_manifest(fs, root, payload, stats)


def _fs_read_json(fs, path: str):
    import json as _json

    return _json.loads(_fs_read(fs, path))


def _fs_list(fs, directory: str, suffix: str) -> list[tuple[str, int]]:
    """(path, size) entries under ``directory`` ending in ``suffix``."""
    if fs is None:
        import glob as _glob
        import os as _os

        return sorted(
            (p, _os.path.getsize(p))
            for p in _glob.glob(_os.path.join(directory, f"*{suffix}"))
            if not _os.path.basename(p).startswith(("_", "."))
        )
    from pyarrow import fs as _pafs

    infos = fs.get_file_info(_pafs.FileSelector(directory, allow_not_found=True))
    return sorted(
        (i.path, i.size)
        for i in infos
        if i.is_file
        and i.base_name.endswith(suffix)
        and not i.base_name.startswith(("_", "."))
    )


def _fs_mkdirs(fs, path: str) -> None:
    if fs is None:
        import os as _os

        _os.makedirs(path, exist_ok=True)
    else:
        fs.create_dir(path, recursive=True)


# task layout of the direct encode: inputs with more than ENCODE_WAVES x
# cores files run as this many waves of byte-balanced tasks
ENCODE_WAVES = 4


def encode_files_direct(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    parts: int = 64,
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    max_values: int = DEFAULT_MAX_VALUES,
    resume: bool = False,
    filesystem=None,
) -> list[str]:
    """The encode: python tasks read their input parquet with pyarrow and
    write the block parquet themselves through ``BlockFileWriter`` — only
    tiny (file, n_blocks, n_rows) rows ever cross the Python->JVM
    boundary. Returns the committed file names.

    Why: returning compressed blocks to Spark for it to write moves every
    payload Python->JVM->writer; that exchange was measured as the
    end-to-end scaling ceiling (BENCH_r01: e2e efficiency 0.22-0.63 at
    8->32 cores while the pure codec stack scales at 0.93). Here the JVM
    only schedules tasks and collects file names, so throughput scales
    with the python workers.

    Commit protocol (speculation/retry-safe): each attempt writes a
    uniquely-named file (tmp-name + atomic rename locally), then a
    per-input lineage sidecar under ``_done/`` (also atomic) recording
    the data file and its codec/size/throughput metrics — the sidecar IS
    the per-input commit point. The driver then ``commit``s exactly the
    files the sidecars name as the table's whole file set (``drop=ALL``):
    one transaction that folds the stats of files the current manifest
    lacks, writes the schema sidecar and publishes ``_aisle_files.json``.
    Readers list that manifest, never the directory, so orphans from
    failed attempts are invisible. On an object store the renames drop
    out and the manifest alone is the commit (same shape as Iceberg's
    file-list commit).

    ``resume=True`` skips every input file that already has a committed
    sidecar — an interrupted run continues from the last committed input
    (``lineage_files`` exposes the metrics table). Task input is
    byte-balanced by packing whole input files into tasks."""
    import hashlib
    import json as _json
    import os as _os

    fs = filesystem
    files, specs, in_schema = _input_files(input_path, fs)
    done_dir = f"{out_path.rstrip('/')}/_done"
    _fs_mkdirs(fs, done_dir)
    if resume:
        committed_inputs = set()
        for p, _sz in _fs_list(fs, done_dir, ".json"):
            committed_inputs.update(_fs_read_json(fs, p)["inputs"])
        files = [f for f in files if _os.path.basename(f) not in committed_inputs]
        if not files:
            return _commit_done(fs, out_path, in_schema)
    # pyarrow reads the ORIGINAL top-level columns; structs flatten after
    names = [f.name for f in in_schema if not f.name.startswith("_")]
    _fs_mkdirs(fs, out_path)
    # read on the driver: tasks must see a patched FLUSH_BLOCKS too
    flush_blocks = FLUSH_BLOCKS

    def encode_and_write(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_threads()
        import os
        import time
        import uuid

        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        task_id = tc.partitionId() if tc else 0
        attempt = tc.taskAttemptId() if tc else 0
        t0 = time.time()
        w = BlockFileWriter(
            specs,
            out_path,
            f"blocks-{task_id:05d}-{attempt}-{uuid.uuid4().hex[:8]}.parquet",
            fs=fs,
            parts=parts,
            salt_cols=salt_cols,
            sort_cols=sort_cols,
            block_rows=block_rows,
            max_values=max_values,
            flush_blocks=flush_blocks,
        )
        inputs: list[str] = []
        read_sec = 0.0
        for b in batches:
            for blob in b.column(0).to_pylist():
                for path in _json.loads(blob):
                    inputs.append(os.path.basename(path))
                    ts = time.time()
                    tbl = flatten_table(
                        pq.read_table(path, columns=names, filesystem=fs)
                    )
                    read_sec += time.time() - ts
                    w.write(tbl)
        rec = w.close()
        if rec is None:
            return
        # the per-input COMMIT: data file is in place, now the sidecar.
        # keyed by input names, so a retried/resumed task for the same
        # inputs REPLACES this entry (and its orphan data file is never
        # listed by the manifest rebuild)
        wall = time.time() - t0
        meta = {
            "inputs": inputs,
            **rec,
            "wall_sec": round(wall, 4),
            "rows_per_sec": round(rec["n_rows"] / wall, 1) if wall > 0 else 0.0,
            "stages": {"read_sec": round(read_sec, 4), **rec["stages"]},
        }
        # collision-resistant sidecar key (ADVICE r2 medium): a 32-bit
        # crc32 over ~1e5 input sets has tens-of-percent birthday collision
        # odds, and a collision silently drops one input's blocks from the
        # rebuilt manifest
        skey = hashlib.sha256("|".join(sorted(inputs)).encode()).hexdigest()[:24]
        _fs_write_json(fs, f"{out_path.rstrip('/')}/_done/{skey}.json", meta)
        yield pa.RecordBatch.from_pylist(
            [{k: rec[k] for k in ("file", "n_blocks", "n_rows")}],
            schema=pa.schema(
                [
                    pa.field("file", pa.string()),
                    pa.field("n_blocks", pa.int64()),
                    pa.field("n_rows", pa.int64()),
                ]
            ),
        )

    # Task layout: ~ENCODE_WAVES waves of byte-balanced tasks, several
    # input files per task when files outnumber that. One-file-per-task
    # paid a fixed ~0.3 core-sec of task overhead (scheduling + Arrow
    # handshake + writer/sidecar setup) per file — ~25% of the encode
    # wall at files >> cores (guide §2.2 "fewer, larger map tasks"; §6
    # open cost). Greedy LPT over file sizes: largest first into the
    # currently-lightest task keeps tasks byte-balanced, and tasks are
    # emitted heaviest-first so the big ones start in the first wave and
    # the light ones backfill the tail — the same minimal-straggler
    # scheduling as before, one level up.
    size_of = dict(_fs_list(fs, input_path, ".parquet"))
    files_by_size = sorted(files, key=lambda f: -size_of.get(f, 0))
    cores = max(1, spark.sparkContext.defaultParallelism)
    if len(files_by_size) <= ENCODE_WAVES * cores:
        # at most ENCODE_WAVES files per core: the wave target would keep
        # one task per file, paying the fixed per-task overhead up to
        # ENCODE_WAVES times per core for no balance benefit — collapse
        # to ONE wave of byte-balanced tasks (measured -10% on the
        # 64-file/32-core headline encode, 3 interleaved A/B pairs).
        # Larger inputs keep the multi-wave layout: there the extra waves
        # are what lets fast cores backfill a straggler's tail.
        n_tasks = min(len(files_by_size), cores)
    else:
        n_tasks = ENCODE_WAVES * cores
    group_files: list[list[str]] = [[] for _ in range(n_tasks)]
    group_bytes = [0] * n_tasks
    for f in files_by_size:
        g = group_bytes.index(min(group_bytes))
        group_files[g].append(f)
        group_bytes[g] += size_of.get(f, 0) or 1
    groups = [
        g
        for _b, g in sorted(
            zip(group_bytes, group_files), key=lambda t: -t[0]
        )
        if g
    ]
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(_json.dumps(g),) for g in groups], len(groups)
        ),
        "paths string",
    )
    fdf.mapInArrow(
        encode_and_write, "file string, n_blocks long, n_rows long"
    ).collect()
    return _commit_done(fs, out_path, in_schema)


def _commit_done(fs, out_path: str, in_schema: pa.Schema) -> list[str]:
    """Commit exactly the data files named by committed ``_done/``
    sidecars (this run's AND previous runs', so resume unions
    correctly) as the table's file set; returns them. The schema sidecar
    records the ORIGINAL (possibly nested) schema — scan derives the
    flat leaf specs from it."""
    committed = sorted(
        _fs_read_json(fs, p)["file"]
        for p, _sz in _fs_list(fs, f"{out_path.rstrip('/')}/_done", ".json")
    )
    in_arrow = pa.schema([f for f in in_schema if not f.name.startswith("_")])
    commit(fs, out_path, in_arrow, committed, drop=ALL)
    return committed


def lineage_files(spark: SparkSession, out_path: str) -> DataFrame:
    """Per-input lineage + metrics of a direct-write encode as a DataFrame
    (inputs, data file, blocks/rows/bytes, wall, throughput)."""
    import glob as _glob
    import json as _json
    import os as _os

    rows = []
    for p in sorted(_glob.glob(_os.path.join(out_path, "_done", "*.json"))):
        with open(p) as fh:
            rows.append(_json.load(fh))
    return spark.createDataFrame(
        [
            (
                r["inputs"],
                r["file"],
                r["n_blocks"],
                r["n_rows"],
                r["enc_bytes"],
                r["raw_bytes"],
                r["wall_sec"],
                r["rows_per_sec"],
                r.get("stages", {}).get("read_sec", 0.0),
                r.get("stages", {}).get("sort_sec", 0.0),
                r.get("stages", {}).get("encode_sec", 0.0),
                r.get("stages", {}).get("write_sec", 0.0),
            )
            for r in rows
        ],
        "inputs array<string>, file string, n_blocks long, n_rows long, "
        "enc_bytes long, raw_bytes long, wall_sec double, rows_per_sec double, "
        "read_sec double, sort_sec double, encode_sec double, write_sec double",
    )


def _input_files(input_path: str, fs=None):
    """List input parquet + derive engine specs (driver-side; with ``fs``
    set this IS the pyarrow.fs/object-store listing; a table catalog would
    replace it at warehouse scale)."""
    import pyarrow.parquet as _pq

    files = [p for p, _sz in _fs_list(fs, input_path, ".parquet")]
    if not files:
        raise FileNotFoundError(f"no parquet files under {input_path}")
    in_schema = _pq.read_schema(files[0], filesystem=fs)
    specs = specs_for_schema(
        pa.schema([f for f in in_schema if not f.name.startswith("_")])
    )
    return files, specs, in_schema


def _decode_fn(specs: list[ColumnSpec], plan: ReadPlan, where=None):
    """Decode block rows into batches of ``plan.decoded``: the flat
    ``plan.leaves`` decode, then each struct field reassembles from them
    (nested dotted-path support, /root/reference/src/compile.rs:369-518)."""
    by_name = {s.name: s for s in specs}
    ordered = plan.leaves
    flat_out = plan.decoded.names == ordered  # no struct to reassemble

    def decode(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_threads()
        from aisle_spark.blocks import decode_block_filtered

        sub = [by_name[c] for c in ordered]
        for b in batches:
            # Arrow-level access per BLOCK row: payload cells come out as
            # zero-copy buffers, never as python bytes objects. Names were
            # dot-mangled for the mapInArrow exchange (Spark re-resolves
            # plain column names and would parse '.' as struct access).
            cols = {
                name.replace("__dot__", "."): b.column(i)
                for i, name in enumerate(b.schema.names)
            }
            for i in range(b.num_rows):
                row = {
                    name: memoryview(col[i].as_buffer())
                    if isinstance(col[i], pa.BinaryScalar) and col[i].is_valid
                    else col[i].as_py()
                    for name, col in cols.items()
                }
                if where is not None:
                    # exact row filter INSIDE the reader: surviving rows
                    # decode only the mini-block chunks they touch
                    flat = decode_block_filtered(sub, row, ordered, where)
                else:
                    flat = decode_block(sub, row, ordered)
                if flat_out:
                    yield flat
                    continue
                leaves = {n: flat.column(j) for j, n in enumerate(flat.schema.names)}
                yield pa.RecordBatch.from_arrays(
                    [
                        assemble_struct(f, "", leaves, set(leaves))[0]
                        if pa.types.is_struct(f.type)
                        else leaves[f.name]
                        for f in plan.decoded
                    ],
                    names=plan.decoded.names,
                )

    return decode


def _assert_utc_for_datetime_literals(blocks: DataFrame, where: Spec) -> None:
    """Warn on naive-datetime predicates outside a UTC driver (VERDICT r2
    #9): ``F.lit(naive_datetime)`` resolves the instant with the driver
    PROCESS time zone. All engine layers stay mutually consistent under
    any zone (manifest keep(), chunk tri, in-reader mask, and residual all
    derive from the same toInternal instant — test_semantics proves it),
    but the INTENT is easy to get wrong: the literal means wall time in
    the driver's zone, not UTC, while the engine's stats are UTC instants.
    Pass tz-aware datetimes (unambiguous under any zone) or pin
    spark.sql.session.timeZone=UTC + TZ=UTC."""
    import datetime as _dt2
    import warnings

    from aisle_spark.filterspec import has_naive_datetime

    if not has_naive_datetime(where):
        return
    try:
        # no default arg: pyspark 4 VALIDATES defaults for this key
        sess_tz = blocks.sparkSession.conf.get("spark.sql.session.timeZone")
    except Exception:
        sess_tz = ""
    proc_utc = _dt2.datetime.now().astimezone().utcoffset() == _dt2.timedelta(0)
    if sess_tz not in ("UTC", "Etc/UTC", "GMT", "+00:00") or not proc_utc:
        warnings.warn(
            "tz-naive datetime predicate under a non-UTC driver (session "
            f"timeZone={sess_tz!r}, process tz "
            f"{'UTC' if proc_utc else 'non-UTC'}): the literal is resolved "
            "in the DRIVER PROCESS zone, not UTC. Use tz-aware datetimes "
            "or set spark.sql.session.timeZone=UTC (and TZ=UTC).",
            UserWarning,
            stacklevel=3,
        )


def scan(
    blocks: DataFrame,
    schema: pa.Schema,
    where: Spec | str | None = None,
    columns: list[str] | None = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """Pruned, projected, exact scan over an encoded blocks table.

    ``where`` accepts a Spec from the ``col()`` builder or a SQL WHERE
    string (compiled by sqlcompile.parse_where — the reference's
    compile_expr entry, /root/reference/src/compile.rs). ``opts`` toggles
    the dictionary/bloom evidence classes (the reference's PruneOptions,
    src/prune/options.rs) — results are identical either way, only the
    amount of block skipping changes.

    ``schema`` is the ORIGINAL (possibly nested) table schema; ``columns``
    names top-level columns or dotted nested paths (``"meta.lang"`` yields
    a PARTIAL struct, ``schema.read_plan``); predicates may use dotted
    leaf paths (``col("meta.lang") == "en"``) — the residual then
    evaluates as Spark's native nested field access on the reassembled
    struct."""
    if isinstance(where, str):
        from aisle_spark.sqlcompile import parse_where

        where = parse_where(where)
    plan = read_plan(schema, columns, where.columns() if where is not None else ())
    tasks = None if where is None else _decode_tasks(blocks, plan.leaves)
    if where is not None:
        _assert_utc_for_datetime_literals(blocks, where)
        from aisle_spark.filterspec import DEFAULT_OPTIONS

        blocks = blocks.filter(where.keep_blocks(opts or DEFAULT_OPTIONS))
    from pyspark.sql import types as T

    from aisle_spark.filterspec import utc_normalize
    from aisle_spark.schema import _spark_type

    # the plan's columns ship the predicate columns' per-chunk stat arrays
    # into the reader, so it skips chunks (page-index analog) before
    # decode; the executor-side mask gets UTC-normalized datetime literals
    # (the same instants F.lit produces), computed driver-side
    payload = blocks.select(
        *[F.col(f"`{c}`").alias(c.replace(".", "__dot__")) for c in plan.columns]
    )
    if tasks is not None:
        payload = payload.coalesce(tasks)
    decoded = payload.mapInArrow(
        _decode_fn(
            specs_for_schema(schema),
            plan,
            utc_normalize(where) if where is not None else None,
        ),
        T.StructType(
            [T.StructField(f.name, _spark_type(f.type), True) for f in plan.decoded]
        ),
    )
    if where is not None:
        decoded = decoded.filter(where.residual())
    # predicate-only columns and struct children drop after the residual
    # (dropFields keeps a NULL struct NULL)
    cut = {
        f.name: _extra_fields(plan.decoded.field(f.name).type, f.type)
        for f in plan.out
    }
    return decoded.select(
        *[F.col(n).dropFields(*x).alias(n) if x else n for n, x in cut.items()]
    )


def _decode_tasks(blocks: DataFrame, leaves: list[str]) -> int | None:
    """Python tasks a pruned decode stage needs, sized as the DataSource
    packs its partitions (``datasource._pack_partitions``) by the bytes
    each file's scan reads. ``filter(keep)`` drops pruned blocks only
    after the parquet scan has read them, so a file counts at its whole
    decode set: its ``<leaf>__enc_bytes`` stats over ``leaves``.

    None, which leaves Spark's width, unless the files ``blocks`` reads
    are local, lie under one table root (its schema sidecar present) and
    each reads under ``_PACK_SMALL_BYTES``: a larger file keeps its own
    task in the packing, but Spark may have split it, and ``coalesce``
    would merge its splits. Remote files are left to Spark, whose
    credentials opened them. Only partitioning depends on this."""
    import json
    import os
    from urllib.parse import unquote, urlparse

    from aisle_spark import datasource as D

    # one py4j round trip: DataFrame.inputFiles() makes one per file
    mapper = blocks.sparkSession._jvm.com.fasterxml.jackson.databind.ObjectMapper()
    uris = json.loads(mapper.writeValueAsString(blocks._jdf.inputFiles()))
    if not uris or not all(u.startswith("file:") for u in uris):
        return None
    files = sorted(unquote(urlparse(u).path) for u in uris)
    roots = {os.path.dirname(f) for f in files}
    if len(roots) != 1 or not os.path.exists(os.path.join(*roots, SCHEMA_SIDECAR)):
        return None
    root = roots.pop()
    committed, stats = D._manifest_of(None, root, _read_sidecar_schema(None, root))
    size = dict(zip(committed, D._decode_set_bytes(stats, leaves)))
    entries = [(f, None, size.get(f)) for f in files]
    if any(b is None or b >= D._PACK_SMALL_BYTES for _f, _rows, b in entries):
        return None
    return len(D._pack_partitions(entries))


def _extra_fields(dec: pa.DataType, out: pa.DataType, prefix: str = "") -> list[str]:
    """Dotted paths of the struct children ``dec`` carries beyond ``out``."""
    if not pa.types.is_struct(dec):
        return []
    extra = []
    for ch in dec:
        i = out.get_field_index(ch.name)
        if i < 0:
            extra.append(prefix + ch.name)
        else:
            extra += _extra_fields(ch.type, out.field(i).type, f"{prefix}{ch.name}.")
    return extra


# Stats-only aggregates. All seven public entry points run one plan
# (_stats_aggregate): a block whose evidence proves every row matches
# (``NOT not_true()`` — aisle's definitely-true side, the De Morgan dual
# of keep(), null-guarded at the leaves and, under a Not, by
# _negation_guard), whose group column holds one
# value, and whose needed stats are recorded answers from those stats
# without touching a payload byte; every other kept block (the boundary)
# decodes and aggregates exactly, and the two partial results merge.


class _Part(NamedTuple):
    """One partial-result column of a stats aggregate: ``sure`` is the
    extra condition for a block to answer from its stats, ``block`` the
    aggregate over those stats, ``row`` the aggregate over decoded rows,
    ``merge`` the function that folds both sides' partials."""

    name: str
    sure: Column
    block: Column
    row: Column
    merge: Callable[[str], Column]


def _rows_part(stat, value, scale) -> _Part:
    return _Part(
        "c", F.lit(True), F.sum(F.col("n_rows").cast("long")),
        F.count(F.lit(1)), F.sum,
    )


def _values_part(stat, value, scale) -> _Part:
    nulls = stat("__nulls")
    return _Part(
        "c", nulls.isNotNull(), F.sum((F.col("n_rows") - nulls).cast("long")),
        F.count(value), F.sum,
    )


def _sum_part(stat, value, scale) -> _Part:
    # accumulate in decimal(38,0): millions of int64 block sums can exceed
    # int64, 38 digits cannot. A NULL __sum is the encode-time overflow
    # guard (that block decodes); an all-null block records __sum = 0,
    # mapped back to NULL so SUM over only NULLs stays NULL like SQL's
    total = stat("__sum")
    all_null = F.coalesce(stat("__nulls"), F.lit(-1)) == F.col("n_rows")
    if scale:  # decimals sum unscaled: no rounding ever happens
        value = value * F.lit(10**scale)
    return _Part(
        "t", total.isNotNull(),
        F.sum(F.when(all_null, F.lit(None)).otherwise(total).cast("decimal(38,0)")),
        F.sum(value.cast("decimal(38,0)")), F.sum,
    )


def _min_part(stat, value, scale) -> _Part:
    return _Part("mn", F.lit(True), F.min(stat("__min")), F.min(value), F.min)


def _max_part(stat, value, scale) -> _Part:
    return _Part("mx", F.lit(True), F.max(stat("__max")), F.max(value), F.max)


def _spec_of(schema: pa.Schema, column: str) -> ColumnSpec:
    spec = next((s for s in specs_for_schema(schema) if s.name == column), None)
    if spec is None:
        raise KeyError(f"unknown column {column}")
    return spec


def _exact_sum_spec(schema: pa.Schema, column: str, op_name: str) -> ColumnSpec:
    """Sums and averages run in an exact domain: integers, and decimals
    unscaled; float sums depend on the order of addition."""
    spec = _spec_of(schema, column)
    t = spec.arrow_type
    if spec.kind != "decimal" and (
        spec.kind != "int" or pa.types.is_date(t) or pa.types.is_boolean(t)
    ):
        raise TypeError(
            f"{op_name} supports integer and decimal columns; {column!r} is "
            f"{spec.kind} (float sums are order-dependent — use scan + agg)"
        )
    return spec


_MINMAX_EXACT_KINDS = ("int", "timestamp", "duration", "decimal", "float")


def _exact_minmax_spec(schema: pa.Schema, column: str, op_name: str) -> ColumnSpec:
    """Long string/binary stats are truncation BOUNDS, not values, so
    they cannot answer an aggregate."""
    spec = _spec_of(schema, column)
    if spec.kind not in _MINMAX_EXACT_KINDS:
        raise TypeError(
            f"{op_name} needs exact stats; kind {spec.kind!r} of "
            f"{column!r} stores bounds (use scan + agg instead)"
        )
    return spec


def _scale(spec: ColumnSpec | None) -> int:
    return spec.arrow_type.scale if spec is not None and spec.kind == "decimal" else 0


def _sum_out(spec: ColumnSpec) -> list[Column]:
    if spec.kind != "decimal":
        return [F.col("t").cast("long").alias("total")]
    # unscaled -> decimal(38, s); the quotient is exact by construction
    # (the unscaled total has >= s trailing digits)
    s = _scale(spec)
    return [(F.col("t") / F.lit(10**s)).cast(f"decimal(38,{s})").alias("total")]


def _avg_out(spec: ColumnSpec) -> list[Column]:
    # exact unscaled total / (count * 10^scale): one decimal division at
    # the end rounds the true quotient once
    divisor = F.col("c").cast("decimal(38,0)") * F.lit(10 ** _scale(spec))
    return [
        F.when(
            F.coalesce(F.col("c"), F.lit(0)) > 0, (F.col("t") / divisor).cast("double")
        ).alias("avg")
    ]


class _StatsOp(NamedTuple):
    check: Callable | None  # value-column kind rule (None: no value column)
    parts: tuple  # partial-result builders (stat, value, scale) -> _Part
    finish: Callable  # value spec -> output columns over the merged partials


_STATS_OPS = {
    "count": _StatsOp(
        None, (_rows_part,),
        lambda spec: [F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("cnt")],
    ),
    "sum": _StatsOp(_exact_sum_spec, (_sum_part,), _sum_out),
    "avg": _StatsOp(_exact_sum_spec, (_sum_part, _values_part), _avg_out),
    "min_max": _StatsOp(
        _exact_minmax_spec, (_min_part, _max_part),
        lambda spec: [F.col("mn"), F.col("mx")],
    ),
}


def _negation_guard(blocks: DataFrame, where: Spec) -> Column:
    """The extra sure condition a ``Not`` in ``where`` needs. Under a Not,
    ``NOT not_true()`` proves only that no row is FALSE: a row whose
    predicate is NULL stays NULL and does not match. So the block is sure
    only when no column of ``where`` holds a NULL, and never when a Not
    covers an ArrayAny or MapKeyCmp (an element or key the stats cannot
    see makes the row NULL)."""
    from aisle_spark.filterspec import And, ArrayAny, MapKeyCmp, Not, Or

    def nodes(spec):
        yield spec
        if isinstance(spec, (And, Or)):
            for p in spec.parts:
                yield from nodes(p)
        elif isinstance(spec, Not):
            yield from nodes(spec.inner)

    negated = [n.inner for n in nodes(where) if isinstance(n, Not)]
    if not negated:
        return F.lit(True)
    if any(isinstance(x, (ArrayAny, MapKeyCmp)) for n in negated for x in nodes(n)):
        return F.lit(False)
    guard = F.lit(True)
    for c in sorted(where.columns()):
        if f"{c}__nulls" not in blocks.columns:
            return F.lit(False)
        guard = guard & (F.coalesce(F.col(f"`{c}__nulls`"), F.lit(-1)) == 0)
    return guard


def _stats_aggregate(
    blocks: DataFrame,
    schema: pa.Schema,
    where: "Spec | str | None",
    opts: "PruneOptions | None",
    group_col: str | None,
    value_col: str | None,
    op: str,
) -> DataFrame:
    """The one plan behind the stats-only aggregates: sure blocks answer
    from their stats, boundary blocks decode, both merge by group."""
    from aisle_spark.filterspec import DEFAULT_OPTIONS

    op_name = f"scan_{op}" + ("_by" if group_col is not None else "")
    check, part_fns, finish = _STATS_OPS[op]
    keys: list[Column] = []
    sure_key: list[Column] = []
    sure = F.lit(True)
    if group_col is not None:
        gspec = _spec_of(schema, group_col)
        if gspec.kind in ("intlist", "floatlist", "map") or "." in group_col:
            raise TypeError(
                f"{op_name} needs a top-level scalar group column, got "
                f"{group_col!r} ({gspec.kind})"
            )
        gmin, gmax, gnulls = (
            F.col(f"`{group_col}__{s}`") for s in ("min", "max", "nulls")
        )
        known_nulls = F.coalesce(gnulls, F.lit(-1))
        # single-valued (min == max with zero nulls — exact even for
        # strings, a truncated bound pair can never be equal) or all-NULL
        sure = (
            gmin.isNotNull() & gmax.isNotNull() & (gmin == gmax)
            & (known_nulls == 0)
        ) | (known_nulls == F.col("n_rows"))
        keys = [F.col(f"`{group_col}`")]
        sure_key = [F.when(gnulls == 0, gmin).alias(group_col)]
    vspec = check(schema, value_col, op_name) if check is not None else None
    if isinstance(where, str):
        from aisle_spark.sqlcompile import parse_where

        where = parse_where(where)
    opts = opts or DEFAULT_OPTIONS
    if where is not None:
        sure = sure & ~where.not_true(opts) & _negation_guard(blocks, where)

    def stat(suffix: str) -> Column:
        # a table written before a stat existed (no __sum) gets a typed
        # NULL: its sure condition folds to false, every kept block decodes
        name = f"{value_col}{suffix}"
        if name in blocks.columns:
            return F.col(f"`{name}`")
        return F.lit(None).cast("decimal(38,0)")

    value = None
    if value_col is not None:
        value = F.col(value_col) if "." in value_col else F.col(f"`{value_col}`")
    parts = [fn(stat, value, _scale(vspec)) for fn in part_fns]
    for p in parts:
        sure = sure & p.sure
    out = blocks.filter(sure).groupBy(*sure_key).agg(
        *[p.block.alias(p.name) for p in parts]
    )
    keep = where.keep(opts) if where is not None else F.lit(True)
    boundary_blocks = blocks.filter(keep & ~sure)
    # an empty boundary skips the decode branch entirely: the mapInArrow
    # stage costs a Python-worker spin-up even for zero rows, and one
    # stats-only job decides
    if not boundary_blocks.isEmpty():
        proj = {c.split(".")[0] for c in where.columns()} if where else set()
        proj |= {c.split(".")[0] for c in (group_col, value_col) if c is not None}
        rows = (
            scan(boundary_blocks, schema, where=where, columns=sorted(proj))
            .groupBy(*keys)
            .agg(*[p.row.alias(p.name) for p in parts])
        )
        out = out.unionAll(rows).groupBy(*keys).agg(
            *[p.merge(p.name).alias(p.name) for p in parts]
        )
    return out.select(*keys, *finish(vspec))


def scan_count(
    blocks: DataFrame,
    schema: pa.Schema,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT count(*) WHERE …`` answered from block STATISTICS:
    definitely-true blocks contribute ``n_rows`` without touching a
    single payload byte; only the boundary blocks decode and count
    exactly. On a range-clustered table the boundary is the two edge
    blocks of the range — the classic stats-only aggregation pushdown
    (beyond the reference, which has no aggregation surface).

    Returns a one-row DataFrame ``(cnt bigint)`` — same laziness
    contract as :func:`scan`."""
    return _stats_aggregate(blocks, schema, where, opts, None, None, "count")


def scan_sum(
    blocks: DataFrame,
    schema: pa.Schema,
    column: str,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT sum(col) WHERE …`` from block statistics: blocks proven
    all-true whose per-block ``__sum`` is recorded (overflow-guarded at
    encode) contribute it without decoding; boundary blocks — and blocks
    whose sum overflowed the guard — decode and sum exactly. EXACT
    domains only: integers and decimals (decimal sums run in the
    unscaled-integer domain, so no rounding ever happens); float sums
    are order-dependent and deliberately unsupported — use scan + agg.

    Returns a one-row DataFrame ``(total)`` — bigint for ints, decimal
    (38, s) for decimal(p, s) columns; NULL when no rows match."""
    return _stats_aggregate(blocks, schema, where, opts, None, column, "sum")


def scan_avg(
    blocks: DataFrame,
    schema: pa.Schema,
    column: str,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT avg(col) WHERE …`` from block statistics: sure blocks
    contribute (recorded ``__sum``, non-null count ``n_rows - __nulls``)
    without decoding; boundary blocks — and blocks missing either stat —
    decode and aggregate exactly. Exact domains only (int/decimal, like
    scan_sum); sum and count accumulate exactly and divide ONCE at the
    end (decimal division, ≥6 fractional digits, then double). Returns a
    one-row DataFrame ``(avg)`` — double, NULL when no non-null values
    match."""
    return _stats_aggregate(blocks, schema, where, opts, None, column, "avg")


def scan_min_max(
    blocks: DataFrame,
    schema: pa.Schema,
    column: str,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT min(col), max(col) WHERE …`` from block statistics:
    definitely-true blocks answer from their exact ``__min``/``__max``
    (null-excluding, Spark NaN-greatest order — the same total order the
    engine stats use); boundary blocks decode and aggregate exactly.
    Restricted to kinds whose stats are always exact
    (int/date/timestamp/duration/decimal/float) — long string/binary
    stats are truncation BOUNDS, not values, so they cannot answer an
    aggregate and raise here.

    Returns a one-row DataFrame ``(mn, mx)`` in the column's type."""
    return _stats_aggregate(blocks, schema, where, opts, None, column, "min_max")


def scan_count_by(
    blocks: DataFrame,
    schema: pa.Schema,
    group_col: str,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT g, count(*) … GROUP BY g`` answered from block
    statistics: a block whose group column is SINGLE-VALUED
    (``min == max`` with zero nulls — exact even for strings, because a
    truncated bound pair can never be equal) or ALL-NULL contributes
    ``(value, n_rows)`` without decoding, provided the WHERE evidence
    proves the whole block matches; every other kept block decodes and
    groups exactly. On a layout sorted by the group column almost every
    block is single-valued — count-by-partition-key for the price of a
    manifest scan.

    Returns a DataFrame ``(group_col, cnt)``; restricted to top-level
    scalar group columns."""
    return _stats_aggregate(blocks, schema, where, opts, group_col, None, "count")


def scan_sum_by(
    blocks: DataFrame,
    schema: pa.Schema,
    group_col: str,
    sum_col: str,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT g, sum(col) … GROUP BY g`` from block statistics — the
    natural join of :func:`scan_count_by` and :func:`scan_sum`: a block
    single-valued or all-NULL in the group column contributes its
    recorded ``__sum`` without decoding when the WHERE evidence proves
    the whole block matches and the sum stat exists. EXACT domains only,
    like scan_sum.

    Returns a DataFrame ``(group_col, total)`` — total is bigint for int
    columns, decimal(38, s) for decimal(p, s)."""
    return _stats_aggregate(blocks, schema, where, opts, group_col, sum_col, "sum")


def scan_min_max_by(
    blocks: DataFrame,
    schema: pa.Schema,
    group_col: str,
    column: str,
    where: "Spec | str | None" = None,
    opts: "PruneOptions | None" = None,
) -> DataFrame:
    """``SELECT g, min(col), max(col) … GROUP BY g`` from block
    statistics: a block single-valued or all-NULL in the group column
    contributes its exact per-block ``__min``/``__max`` without decoding
    when the WHERE evidence proves every row matches; other kept blocks
    decode. Value kinds restricted to exact-stat domains like
    :func:`scan_min_max`.

    Returns a DataFrame ``(group_col, mn, mx)``."""
    return _stats_aggregate(
        blocks, schema, where, opts, group_col, column, "min_max"
    )


def prune_report(blocks: DataFrame, where: Spec | str) -> dict:
    """Pruning diagnosis in ONE Spark job: how many blocks (and rows)
    survive the full evidence predicate, and how many each TOP-LEVEL
    conjunct keeps alone — the tuning loop for sort layout and evidence
    choice (the observability face of the reference's prune loop; its
    Display impls serve the same audience, /root/reference/src lib
    Display). A conjunct keeping ~100% of blocks is evidence the layout
    does not cluster that column; re-encode with it in ``sort_cols`` or
    compact with ``order_by``."""
    if isinstance(where, str):
        from aisle_spark.sqlcompile import parse_where

        where = parse_where(where)
    from aisle_spark.filterspec import And as _And

    conjuncts = list(where.parts) if isinstance(where, _And) else [where]
    aggs = [
        F.count(F.lit(1)).alias("blocks_total"),
        F.sum(F.col("n_rows").cast("long")).alias("rows_total"),
        F.sum(F.when(where.keep_blocks(), 1).otherwise(0)).alias("kept_full"),
        F.sum(
            F.when(where.keep_blocks(), F.col("n_rows").cast("long")).otherwise(0)
        ).alias("rows_kept_full"),
    ]
    for i, c in enumerate(conjuncts):
        aggs.append(
            F.sum(F.when(c.keep(), 1).otherwise(0)).alias(f"kept_{i}")
        )
    row = blocks.agg(*aggs).collect()[0]
    total = row["blocks_total"]
    return {
        "blocks_total": total,
        "rows_total": row["rows_total"],
        "kept_full": row["kept_full"],
        "rows_kept_full": row["rows_kept_full"],
        "skip_ratio": round(1 - row["kept_full"] / total, 4) if total else 0.0,
        "per_conjunct": [
            {
                "sql": c.to_sql(),
                "kept": row[f"kept_{i}"],
                "kept_pct": round(100.0 * row[f"kept_{i}"] / total, 1)
                if total
                else 0.0,
            }
            for i, c in enumerate(conjuncts)
        ],
    }


# ---------------------------------------------------------------------------
# storage: the encoded table on disk (parquet blocks + sidecar schema)
# ---------------------------------------------------------------------------


def write_encoded(blocks: DataFrame, path: str, schema: pa.Schema, mode: str = "error") -> None:
    blocks.write.mode(mode).parquet(path)
    # commit a manifest with per-file stats so the data source gets the
    # file pruning tier over this layout too
    files = [p.rsplit("/", 1)[-1] for p, _sz in _fs_list(None, path, ".parquet")]
    commit(None, path, schema, files, drop=ALL)


def _write_schema_sidecar(path: str, schema: pa.Schema, fs=None) -> None:
    _fs_mkdirs(fs, path)
    _fs_write(fs, f"{path.rstrip('/')}/{SCHEMA_SIDECAR}", schema.serialize().to_pybytes())


def _read_sidecar_schema(fs, path: str) -> pa.Schema:
    return pa.ipc.read_schema(pa.py_buffer(_fs_read(fs, f"{path.rstrip('/')}/{SCHEMA_SIDECAR}")))


def read_encoded(spark: SparkSession, path: str) -> tuple[DataFrame, pa.Schema]:
    import os

    schema = _read_sidecar_schema(None, path)
    m = load_manifest(None, path)
    if m is not None:
        # direct-write layout: read EXACTLY the committed file list —
        # orphans from failed/speculative attempts are never visible
        # (load_manifest resolves the large-table pointer form)
        files = [os.path.join(path, f) for f in m["files"]]
        # the footer's schema is what Spark infers only under the default
        # parquet inference settings
        inferred = all(
            spark.conf.get(f"spark.sql.parquet.{k}", "false").lower() == "false"
            for k in ("binaryAsString", "mergeSchema")
        )
        known = _footer_spark_schema(files[0]) if files and inferred else None
        reader = spark.read if known is None else spark.read.schema(known)
        return reader.parquet(*files), schema
    return spark.read.parquet(path), schema


def _footer_spark_schema(path: str):
    """The Spark schema ``spark.read.parquet`` infers for one parquet file
    without merging, read from its footer here so Spark does not run an
    inference pass: the schema a Spark writer stored in the footer, else
    the file's Arrow schema when every type in it is one Spark infers the
    same way from what pyarrow writes. None otherwise (Spark then infers:
    e.g. a duration, which Spark reads as the int64 pyarrow stores)."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    arrow = pq.read_schema(path)
    stored = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    from pyarrow import types as pt

    plain = (pt.is_boolean, pt.is_signed_integer, pt.is_float32, pt.is_float64,
             pt.is_decimal, pt.is_string, pt.is_binary, pt.is_date32)

    def same(t: pa.DataType) -> bool:
        if pt.is_timestamp(t):  # UTC-adjusted: TimestampType
            return t.tz is not None and t.unit in ("ms", "us")
        if pt.is_list(t) or pt.is_map(t) or pt.is_struct(t):
            return all(same(t.field(i).type) for i in range(t.num_fields))
        return any(p(t) for p in plain)

    return from_arrow_schema(arrow) if all(same(f.type) for f in arrow) else None
