"""Table maintenance: compaction and vacuum over an encoded directory.

The small-file problem is the dominant operational cost of manifest-
committed tables on object stores: streaming sinks and fine-grained batch
writers accumulate many small block files, and every scan then pays
per-file listing/open/footer costs. ``compact_encoded`` rewrites the
committed files into few large ones — WITHOUT decoding a single payload
byte: blocks are self-contained manifest rows (stats + evidence + encoded
payloads travel together), so compaction is a plain Spark shuffle of
block rows. This is the OPTIMIZE analog of lakehouse table formats,
expressed over the engine's own commit protocol.

Layout/locality: with ``order_by`` set, block rows are range-partitioned
on that column's per-block minimum, so each output file covers a narrow
value range — planning-time file pruning (datasource.partitions) and the
manifest parquet's own row-group stats both get tighter for free. This is
the block-level analog of clustering/Z-ordering, for the cost of
shuffling compressed blocks only.

Atomicity: new files are written under a unique ``compact-<token>/``
subdirectory inside the table root, then the manifest is rewritten in one
commit (tmp+rename locally, single PUT through pyarrow.fs for URI paths)
to reference exactly the new files. Readers either see the old file set
or the new one — never a mix. Old files become unreferenced garbage;
``vacuum_encoded`` deletes anything the manifest doesn't reference (run
it only after in-flight readers of the previous manifest snapshot have
finished — the same grace-period discipline as lakehouse VACUUM).

Paths: plain local paths and ``file://`` URIs are fully supported (tested)
— manifest I/O routes through pyarrow.fs for URIs while Spark reads/writes
the data files through its own Hadoop layer, which resolves the same URI.
Other schemes (s3a:// etc.) work wherever both layers carry the scheme.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from aisle_spark.datasource import _fs_of
from aisle_spark.pipeline import (
    _SNAP_DIR,
    MANIFEST,
    _fs_delete,
    _fs_list,
    _read_sidecar_schema,
    _write_stats,
    commit,
    list_snapshots,
    load_manifest,
    manifest_lock,
    read_snapshot,
    write_subdir,
)


# the subdirectories compaction and ``write_encoded`` write block files to
# (``pipeline.write_subdir``)
_DATA_SUBDIRS = ("compact-", "write-")


def _current_manifest(fs, root: str) -> dict:
    """Maintenance rewrites or deletes committed files, so a table
    without a manifest is an error here, not an empty table."""
    m = load_manifest(fs, root)
    if m is None:
        raise FileNotFoundError(f"no {MANIFEST} under {root}")
    return m


def compact_encoded(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    target_mb: int = 256,
    order_by: str | list[str] | None = None,
    min_file_mb: float | None = None,
) -> dict:
    """Rewrite the committed block files into ``target_files`` larger ones
    (default: total committed bytes / ``target_mb``). The swap is one
    ``pipeline.commit``: it drops the rewritten files, adds the new ones
    with their stats rows folded anew (which also gives the files of a
    legacy manifest stats again), retires the rewritten files from the
    streaming ``batches`` map and tags the snapshot ``compacted_from``.
    Returns a summary dict. Payloads are never decoded; only block rows
    move.

    ``min_file_mb``: INCREMENTAL mode — only files smaller than this are
    rewritten; files already at target size survive untouched (with
    their stats rows). At 10^5-file scale a nightly OPTIMIZE must
    not re-shuffle the 99% of bytes that previous runs already
    compacted — the size-thresholded form of lakehouse OPTIMIZE. The
    run is a no-op (``skipped``) when fewer than two files are under
    the threshold."""
    fs, root = _fs_of(path)
    root = root.rstrip("/")
    spark_root = path.rstrip("/")  # Spark sees the original path/URI
    files = _current_manifest(fs, root)["files"]
    if not files:
        return {"files_before": 0, "files_after": 0, "skipped": True}
    if fs is None:
        sizes = {f: os.path.getsize(f"{root}/{f}") for f in files}
    else:
        infos = fs.get_file_info([f"{root}/{f}" for f in files])
        sizes = {f: i.size for f, i in zip(files, infos)}
    if min_file_mb is not None:
        cutoff = int(min_file_mb * 1024 * 1024)
        files = [f for f in files if sizes[f] < cutoff]
        if len(files) < 2:
            return {
                "files_before": len(files),
                "files_after": len(files),
                "skipped": True,
                "reason": f"fewer than 2 files under {min_file_mb} MB",
            }
    total = sum(sizes[f] for f in files)
    n_out = target_files or max(1, round(total / (target_mb * 1024 * 1024)))

    blocks = spark.read.parquet(*[f"{spark_root}/{f}" for f in files])
    if order_by:
        # range-partition on the blocks' min stats (lexicographic across
        # the given columns): each output file covers a narrow value
        # range => tighter planning-time file pruning. Multi-column is
        # the hierarchical-clustering analog of sortCols at encode time.
        cols = (
            [c.strip() for c in order_by.split(",") if c.strip()]
            if isinstance(order_by, str)
            else list(order_by)
        )
        blocks = blocks.repartitionByRange(
            n_out, *[F.col(f"`{c}__min`") for c in cols]
        )
    else:
        blocks = blocks.repartition(n_out)
    new_files = write_subdir(blocks.write, fs, root, "compact", spark_root)
    if not new_files:
        raise RuntimeError("compaction produced no files")
    # the commit re-reads the manifest under its lock: files appended
    # since compaction started (not among ``files``) survive the swap
    commit(fs, root, _read_sidecar_schema(fs, root), new_files, drop=files, compacted_from=len(files))
    return {
        "files_before": len(files),
        "files_after": len(new_files),
        "bytes": total,
        "subdir": new_files[0].split("/")[0],
        "ordered_by": order_by,
    }


def vacuum_encoded(
    path: str, dry_run: bool = False, min_age_seconds: float = 600.0
) -> list[str]:
    """Delete data files no committed snapshot references (pre-compaction
    leftovers, the files of failed attempts and of orphan snapshots above
    the current version). Never touches the manifest, sidecars, or
    Spark metadata. Run only after readers of older snapshots finished.

    ``min_age_seconds`` protects IN-FLIGHT writers: a concurrent append
    writes its data file BEFORE the manifest commit, so an unreferenced
    file younger than the grace window is skipped (same discipline as
    lakehouse VACUUM retention). Set 0 only when no writer can be live."""
    fs, root = _fs_of(path)
    root = root.rstrip("/")
    keep = set(_current_manifest(fs, root)["files"])
    # time travel: every RETAINED snapshot's files stay readable — expire
    # snapshots first if you want their files collected
    for v in list_snapshots(fs, root):
        keep.update(read_snapshot(fs, root, v)["files"])
    victims: list[str] = []
    entries = list(_fs_list(fs, root, ".parquet"))
    from pyarrow import fs as pafs

    top = pafs.FileSelector(root, allow_not_found=True)
    for info in (fs or pafs.LocalFileSystem()).get_file_info(top):
        if info.type == pafs.FileType.Directory and info.base_name.startswith(_DATA_SUBDIRS):
            entries += _fs_list(fs, info.path, ".parquet")
    import time

    now = time.time()
    cand: list[tuple[str, str]] = []
    for p, _size in entries:
        rel = p[len(root) + 1 :] if p.startswith(root + "/") else p
        if rel not in keep:
            cand.append((p, rel))
    if min_age_seconds > 0 and cand:
        if fs is None:
            ages = []
            for p, _rel in cand:
                try:
                    ages.append(now - os.path.getmtime(p))
                except OSError:
                    ages.append(float("-inf"))  # vanished: skip below
        else:
            # ONE batched stat call instead of a round-trip per candidate
            infos = fs.get_file_info([p for p, _rel in cand])
            ages = []
            for info in infos:
                mtime = getattr(info, "mtime", None)
                ages.append(
                    now - mtime.timestamp() if mtime is not None else float("inf")
                )
        victims.extend(
            rel for (_p, rel), age in zip(cand, ages) if age >= min_age_seconds
        )
    else:
        victims.extend(rel for _p, rel in cand)
    if not dry_run:
        from aisle_spark.datasource import _parallel_fetch

        # bounded-concurrency deletes: 1e5 orphans x ~50ms store
        # round-trips must overlap, same as planning fetches
        _parallel_fetch(lambda rel: _fs_delete(fs, f"{root}/{rel}"), victims)
    return sorted(victims)


def snapshots(path: str) -> list[dict]:
    """Committed manifest versions, oldest first: [{version, n_files}]."""
    fs, root = _fs_of(path)
    root = root.rstrip("/")
    return [
        {"version": v, "n_files": len(read_snapshot(fs, root, v)["files"])}
        for v in list_snapshots(fs, root)
    ]


def expire_snapshots(path: str, keep_last: int = 10) -> list[int]:
    """Delete the committed snapshot files (and the stats files they
    name) older than the newest ``keep_last`` (the retention knob of the
    time-travel surface). Data files they referenced become collectible
    by the NEXT ``vacuum_encoded``. The current version's snapshot (and
    chain) always survives regardless of ``keep_last``: every read of the
    table and of its files' stats resolves through it. Orphan snapshots
    above the current version are left for the next commit to overwrite."""
    # looked up per call, so a fault injected at the write reaches here
    from aisle_spark.pipeline import _fs_write_json

    fs, root = _fs_of(path)
    root = root.rstrip("/")
    with manifest_lock(fs, root):
        # committed versions only, so the last one is the current version
        versions = list_snapshots(fs, root)
        victims = versions[: -max(keep_last, 1)]
        if victims:
            # the oldest RETAINED snapshot may be a delta whose chain
            # passes through the victims; materialize it as a full
            # snapshot first (equivalent content, atomic replaces) so
            # every retained chain stops at or after the boundary. Its
            # stats file goes first: a delta replays full rows to the
            # same result, so the table reads right between the writes
            boundary = versions[len(victims)]
            snap = read_snapshot(fs, root, boundary, stats=True)
            rows = snap.pop("stats")
            if rows is not None:
                snap["stats"] = _write_stats(fs, root, boundary, rows)
            _fs_write_json(fs, f"{root}/{_SNAP_DIR}/v{boundary:08d}.json", snap)
        for v in victims:
            for suffix in (".json", ".stats.parquet"):
                _fs_delete(fs, f"{root}/{_SNAP_DIR}/v{v:08d}{suffix}")
    return victims
