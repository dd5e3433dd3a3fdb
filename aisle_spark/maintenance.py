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
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from aisle_spark.datasource import _fs_of
from aisle_spark.pipeline import _fs_list, _fs_read_json, _fs_write_json

_MANIFEST = "_aisle_files.json"


def compact_encoded(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    target_mb: int = 256,
    order_by: str | list[str] | None = None,
    min_file_mb: float | None = None,
) -> dict:
    """Rewrite the committed block files into ``target_files`` larger ones
    (default: total committed bytes / ``target_mb``). Returns a summary
    dict. Payloads are never decoded; only block rows move.

    ``min_file_mb``: INCREMENTAL mode — only files smaller than this are
    rewritten; files already at target size survive untouched (with
    their manifest stats). At 10^5-file scale a nightly OPTIMIZE must
    not re-shuffle the 99% of bytes that previous runs already
    compacted — the size-thresholded form of lakehouse OPTIMIZE. The
    run is a no-op (``skipped``) when fewer than two files are under
    the threshold."""
    fs, root = _fs_of(path)
    root = root.rstrip("/")
    spark_root = path.rstrip("/")  # Spark sees the original path/URI
    from aisle_spark.pipeline import load_manifest

    files = load_manifest(fs, root)["files"]
    if not files:
        return {"files_before": 0, "files_after": 0, "skipped": True}
    if fs is None:
        import os

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

    subdir = f"compact-{uuid.uuid4().hex[:12]}"
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
    blocks.write.mode("errorifexists").parquet(f"{spark_root}/{subdir}")

    new_files = sorted(
        f"{subdir}/{p.rsplit('/', 1)[-1]}"
        for p, _size in _fs_list(fs, f"{root}/{subdir}", ".parquet")
    )
    if not new_files:
        raise RuntimeError("compaction produced no files")
    manifest = f"{root}/{_MANIFEST}"
    new_stats = _recompute_file_stats(fs, root, new_files)
    from aisle_spark.pipeline import manifest_lock

    with manifest_lock(fs, root):
        # re-read under the lock: files appended since compaction started
        # (not among our inputs) must survive the manifest swap
        from aisle_spark.pipeline import load_manifest

        old = load_manifest(fs, root)
        survivors = sorted(set(old["files"]) - set(files))
        old_stats = old.get("file_stats", {})
        payload: dict = {
            "files": sorted(set(new_files) | set(survivors)),
            "compacted_from": len(files),
            "file_stats": {
                **{k: v for k, v in old_stats.items() if k in set(survivors)},
                **new_stats,
            },
        }
        if "batches" in old:
            # streaming-sink tables: retire the per-batch map for
            # compacted files (their history is now the compacted set)
            # but KEEP the replace-mapping for files an incremental run
            # left untouched — a replayed batch must still replace, not
            # duplicate, its surviving files
            surv = set(survivors)
            payload["batches"] = {
                bid: kept
                for bid, flist in old.get("batches", {}).items()
                if (kept := [f for f in flist if f in surv])
            }
        from aisle_spark.pipeline import publish_manifest

        publish_manifest(fs, root, payload)
    return {
        "files_before": len(files),
        "files_after": len(new_files),
        "bytes": total,
        "subdir": subdir,
        "ordered_by": order_by,
    }


def _recompute_file_stats(fs, root: str, rel_files: list[str]) -> dict:
    """Per-file stats for the manifest-list pruning tier
    (datasource.file_keep), folded from each committed file's block stat
    columns with the block writer's own code (``_merge_file_stat`` +
    ``_json_file_stats``): NULL-poisoned bounds, null/row totals, map
    key-set unions and ``__bytes``, exactly as ``BlockFileWriter`` records
    them (absent => Unknown => file kept, always sound)."""
    import pyarrow.parquet as pq

    from aisle_spark.datasource import (
        _json_file_stats,
        _merge_file_stat,
        read_stat_columns,
    )

    first = f"{root}/{rel_files[0]}"
    if fs is None:
        names = pq.read_schema(first).names
    else:
        with fs.open_input_file(first) as src:
            names = pq.read_schema(src).names
    cols = [
        n[: -len("__min")]
        for n in names
        if n.endswith("__min") and f"{n[: -len('__min')]}__max" in names
    ]
    # map columns: per-file key-set union (exact-or-nothing, like the
    # block dictionary hint) for MapKeyCmp file pruning
    map_cols = [
        n[: -len("__keys")]
        for n in names
        if n.endswith("__keys") and f"{n[: -len('__keys')]}__kmin" in names
    ]
    want = [f"{c}__{s}" for c in cols for s in ("min", "max", "nulls")]
    want += [f"{m}__keys" for m in map_cols] + ["n_rows"]
    paths = [f"{root}/{f}" for f in rel_files]
    out: dict = {}
    for rel, path, t in zip(rel_files, paths, read_stat_columns(fs, paths, want)):
        acc: dict = {}
        for row in t.to_pylist():
            _merge_file_stat(acc, row, cols, map_cols)
        out[rel] = _json_file_stats(acc, fs, path)
    return out


def vacuum_encoded(
    path: str, dry_run: bool = False, min_age_seconds: float = 600.0
) -> list[str]:
    """Delete data files the manifest no longer references (pre-compaction
    leftovers, failed attempts). Never touches the manifest, sidecars, or
    Spark metadata. Run only after readers of older snapshots finished.

    ``min_age_seconds`` protects IN-FLIGHT writers: a concurrent append
    writes its data file BEFORE the manifest commit, so an unreferenced
    file younger than the grace window is skipped (same discipline as
    lakehouse VACUUM retention). Set 0 only when no writer can be live."""
    from aisle_spark.pipeline import list_snapshots, read_snapshot

    fs, root = _fs_of(path)
    root = root.rstrip("/")
    from aisle_spark.pipeline import load_manifest

    keep = set(load_manifest(fs, root)["files"])
    # time travel: every RETAINED snapshot's files stay readable — expire
    # snapshots first if you want their files collected
    for v in list_snapshots(fs, root):
        keep.update(read_snapshot(fs, root, v)["files"])
    victims: list[str] = []
    entries = list(_fs_list(fs, root, ".parquet"))
    if fs is None:
        import glob as _glob
        import os

        for sub in _glob.glob(f"{root}/compact-*"):
            if os.path.isdir(sub):
                entries += _fs_list(fs, sub, ".parquet")
    else:
        from pyarrow import fs as pafs

        for info in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True)):
            if info.type == pafs.FileType.Directory and info.base_name.startswith(
                "compact-"
            ):
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

        def _delete(rel: str) -> None:
            target = f"{root}/{rel}"
            try:
                if fs is None:
                    os.remove(target)
                else:
                    fs.delete_file(target)
            except OSError:
                pass

        # bounded-concurrency deletes: 1e5 orphans x ~50ms store
        # round-trips must overlap, same as planning fetches
        _parallel_fetch(_delete, victims)
    return sorted(victims)


def snapshots(path: str) -> list[dict]:
    """Committed manifest versions, oldest first: [{version, n_files}]."""
    from aisle_spark.pipeline import list_snapshots, read_snapshot

    fs, root = _fs_of(path)
    root = root.rstrip("/")
    return [
        {"version": v, "n_files": len(read_snapshot(fs, root, v)["files"])}
        for v in list_snapshots(fs, root)
    ]


def expire_snapshots(path: str, keep_last: int = 10) -> list[int]:
    """Delete snapshot files older than the newest ``keep_last`` (the
    retention knob of the time-travel surface). Data files they referenced
    become collectible by the NEXT ``vacuum_encoded``. Never touches the
    current manifest — including the POINTER form, whose pointed-at
    snapshot (and chain) always survives regardless of ``keep_last``."""
    import os

    from aisle_spark.pipeline import (
        _SNAP_DIR,
        _fs_read_json,
        _fs_write_json,
        list_snapshots,
        manifest_lock,
        read_snapshot,
    )

    fs, root = _fs_of(path)
    root = root.rstrip("/")
    with manifest_lock(fs, root):
        versions = list_snapshots(fs, root)
        victims = versions[:-keep_last] if keep_last > 0 else list(versions)
        try:
            cur = _fs_read_json(fs, f"{root}/{_MANIFEST}")
        except FileNotFoundError:
            cur = {}  # no manifest yet => nothing pointed at
        # any OTHER read failure propagates: proceeding without the
        # pointer check could delete the snapshot the current manifest
        # resolves through (code-review r5)
        if "files" not in cur and cur.get("version") is not None:
            # pointer-form current manifest: deleting the pointed-at
            # snapshot would brick the table (every load_manifest read
            # resolves through it)
            victims = [v for v in victims if v < int(cur["version"])]
        retained = sorted(set(versions) - set(victims))
        if victims and retained:
            # the oldest RETAINED snapshot may be a delta whose chain
            # passes through the victims; materialize it as a full
            # snapshot first (equivalent content, atomic replace) so
            # every retained chain stops at or after the boundary
            boundary = retained[0]
            snap = read_snapshot(fs, root, boundary)
            _fs_write_json(fs, f"{root}/{_SNAP_DIR}/v{boundary:08d}.json", snap)
        for v in victims:
            target = f"{root}/{_SNAP_DIR}/v{v:08d}.json"
            try:
                if fs is None:
                    os.remove(target)
                else:
                    fs.delete_file(target)
            except OSError:
                pass
    return victims
