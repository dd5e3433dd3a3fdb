"""Measure manifest/snapshot commit bytes vs table size — the growth
discipline behind delta-encoded snapshots (pipeline._snapshot_payload).

Simulates a table of N committed files receiving single-file appends and
reports bytes persisted per commit for (a) the always-full snapshot
scheme (pre-r4) and (b) the delta scheme actually in use, plus the
replay cost of materializing a version at the end of a delta chain.
Each commit hands ``publish_manifest`` the stats row of the file it
adds (hand-built ``ts``/``n_tok`` rows); ``commit_ms`` is each append's
commit time against the number of snapshots already written — flat but
for the periodic full checkpoint, which rewrites every file's stats.

Run: python tools/manifest_growth.py [n_files ...]
Prints one JSON line per N.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def measure(n_files: int, appends: int = 16) -> dict:
    import pyarrow as pa

    from aisle_spark.pipeline import (
        _SNAP_DIR,
        load_manifest,
        publish_manifest,
        read_snapshot,
    )

    def rows(names: list[str], first: int) -> pa.Table:
        ts = pa.array([1704067200000000 + first + i for i in range(len(names))])
        return pa.table({
            "file": names,
            "n_rows": [4096] * len(names),
            "ts__min": ts.cast(pa.timestamp("us", tz="UTC")),
            "ts__max": pa.compute.add(ts, 60_000_000).cast(pa.timestamp("us", tz="UTC")),
            "n_tok__min": [1] * len(names),
            "n_tok__max": [4096] * len(names),
        })

    root = tempfile.mkdtemp(prefix="aisle_growth_")
    try:
        files = [f"part-{i:05d}-0123456789abcdef0123456789abcdef.parquet"
                 for i in range(n_files)]
        publish_manifest(None, root, {"files": files}, rows(files, 0))
        full_bytes = os.path.getsize(f"{root}/{_SNAP_DIR}/v{1:08d}.json")
        stats_bytes = os.path.getsize(f"{root}/{_SNAP_DIR}/v{1:08d}.stats.parquet")
        delta_sizes = []
        commit_ms = []
        current_sizes = []  # _aisle_files.json bytes per commit (r5:
        # pointer form past _MANIFEST_POINTER_MIN_FILES => O(1) swap)
        for k in range(appends):
            f = f"part-new{k:05d}-0123456789abcdef0123456789abcdef.parquet"
            files = sorted(files + [f])
            t0 = time.time()
            v = publish_manifest(None, root, {"files": files}, rows([f], n_files + k))
            commit_ms.append(round((time.time() - t0) * 1000, 2))
            delta_sizes.append(
                os.path.getsize(f"{root}/{_SNAP_DIR}/v{v:08d}.json")
                + os.path.getsize(f"{root}/{_SNAP_DIR}/v{v:08d}.stats.parquet")
            )
            current_sizes.append(os.path.getsize(f"{root}/_aisle_files.json"))
        t0 = time.time()
        snap = read_snapshot(None, root, v, stats=True)
        replay_ms = round((time.time() - t0) * 1000, 2)
        assert len(snap["files"]) == snap["stats"].num_rows == n_files + appends
        t0 = time.time()
        cur = load_manifest(None, root)
        resolve_ms = round((time.time() - t0) * 1000, 2)
        assert cur["files"] == snap["files"]
        commit_per = [d + c for d, c in zip(delta_sizes, current_sizes)]
        return {
            "n_files": n_files,
            "full_snapshot_bytes": full_bytes,
            "full_stats_bytes": stats_bytes,
            "delta_snapshot_bytes_median": sorted(delta_sizes)[len(delta_sizes) // 2],
            "current_manifest_bytes_median": sorted(current_sizes)[
                len(current_sizes) // 2
            ],
            "total_commit_bytes_median": sorted(commit_per)[len(commit_per) // 2],
            "delta_vs_full": round(
                sorted(commit_per)[len(commit_per) // 2] / full_bytes, 6
            ),
            "replay_chain_ms": replay_ms,
            "commit_ms": commit_ms,
            "pointer_resolve_ms": resolve_ms,
            "note": "total_commit_bytes = delta snapshot + its stats file + "
                    "current-state swap; O(changed) at every table size past the pointer "
                    "threshold (periodic full checkpoints amortize, "
                    "Delta-Lake style)",
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    ns = [int(a) for a in sys.argv[1:]] or [1_000, 10_000, 100_000]
    for n in ns:
        print(json.dumps(measure(n)))
