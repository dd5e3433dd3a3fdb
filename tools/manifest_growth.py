"""Measure commit bytes and commit time against table size and against
the number of prior snapshots — the growth discipline behind
delta-encoded snapshots (pipeline._snapshot_payload) and the version-only
``_aisle_files.json`` commit point (pipeline.current_version).

Simulates a table of N committed files receiving 256 single-file appends.
Each commit hands ``publish_manifest`` the stats row of the file it adds
(hand-built ``ts``/``n_tok`` rows). Reported per N:

* bytes one append persists (delta snapshot + its stats file) against
  the full snapshot and stats file of the first commit;
* ``commit_ms_by_prior_snapshots``: the median delta commit time over
  each window of 16 prior snapshots, and ``checkpoint_ms`` for the
  periodic full checkpoints, which rewrite every file's stats. A flat
  series means numbering a version does not grow with history;
* the time to materialize the last version (``read_snapshot`` with
  stats) and to load the current manifest.

Run: python tools/manifest_growth.py [n_files ...]
Prints one JSON line per N.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 16  # prior snapshots per reported median
APPENDS = 256  # single-file appends after the first commit


def measure(n_files: int) -> dict:
    import pyarrow as pa

    from aisle_spark.pipeline import (
        _SNAP_DIR,
        _SNAP_FULL_EVERY,
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

    def persisted(v: int) -> int:
        return sum(os.path.getsize(f"{root}/{_SNAP_DIR}/v{v:08d}{s}") for s in (".json", ".stats.parquet"))

    root = tempfile.mkdtemp(prefix="aisle_growth_")
    try:
        files = [f"part-{i:05d}-0123456789abcdef0123456789abcdef.parquet"
                 for i in range(n_files)]
        publish_manifest(None, root, {"files": files}, rows(files, 0))
        full_bytes = persisted(1)
        delta_bytes, delta_ms, checkpoint_ms = [], {}, []
        for k in range(APPENDS):
            f = f"part-new{k:05d}-0123456789abcdef0123456789abcdef.parquet"
            files = sorted(files + [f])
            t0 = time.perf_counter()
            v = publish_manifest(None, root, {"files": files}, rows([f], n_files + k))
            ms = (time.perf_counter() - t0) * 1000
            if v % _SNAP_FULL_EVERY == 1:
                checkpoint_ms.append(round(ms, 2))
            else:
                delta_bytes.append(persisted(v))
                delta_ms.setdefault((v - 2) // WINDOW, []).append(ms)
        t0 = time.perf_counter()
        snap = read_snapshot(None, root, v, stats=True)
        replay_ms = (time.perf_counter() - t0) * 1000
        assert len(snap["files"]) == snap["stats"].num_rows == n_files + APPENDS
        t0 = time.perf_counter()
        cur = load_manifest(None, root)
        load_ms = (time.perf_counter() - t0) * 1000
        assert cur["files"] == snap["files"]
        return {
            "n_files": n_files,
            "full_commit_bytes": full_bytes,
            "delta_commit_bytes_median": statistics.median(delta_bytes),
            "delta_vs_full": round(statistics.median(delta_bytes) / full_bytes, 6),
            "commit_ms_by_prior_snapshots": {
                f"{w * WINDOW + 1}-{(w + 1) * WINDOW}": round(statistics.median(ms), 2)
                for w, ms in sorted(delta_ms.items())
            },
            "checkpoint_ms": checkpoint_ms,
            "replay_chain_ms": round(replay_ms, 2),
            "load_manifest_ms": round(load_ms, 2),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    ns = [int(a) for a in sys.argv[1:]] or [1_000, 10_000, 100_000]
    for n in ns:
        print(json.dumps(measure(n)))
