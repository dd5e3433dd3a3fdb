"""File-tier probe at 10^5 files: the cost of loading a table's file stats
and pruning whole files on them.

Commits one table of N synthetic files with int, string, timestamp,
decimal and map stats (hand-built stats rows; no block file is written),
then times loading the file list and its stats rows
(``datasource._manifest_of``) and the file tier (``datasource._files_kept``)
for three predicates. File i holds n in [10i, 10i+9], ts in minute i of
2024, and the map keys ``k{i % 10}`` and ``shared``, so at N = 10^5 the
predicates keep 50,000 / 7 / 10,000 files.

Run: python tools/file_tier_probe.py [n_files]
Prints one JSON line: manifest bytes, load seconds, tier seconds per
predicate (best of 3) and kept counts.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def schema():
    import pyarrow as pa

    return pa.schema([
        ("n", pa.int64()),
        ("s", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("price", pa.decimal128(12, 2)),
        ("props", pa.map_(pa.string(), pa.int64())),
    ])


def predicates() -> dict:
    from aisle_spark.filterspec import col

    return {
        "n_ge": col("n") >= 500_000,
        "ts_range": col("ts").between(T0 + dt.timedelta(minutes=100), T0 + dt.timedelta(minutes=106)),
        "map_key": col("props").map_key("k3") == 1,
    }


def stats_rows(n: int):
    import numpy as np
    import pyarrow as pa

    from aisle_spark.schema import file_stats_schema, specs_for_schema

    i = np.arange(n, dtype=np.int64)
    ts = pa.array(T0.timestamp() * 1_000_000 + i * 60_000_000, pa.int64())
    cols = {
        "file": [f"part-{k:06d}-0123456789abcdef.parquet" for k in range(n)],
        "n_rows": np.full(n, 4096),
        "__bytes": np.full(n, 1 << 20),
        "n__min": i * 10,
        "n__max": i * 10 + 9,
        "s__min": [f"s{k:06d}a" for k in range(n)],
        "s__max": [f"s{k:06d}z" for k in range(n)],
        "ts__min": ts.cast(pa.timestamp("us", tz="UTC")),
        "ts__max": pa.compute.add(ts, 59_000_000).cast(pa.timestamp("us", tz="UTC")),
        "price__min": [Decimal(k) for k in range(n)],
        "price__max": [Decimal(k) + Decimal("0.99") for k in range(n)],
        "props__keys": [[f"k{k % 10}", "shared"] for k in range(n)],
    }
    for c in ("n", "s", "ts", "price"):
        cols[f"{c}__nulls"] = np.zeros(n, np.int64)
    for c in ("n", "s", "ts", "price", "props"):
        cols[f"{c}__enc_bytes"] = np.full(n, 1 << 18)
    target = file_stats_schema(specs_for_schema(schema()))
    return pa.table({f.name: pa.array(cols[f.name], f.type) for f in target}, schema=target)


def measure(n: int) -> dict:
    from aisle_spark.datasource import _files_kept, _manifest_of
    from aisle_spark.filterspec import utc_normalize
    from aisle_spark.pipeline import SCHEMA_SIDECAR, _write_schema_sidecar, publish_manifest

    root = tempfile.mkdtemp(prefix="aisle_tier_probe_")
    try:
        rows = stats_rows(n)
        _write_schema_sidecar(root, schema())
        publish_manifest(None, root, {"files": rows.column("file").to_pylist()}, rows)
        manifest_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, names in os.walk(root)
            for f in names
            if f != SCHEMA_SIDECAR
        )
        loads = []
        for _ in range(3):
            t0 = time.perf_counter()
            files, stats = _manifest_of(None, root, schema())
            loads.append(time.perf_counter() - t0)
        tier, kept = {}, {}
        for name, where in predicates().items():
            where = utc_normalize(where)
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                kept[name] = len(_files_kept(files, stats, where, schema()))
                times.append(time.perf_counter() - t0)
            tier[name] = round(min(times), 4)
        return {
            "n_files": n,
            "manifest_bytes": manifest_bytes,
            "load_s": round(min(loads), 4),
            "tier_s": tier,
            "kept": kept,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    print(json.dumps(measure(int(sys.argv[1]) if len(sys.argv) > 1 else 100_000)))
