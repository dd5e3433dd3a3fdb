"""Planning cost at 10^4 block files: ``scan()`` build and
``AisleReader.partitions()`` over one encoded block file hard-linked N
times under a new table root (no payload is copied; every file holds the
same blocks).

Encodes a 1,500-row token table into one block file, links it N times,
commits the N names in one ``pipeline.commit`` (which folds their
stats) and times it, then times,
best of 3: the ``scan()`` build (no action runs) for a predicate every
file keeps, and ``partitions()`` for a predicate every file keeps and
for one that none keeps.

Run: python tools/many_files_plan.py [n_files] [work_dir]
Prints one JSON line. Runs Spark in local[2]; ``read_encoded`` over 10^4
explicit paths takes about a minute, spent in the JVM's file listing.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def best(fn, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(min(times), 3)


def measure(spark, n: int, work: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aisle_spark.datasource import AisleReader
    from aisle_spark.filterspec import col
    from aisle_spark.pipeline import (
        SCHEMA_SIDECAR,
        _read_sidecar_schema,
        commit,
        encode_files_direct,
        load_manifest,
        read_encoded,
        scan,
    )
    from aisle_spark.schema import synth_batch

    os.makedirs(f"{work}/in")
    pq.write_table(pa.Table.from_batches([synth_batch(0, 1500, seed=5)]), f"{work}/in/p0.parquet")
    encode_files_direct(spark, f"{work}/in", f"{work}/enc", sort_cols=["source", "n_tok"], block_rows=512)
    (one,) = load_manifest(None, f"{work}/enc")["files"]
    many = f"{work}/many"
    os.makedirs(many)
    shutil.copy(f"{work}/enc/{SCHEMA_SIDECAR}", many)
    files = [f"blocks-{i:06d}.parquet" for i in range(n)]
    for f in files:
        os.link(f"{work}/enc/{one}", f"{many}/{f}")
    t0 = time.perf_counter()
    commit(None, many, _read_sidecar_schema(None, many), files)
    commit_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    blocks, schema = read_encoded(spark, many)
    read_s = round(time.perf_counter() - t0, 3)
    every, none = col("n_tok") >= 0, col("n_tok") < -1

    def plan(spec):
        r = AisleReader(many)
        r.spec = spec
        return r.partitions()

    return {
        "n_files": n,
        "commit_s": commit_s,
        "read_encoded_s": read_s,
        "scan_build_s": best(lambda: scan(blocks, schema, where=every, columns=["doc_id"])),
        "partitions_all_kept_s": best(lambda: plan(every)),
        "partitions_none_kept_s": best(lambda: plan(none)),
    }


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    work = tempfile.mkdtemp(prefix="aisle_many_", dir=sys.argv[2] if len(sys.argv) > 2 else None)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(measure(spark, n, work)))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
