"""Measure the small-file bin-packing win (VERDICT r5 next #8): scan a
many-small-file streamed-style table through ``format("aisle")`` with
packing ON (default) vs OFF (monkeypatched pass-through), reporting task
counts and walls.

Builds ~N_FILES tiny committed files once under /tmp/aisle_packbench by
writing through the datasource writer path per slice, then times
full-scan counts. Packing is a planning-time concern only, so results
are identical either way (asserted).

Run: python tools/packing_bench.py [n_files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = "/tmp/aisle_packbench"


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import aisle_spark.datasource as ds
    from aisle_spark.datasource import register

    register(spark)

    table = f"{ROOT}/table"
    if not os.path.exists(os.path.join(table, "_aisle_files.json")):
        shutil.rmtree(ROOT, ignore_errors=True)
        os.makedirs(ROOT, exist_ok=True)
        # one tiny commit per append => one small file each: the
        # streamed-table shape packing exists for
        base = spark.range(0, 500).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        for i in range(n_files):
            (
                base.withColumn("k", F.col("k") + F.lit(i * 500))
                .coalesce(1)
                .write.format("aisle")
                .mode("append" if i else "overwrite")
                .save(table)
            )
            if (i + 1) % 100 == 0:
                print(f"built {i + 1}/{n_files} files", flush=True)

    reader = ds.AisleReader(table)
    n_packed = len(reader.partitions())
    real_pack = ds._pack_partitions
    try:
        ds._pack_partitions = lambda entries: [
            ds.AislePartition(p, rows) for p, rows, _size in entries
        ]
        n_unpacked = len(ds.AisleReader(table).partitions())
    finally:
        ds._pack_partitions = real_pack

    def scan_count() -> tuple[float, int]:
        t0 = time.time()
        c = spark.read.format("aisle").load(table).count()
        return round(time.time() - t0, 3), c

    results = {"n_files": n_files, "tasks_packed": n_packed,
               "tasks_unpacked": n_unpacked}
    walls_on, walls_off = [], []
    counts = set()
    for rep in range(3):
        w, c = scan_count()
        walls_on.append(w)
        counts.add(c)
        try:
            ds._pack_partitions = lambda entries: [
                ds.AislePartition(p, rows) for p, rows, _size in entries
            ]
            w, c = scan_count()
            walls_off.append(w)
            counts.add(c)
        finally:
            ds._pack_partitions = real_pack
    assert len(counts) == 1, f"results differ: {counts}"
    results["rows"] = counts.pop()
    results["wall_packed"] = walls_on
    results["wall_unpacked"] = walls_off
    results["wall_packed_min"] = min(walls_on)
    results["wall_unpacked_min"] = min(walls_off)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
