"""Attribute the fixed overhead of `spark.read.format("aisle")` reads
(VERDICT r4 next #8): the bench shows ~2.6-4.3 s for the datasource form
of a scan the library runs in ~0.7-1.0 s. This script times each phase on
the same encoded table, cold and warm:

  load     — schema resolution (spawns a Python planning worker)
  collect  — pushFilters + partitions (second planning worker: numpy
             block-tier pruning over manifest stat columns) + read tasks
  library  — read_encoded + scan() on the same table/predicate

Run: python tools/ds_overhead.py [table_dir]
Prints one JSON line; detail to stdout lines above it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    table = sys.argv[1] if len(sys.argv) > 1 else "/tmp/aisle_bench/encoded"
    if not os.path.exists(os.path.join(table, "_aisle_files.json")):
        raise SystemExit(f"no encoded table at {table} — run bench.py first")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from aisle_spark.datasource import register
    from aisle_spark.filterspec import col
    from aisle_spark.pipeline import read_encoded, scan

    register(spark)
    spark.range(1).count()  # session warm-up out of every measurement
    out: dict = {}

    def timed(key, fn):
        t0 = time.time()
        r = fn()
        out[key] = round(time.time() - t0, 3)
        return r

    agg = lambda df: df.filter(F.col("source") == "code").agg(
        F.count("*"), F.sum("n_tok")
    ).collect()

    # datasource, cold then warm (the second pass reuses nothing across
    # DataFrames — each load spawns fresh planning workers, which is the
    # hypothesis under test)
    df = timed("ds_load_cold", lambda: spark.read.format("aisle")
               .option("columns", "doc_id,n_tok,source").load(table))
    timed("ds_collect_cold", lambda: agg(df))
    df2 = timed("ds_load_warm", lambda: spark.read.format("aisle")
                .option("columns", "doc_id,n_tok,source").load(table))
    timed("ds_collect_warm", lambda: agg(df2))
    # repeated collect on the SAME DataFrame: planning already done?
    timed("ds_recollect_same_df", lambda: agg(df2))

    # library path on the same table + predicate
    blocks, schema = timed("lib_read_encoded", lambda: read_encoded(spark, table))
    timed("lib_scan_collect", lambda: scan(
        blocks, schema, where=col("source") == "code",
        columns=["doc_id", "n_tok"],
    ).agg(F.count("*"), F.sum("n_tok")).collect())
    timed("lib_scan_collect_warm", lambda: scan(
        blocks, schema, where=col("source") == "code",
        columns=["doc_id", "n_tok"],
    ).agg(F.count("*"), F.sum("n_tok")).collect())

    out["ds_fixed_overhead_estimate"] = round(
        out["ds_load_warm"] + out["ds_collect_warm"]
        - out["lib_scan_collect_warm"], 3,
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
