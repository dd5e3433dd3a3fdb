"""The fixed cost of a Python task, measured in one Spark session with the
benchmark's session settings (perfbench/harness.py).

Prints one JSON object:

  empty_job_s              median wall of ``spark.range(1).count()``: a job
                           with no Python worker
  identity_1p_s/_4p_s      median wall of an identity ``mapInArrow`` over
                           4 rows in 1 and in 4 partitions
  identity_1p_cpu_s/_4p_   median CPU seconds of the same jobs, summed over
                           the driver, the JVM and the Python workers
  worker_zip_importers     zip importers in a reused Python worker's
                           ``sys.path_importer_cache``
  worker_zip_entries       entries in those importers' zip directories
  worker_invalidate_caches_s
                           one ``importlib.invalidate_caches()`` in that
                           worker: the call each Python task makes at set-up
                           (pyspark ``worker_util.setup_spark_files``), which
                           re-reads every zip directory above

Run: python tools/python_task_floor.py [--reps 7] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import harness  # noqa: E402


def _identity(batches):
    yield from batches


def _worker_probe(batches):
    """One row: the worker's zip importers, their entries, and the
    seconds one ``importlib.invalidate_caches()`` takes there."""
    import importlib
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
    entries = 0
    for z in zips:
        files = getattr(z, "_files", None)
        entries += len(files) if files is not None else 0
    t = time.perf_counter()
    importlib.invalidate_caches()
    dt = time.perf_counter() - t
    yield pa.RecordBatch.from_pydict(
        {"zips": [len(zips)], "entries": [entries], "invalidate_s": [dt]}
    )


def _timed(fn, reps: int) -> tuple[float, float]:
    """(median wall, median tree CPU) seconds of ``fn`` over ``reps``."""
    walls, cpus = [], []
    for _ in range(reps):
        c, t = harness.tree_cpu_s(), time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
        cpus.append(harness.tree_cpu_s() - c)
    return harness.median(walls), harness.median(cpus)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--work", default=os.path.join(harness.WORK, "task_floor"))
    args = ap.parse_args(argv)
    harness.pin_environment(args.work)
    spark = harness.start_session(args.work)
    try:
        def identity(parts: int):
            df = spark.range(0, 4, 1, parts).mapInArrow(_identity, "id long")
            return lambda: df.collect()

        def probe():
            return spark.range(0, 1, 1, 1).mapInArrow(
                _worker_probe, "zips long, entries long, invalidate_s double"
            ).collect()[0]

        for fn in (identity(1), identity(4), lambda: spark.range(1).count()):
            fn()  # warm-up: the JIT, and Python workers to reuse
        empty = _timed(lambda: spark.range(1).count(), args.reps)
        one = _timed(identity(1), args.reps)
        four = _timed(identity(4), args.reps)
        probe()
        row = probe()  # a reused worker: its importers are already loaded
        out = {
            "cores": harness.cores(),
            "reps": args.reps,
            "empty_job_s": round(empty[0], 4),
            "identity_1p_s": round(one[0], 4),
            "identity_4p_s": round(four[0], 4),
            "identity_1p_cpu_s": round(one[1], 4),
            "identity_4p_cpu_s": round(four[1], 4),
            "worker_zip_importers": int(row["zips"]),
            "worker_zip_entries": int(row["entries"]),
            "worker_invalidate_caches_s": round(float(row["invalidate_s"]), 4),
        }
        print(json.dumps(out))
    finally:
        harness.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
