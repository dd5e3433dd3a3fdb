#!/usr/bin/env python3
"""The aisle_spark benchmark. Run from the repository root:

    python3 perfbench/run.py --workload scan_selective --seed 1 --seconds 16 --trace 0

Workloads: encode_bulk, scan_selective, scan_full (see README.md). The
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it, prefixed
``perfbench-record``, carries the run's detail: every op wall, the
warm-up ops discarded, the set-up breakdown, the Spark floor measured
after the window, and in traced runs each layer metric's target. Exits
non-zero when any op or check failed.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import sys
import threading
import time

import harness
import workloads

# per-layer metrics that are exact counts of one program version and seed
EXACT_LAYER = ("prune.", "datasource.files_kept", "datasource.blocks_kept",
               "codecs.int_bytes_out_per_in", "codecs.str_bytes_out_per_in")


def declared_units() -> dict[str, str]:
    """Unit of every metric BENCHMARK.json declares, by name."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _program_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(harness.ROOT, "aisle_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def check_exact(key: str, counts: dict) -> list[str]:
    """Counts that must repeat exactly across runs of one program version
    and seed: compared with, then merged into, a ledger in the work
    directory."""
    path = os.path.join(harness.WORK, "exact_counts.json")
    ledger = {}
    if os.path.exists(path):
        with open(path) as fh:
            ledger = json.load(fh)
    seen = ledger.setdefault(key, {})
    errors = [f"{k}: {v!r} here, {seen[k]!r} in an earlier run"
              for k, v in counts.items() if k in seen and seen[k] != v]
    seen.update(counts)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return errors


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        t_start: float, sizes: workloads.Sizes | None = None,
        spark=None) -> tuple[dict, dict]:
    """One benchmark run; returns (result, record). ``spark`` reuses a
    session the caller owns (the smoke test runs every case on one)."""
    ctx = workloads.Ctx(work=work, seed=seed, sizes=sizes or workloads.SIZES[workload])
    os.makedirs(work, exist_ok=True)
    # the input is generated while the JVM starts (session start must stay
    # on the main thread: pyspark installs a signal handler there)
    box: dict = {}

    def prepare():
        try:
            box["tbl"] = workloads.prepare_input(ctx)
        except BaseException as e:  # re-raised on the main thread below
            box["error"] = e

    helper = threading.Thread(target=prepare)
    helper.start()
    own = spark is None
    t = time.perf_counter()
    if own:
        spark = harness.start_session(work)
    session_s = time.perf_counter() - t
    helper.join()
    ctx.spark = spark
    try:
        if "error" in box:
            raise box["error"]
        workloads.encode_table(ctx, box.pop("tbl"))
        setup_s = time.perf_counter() - t_start
        tracer = harness.Tracer() if trace else None
        budget = max(5.0, 150.0 - (time.perf_counter() - t_start) - (60.0 if trace else 0.0))
        # peak RSS covers the window only, not set-up's input tables
        import pyarrow as pa

        gc.collect()
        pa.default_memory_pool().release_unused()
        harness.reset_peak_rss()
        jiffies = harness.cpu_times()
        loop = harness.run_loop(spark, lambda tr: workloads.OPS[workload](ctx, tr), seconds,
                                workloads.WARMUP_OPS[workload], tracer=tracer, deadline_s=budget)
        rss = harness.tree_peak_rss_mb()
        steal = harness.steal_pct(jiffies, harness.cpu_times())
        # taken after the window, once the JVM is warm
        window = workloads.spark_window(ctx)
        window["cpu_steal_pct"] = steal
        loop_end_s = time.perf_counter() - t_start
        layer = {}
        if trace:
            import layers

            layer = layers.sweep(ctx, tracer, workload, loop)
            untraced = [s.wall_s for s in loop.samples if not s.traced]
            traced = [s.wall_s for s in loop.samples if s.traced]
            layer["trace.overhead_s"] = harness.median(traced) - harness.median(untraced)
            trace_path = os.path.join(harness.WORK, f"trace-{workload}-{seed}.json")
            tracer.write(trace_path)
    finally:
        if own:
            harness.stop_session(spark)

    exact = {"enc_bytes": ctx.enc_bytes, "zstd_bytes": ctx.zstd_bytes,
             "blocks": ctx.n_blocks}
    if trace:
        exact.update({k: v for k, v in layer.items() if k.startswith(EXACT_LAYER)})
    key = f"{_program_digest()}:seed={seed}:{ctx.sizes.files}x{ctx.sizes.rows_per_file}"
    errors = list(ctx.setup_errors) + check_exact(key, exact)

    units = declared_units()
    if trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(layer.items())}
    else:
        p50 = harness.median([s.wall_s for s in loop.samples])
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "tokens_per_s": workloads.tokens_per_op(ctx, workload) / p50,
            "cpu_s_per_op": harness.median([s.cpu_s for s in loop.samples]),
            "peak_rss_mb": rss,
            "ratio_vs_zstd": ctx.enc_bytes / ctx.zstd_bytes,
        }
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    failed = loop.failed + (1 if errors else 0)
    result = {
        "correct": failed == 0 and len(loop.samples) > 0,
        "attempted": loop.attempted + 1,  # the ops, plus set-up's checks
        "failed": failed,
        "metrics": metrics,
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": harness.cores(), "rows": ctx.rows, "tokens": ctx.tokens,
        "blocks": ctx.n_blocks, "enc_bytes": ctx.enc_bytes, "zstd_bytes": ctx.zstd_bytes,
        "samples": len(loop.samples), "warmup_ops_discarded": loop.warmup_ops,
        "warmup_walls_s": [round(w, 4) for w in loop.warmup_walls],
        "op_walls_s": [round(s.wall_s, 4) for s in loop.samples],
        "op_traced": [s.traced for s in loop.samples],
        "session_s": session_s, "loop_end_s": loop_end_s, "setup_parts_s": ctx.setup_parts,
        "spark_window": window, "errors": errors + loop.errors,
    }
    if trace:
        import layers

        record["trace_file"] = os.path.relpath(trace_path, harness.ROOT)
        record["span_self_s"] = tracer.self_times()
        record["layer_targets"] = {k: layers.target_of(k) for k in sorted(layer)}
    return result, record


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(harness.WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.pin_environment(work)
    sys.path.insert(0, harness.ROOT)
    import aisle_spark  # noqa: F401  (fail before starting a JVM when the engine is absent)

    try:
        result, record = run(args.workload, args.seed, args.seconds, bool(args.trace),
                             work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-record " + json.dumps(record, default=str), flush=True)
    print(json.dumps(result, allow_nan=False), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
