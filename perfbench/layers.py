"""Per-layer metrics of the traced run, each taken from outside the
engine around a call into one module.

Single-core probes (codecs, blocks, pipeline._order_and_slice, rowmask)
run in this process on a fixed corpus (seed 0, independent of the
workload seed), so their rates compare across runs and their byte ratios
repeat exactly. Pruning counts are exact and come from the run's own
encoded table.
"""

from __future__ import annotations

import fnmatch
import os
import time

import harness
import workloads

CORPUS_SEED = 0
REPS = 5

# (layer metric pattern, end-to-end metric it should move, workload).
# Every traced run prints the target of each of its metrics; README.md
# carries the same table. scan_full is runnable by hand but not declared
# in BENCHMARK.json; on the declared workloads, decode shows in
# scan_selective's range_books query.
TARGETS = [
    ("codecs.*_encode_mb_s", "op_p50_s, tokens_per_s, cpu_s_per_op", "encode_bulk"),
    ("codecs.bloom_build_mb_s", "op_p50_s, tokens_per_s, cpu_s_per_op", "encode_bulk"),
    ("codecs.*_decode_mb_s", "op_p50_s, tokens_per_s", "scan_full; scan_selective (range_books)"),
    ("codecs.*_bytes_out_per_in", "ratio_vs_zstd", "encode_bulk"),
    ("blocks.encode_block_ms", "op_p50_s, tokens_per_s", "encode_bulk"),
    ("blocks.decode_block_ms", "op_p50_s, tokens_per_s", "scan_full; scan_selective (range_books)"),
    ("blocks.*.decode_filtered_ms", "op_p50_s", "scan_selective"),
    ("pipeline.order_and_slice_s", "op_p50_s", "encode_bulk"),
    ("encode.*", "op_p50_s", "encode_bulk"),
    ("scan.full.*", "op_p50_s", "scan_full"),
    ("scan.*", "op_p50_s", "scan_selective"),
    ("prune.*", "op_p50_s, tokens_per_s", "scan_selective"),
    ("rowmask.*", "op_p50_s, tokens_per_s", "scan_selective"),
    ("datasource.*", "op_p50_s", "scan_selective"),
    ("spark.*", "none: explains every end-to-end metric", "all"),
    ("trace.overhead_s", "none: traced minus untraced op_p50_s", "the traced workload"),
]


def target_of(metric: str) -> str:
    for pattern, e2e, workload in TARGETS:
        if fnmatch.fnmatchcase(metric, pattern):
            return f"{e2e} on {workload}"
    raise KeyError(metric)


PRUNED = ("code_eq", "range_books", "doc_point", "web_777")


def _timed(fn, reps: int = REPS) -> tuple[float, object]:
    """Median wall of ``reps`` calls, and the last result."""
    walls, out = [], None
    for _ in range(reps):
        t = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t)
    return harness.median(walls), out


def _corpus():
    import pyarrow as pa

    from aisle_spark.schema import synth_batch

    return pa.Table.from_batches([synth_batch(0, 8192, seed=CORPUS_SEED)])


def codec_metrics(tbl, tr) -> dict[str, float]:
    import numpy as np

    from aisle_spark.codecs import decode_ints, decode_strings, encode_ints, encode_strings
    from aisle_spark.codecs.bloom import build_bloom

    m = {}
    ints = tbl.column("tokens").combine_chunks().flatten().to_numpy()
    doc = tbl.column("doc_id").combine_chunks()
    offs = np.frombuffer(doc.buffers()[1], dtype=np.int32)[: len(doc) + 1]
    lengths = np.diff(offs).astype(np.int64)
    data = np.frombuffer(doc.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
    str_in = data.nbytes + 4 * len(doc)
    with tr.span("codecs.encode_ints"):
        t, ibuf = _timed(lambda: encode_ints(ints))
    m["codecs.int_encode_mb_s"] = ints.nbytes / 1e6 / t
    m["codecs.int_bytes_out_per_in"] = len(ibuf) / ints.nbytes
    with tr.span("codecs.decode_ints"):
        t, back = _timed(lambda: decode_ints(ibuf))
    m["codecs.int_decode_mb_s"] = ints.nbytes / 1e6 / t
    with tr.span("codecs.encode_strings"):
        t, sbuf = _timed(lambda: encode_strings(lengths, data))
    m["codecs.str_encode_mb_s"] = str_in / 1e6 / t
    m["codecs.str_bytes_out_per_in"] = len(sbuf) / str_in
    with tr.span("codecs.decode_strings"):
        t, (blens, bdata) = _timed(lambda: decode_strings(sbuf))
    m["codecs.str_decode_mb_s"] = str_in / 1e6 / t
    # one bloom per 4096-row block, as encode builds them
    cuts = range(0, len(lengths), 4096)
    starts = np.concatenate(([0], np.cumsum(lengths)))

    def blooms():
        return [build_bloom(lengths[a : a + 4096], data[starts[a] : starts[min(a + 4096, len(lengths))]])
                for a in cuts]

    with tr.span("codecs.build_bloom"):
        t, _ = _timed(blooms)
    m["codecs.bloom_build_mb_s"] = str_in / 1e6 / t
    if not (np.array_equal(back, ints) and np.array_equal(blens, lengths)
            and np.array_equal(bdata, data)):
        raise ValueError("codec round trip is not bit-identical")
    return m


def block_metrics(tbl, tr) -> dict[str, float]:
    from aisle_spark.blocks import decode_block, encode_block
    from aisle_spark.pipeline import DEFAULT_BLOCK_ROWS, DEFAULT_MAX_VALUES, _order_and_slice
    from aisle_spark.schema import specs_for_schema

    specs = specs_for_schema(tbl.schema)
    keys = [(c, "ascending") for c in workloads.SORT_COLS]
    m = {}
    with tr.span("pipeline._order_and_slice"):
        t, slices = _timed(lambda: _order_and_slice(tbl, specs, keys, DEFAULT_BLOCK_ROWS,
                                                     DEFAULT_MAX_VALUES))
    m["pipeline.order_and_slice_s"] = t
    with tr.span("blocks.encode_block"):
        t, rows = _timed(lambda: [encode_block(specs, b, 0, i) for i, b in enumerate(slices)], 3)
    m["blocks.encode_block_ms"] = 1e3 * t / len(slices)
    with tr.span("blocks.decode_block"):
        t, _ = _timed(lambda: [decode_block(specs, r) for r in rows], 3)
    m["blocks.decode_block_ms"] = 1e3 * t / len(rows)
    return m


def encode_metrics(cars_per_op: list[list[dict]], walls: list[float]) -> dict[str, float]:
    """Python-worker side of encode, summed over each op's ``_done``
    sidecars; medians over ops. Residue = op wall x cores - task wall."""
    per_op = []
    for cars, wall in zip(cars_per_op, walls):
        st = {k: sum(c["stages"][f"{k}_sec"] for c in cars) for k in ("read", "sort", "encode", "write")}
        st["task_wall"] = sum(c["wall_sec"] for c in cars)
        st["sched_residue"] = wall * harness.cores() - st["task_wall"]
        per_op.append(st)
    return {f"encode.{k}_s": harness.median([p[k] for p in per_op]) for k in per_op[0]}


def prune_metrics(ctx: workloads.Ctx, tr) -> dict[str, float]:
    """Exact pruning counts per mix query over the encoded table: blocks
    kept by the engine's manifest filter (one Spark job each), 512-row
    chunks kept by ``chunk_keep`` over those blocks, payload bytes of the
    needed columns, rows matched per row in a kept block; plus the
    single-core ``decode_block_filtered`` and ``row_mask`` time over the
    kept blocks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aisle_spark.blocks import decode_block_filtered, decode_column
    from aisle_spark.chunkstats import chunk_keep, n_chunks
    from aisle_spark.filterspec import DEFAULT_OPTIONS
    from aisle_spark.pipeline import load_manifest, read_encoded
    from aisle_spark.rowmask import row_mask
    from aisle_spark.schema import specs_for_schema

    blocks, schema = read_encoded(ctx.spark, ctx.table_dir)
    specs = specs_for_schema(schema)
    by_name = {s.name: s for s in specs}
    rows = []
    for f in load_manifest(None, ctx.table_dir)["files"]:
        rows += pq.read_table(os.path.join(ctx.table_dir, f)).to_pylist()
    by_id = {r["block_id"]: r for r in rows}
    m = {"prune.blocks_total": float(len(rows)),
         "prune.chunks_total": float(sum(n_chunks(r["n_rows"]) for r in rows))}
    mask_s = 0.0
    for q in ctx.mix:
        if q.name not in PRUNED:
            continue
        with tr.span(f"prune.{q.name}.keep_blocks"):
            kept_ids = [r[0] for r in blocks.filter(q.where.keep_blocks(DEFAULT_OPTIONS))
                        .select("block_id").collect()]
        kept = [by_id[i] for i in sorted(kept_ids)]
        pred = sorted(q.where.columns())
        need = [s.name for s in specs if s.name in set((q.columns or schema.names)) | set(pred)]
        chunks = sum(int(chunk_keep(q.where, r, by_name, r["n_rows"]).sum()) for r in kept)
        read_rows = sum(r["n_rows"] for r in kept)
        m[f"prune.{q.name}.blocks_kept"] = float(len(kept))
        m[f"prune.{q.name}.chunks_kept"] = float(chunks)
        m[f"prune.{q.name}.payload_bytes_decoded"] = float(
            sum(r[f"{c}__enc_bytes"] for r in kept for c in need))
        m[f"prune.{q.name}.rows_returned_per_row_read"] = q.expect[0] / read_rows if read_rows else 0.0
        sub = [by_name[c] for c in need]
        with tr.span(f"blocks.{q.name}.decode_block_filtered"):
            t, _ = _timed(lambda: [decode_block_filtered(sub, r, need, q.where) for r in kept], 3)
        m[f"blocks.{q.name}.decode_filtered_ms"] = 1e3 * t
        batches = [pa.RecordBatch.from_arrays(
            [decode_column(by_name[c], r[f"{c}__payload"]) for c in pred], names=pred) for r in kept]
        with tr.span(f"rowmask.{q.name}.row_mask"):
            t, _ = _timed(lambda: [row_mask(q.where, b) for b in batches], 3)
        mask_s += t
    m["rowmask.row_mask_ms"] = 1e3 * mask_s
    count_q = next(q for q in ctx.mix if q.kind == "count")
    with tr.span("prune.count_stats.boundary"):
        m["prune.count_stats.blocks_decoded"] = float(blocks.filter(
            count_q.where.keep(DEFAULT_OPTIONS) & count_q.where.not_true(DEFAULT_OPTIONS)).count())
    return m


def datasource_metrics(ctx: workloads.Ctx, tr) -> dict[str, float]:
    """Planner cost of the ds_code_eq query: building the reader, pushing
    its filter, and ``AisleReader.partitions()``; with the files and
    blocks the plan keeps."""
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo

    from aisle_spark.datasource import AisleReader

    q = next(q for q in ctx.mix if q.kind == "datasource")

    def plan():
        r = AisleReader(ctx.table_dir, columns=q.columns)
        r.pushFilters([EqualTo(("source",), "code")])
        return r.partitions()

    with tr.span("datasource.plan"):
        t, parts = _timed(plan)
    entries = [e for p in parts for e in p.entries()]
    blocks = sum(len(rows) if rows is not None else pq.ParquetFile(path).metadata.num_rows
                 for path, rows in entries)
    return {"datasource.plan_s": t, "datasource.files_kept": float(len(entries)),
            "datasource.blocks_kept": float(blocks)}


def sweep(ctx: workloads.Ctx, tracer: harness.Tracer, workload: str, loop: harness.Loop) -> dict:
    """Every per-layer metric, whatever the workload: metrics the
    workload's own traced ops cover come from them, the rest from extra
    calls made here after the measured window."""
    import pyarrow as pa

    tracer.op_id = "sweep"
    m: dict[str, float] = {}
    with tracer.span("sweep"):
        with tracer.span("spark.window"):
            m.update(workloads.spark_window(ctx))
        corpus = _corpus()
        pa.set_cpu_count(1)
        m.update(codec_metrics(corpus, tracer))
        m.update(block_metrics(corpus, tracer))
        cars = [s.extra["sidecars"] for s in loop.samples if "sidecars" in s.extra]
        walls = [s.wall_s for s in loop.samples if "sidecars" in s.extra]
        if not cars:  # scan workloads: one warm encode of the same input
            t0 = time.perf_counter()
            check = workloads.op_encode(ctx, tracer)
            wall = time.perf_counter() - t0
            ok, extra = check()
            if not ok:
                raise ValueError(extra["error"])
            cars, walls = [extra["sidecars"]], [wall]
        m.update(encode_metrics(cars, walls))
        m.update(prune_metrics(ctx, tracer))
        m.update(datasource_metrics(ctx, tracer))
        # scan spans the workload's own ops did not record: one untraced
        # pass warms the path, one traced pass is kept
        extra_ops = [f for w, f in (("scan_selective", workloads.op_scan_selective),
                                    ("scan_full", workloads.op_scan_full)) if w != workload]
        for op in extra_ops:
            for tr in (harness.NoTracer(), tracer):
                ok, extra = op(ctx, tr)()
                if not ok:
                    raise ValueError(extra["error"])
    # spans of the kept traced ops and of the sweep; warm-up and failed
    # ops are left out, as they are from the end-to-end metrics
    kept = {s.op_id for s in loop.samples if s.traced} | {"sweep"}
    for q in [q.name for q in ctx.mix] + ["full"]:
        for part in ("build", "exec"):
            m[f"scan.{q}.{part}_s"] = harness.median(tracer.durations(f"scan.{q}.{part}", kept))
    return m
