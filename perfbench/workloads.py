"""Inputs, expected results and ops of the three workloads.

Every input comes from ``aisle_spark.schema.synth_batch`` under the run's
seed and is written with pyarrow, so set-up runs no Spark job apart from
one encode of the input: the table the scans read, or encode_bulk's
reference encode. Expected results are computed here with
pyarrow from the generated input, never with the engine.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import harness

SORT_COLS = ["source", "n_tok"]
# the point queries' literals; 777 is a chunk-level skip inside kept
# "web" blocks
POINT_N_TOK = 777


@dataclass
class Sizes:
    files: int
    rows_per_file: int


# The scans read 4 files x 6144 rows: ~16M tokens in ~12 value-bounded
# blocks. encode_bulk writes 16 files x 6144 rows (~65M tokens): the
# engine packs them into one byte-balanced task of 4 files per core. The
# op's fixed cost is ~0.6 s of a ~2.6 s op (1.6 s at half the rows). More
# than 16 files would switch the engine to 4 waves of smaller tasks, which
# measured 2.5x the CPU per op.
SIZES = {
    "encode_bulk": Sizes(16, 6144),
    "scan_selective": Sizes(4, 6144),
    "scan_full": Sizes(4, 6144),
}


@dataclass
class Query:
    """One query of the scan_selective mix. ``kind`` selects the public
    entry point: ``scan`` (pipeline.scan + agg), ``count``
    (pipeline.scan_count) or ``datasource`` (spark.read.format("aisle"))."""

    name: str
    kind: str
    where: object  # filterspec Spec
    columns: list[str] | None
    agg: str  # "n_tok" sums n_tok, "tokens" sums size(tokens)
    expect: tuple[int, int] = (0, 0)  # (count, sum); sum unused for count


@dataclass
class Ctx:
    work: str
    seed: int
    sizes: Sizes
    spark: object = None
    rows: int = 0
    tokens: int = 0
    enc_bytes: int = 0  # committed block-file bytes of the set-up encode
    zstd_bytes: int = 0
    n_blocks: int = 0
    mix: list[Query] = field(default_factory=list)
    setup_parts: dict = field(default_factory=dict)
    setup_errors: list[str] = field(default_factory=list)
    op_seq: int = 0

    @property
    def input_dir(self) -> str:
        return os.path.join(self.work, "input")

    @property
    def table_dir(self) -> str:
        return os.path.join(self.work, "table")


def _table_bytes(path: str) -> tuple[int, int]:
    """(bytes, blocks) of the block files the manifest commits. Only data
    files count: the ``_done`` sidecars carry wall-clock figures whose
    printed length varies from run to run."""
    import pyarrow.parquet as pq

    from aisle_spark.pipeline import load_manifest

    files = load_manifest(None, path)["files"]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    blocks = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)
    return total, blocks


def sidecars(path: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(path, "_done", "*.json"))):
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def generate_input(ctx: Ctx):
    """Seeded input, one parquet file per ``rows_per_file`` rows; returns
    the whole table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aisle_spark.schema import synth_batch

    os.makedirs(ctx.input_dir)
    n = ctx.sizes.rows_per_file
    # one call: synth_batch generates whole 8192-row chunks, so a call per
    # file would generate the chunks that straddle files twice
    tbl = pa.Table.from_batches([synth_batch(0, n * ctx.sizes.files, seed=ctx.seed)])
    for i in range(ctx.sizes.files):
        pq.write_table(tbl.slice(i * n, n),
                       os.path.join(ctx.input_dir, f"part-{i:03d}.parquet"), compression="none")
    return tbl


def zstd_reference_bytes(tbl, path: str) -> int:
    """The zstd-parquet reference: pyarrow, one row group, zstd level 3,
    dictionary on, single-threaded. Same input, same bytes."""
    import pyarrow.parquet as pq

    pq.write_table(
        tbl, path, compression="zstd", compression_level=3,
        row_group_size=tbl.num_rows, use_dictionary=True, write_statistics=True,
    )
    return os.path.getsize(path)


def build_mix(tbl, seed: int) -> list[Query]:
    import numpy as np
    import pyarrow.compute as pc

    from aisle_spark.filterspec import col

    src = tbl.column("source")
    ntok = tbl.column("n_tok")
    sizes = pc.list_value_length(tbl.column("tokens"))
    rng = np.random.default_rng(seed)
    target = tbl.column("doc_id")[int(rng.integers(tbl.num_rows))].as_py()

    def expect(mask, values):
        m = mask.combine_chunks() if hasattr(mask, "combine_chunks") else mask
        return (int(pc.sum(pc.cast(m, "int64")).as_py() or 0),
                int(pc.sum(pc.filter(values, m)).as_py() or 0))

    code = pc.equal(src, "code")
    books_range = pc.and_(pc.and_(pc.greater_equal(ntok, 1000), pc.less_equal(ntok, 2000)),
                          pc.equal(src, "books"))
    point = pc.equal(tbl.column("doc_id"), target)
    web_777 = pc.and_(pc.equal(src, "web"), pc.equal(ntok, POINT_N_TOK))
    return [
        Query("code_eq", "scan", col("source") == "code", ["doc_id", "n_tok"], "n_tok",
              expect(code, ntok)),
        Query("range_books", "scan", col("n_tok").between(1000, 2000) & (col("source") == "books"),
              None, "tokens", expect(books_range, sizes)),
        Query("doc_point", "scan", col("doc_id") == target, ["doc_id", "n_tok"], "n_tok",
              expect(point, ntok)),
        Query("web_777", "scan", (col("source") == "web") & (col("n_tok") == POINT_N_TOK),
              ["doc_id", "n_tok"], "n_tok", expect(web_777, ntok)),
        Query("count_stats", "count", col("n_tok") >= 1, None, "",
              (int(pc.sum(pc.cast(pc.greater_equal(ntok, 1), "int64")).as_py()), 0)),
        Query("ds_code_eq", "datasource", col("source") == "code", ["doc_id", "n_tok", "source"],
              "n_tok", expect(code, ntok)),
    ]


def decode_check(ctx: Ctx, tbl) -> str | None:
    """Bit-identical check of the set-up encode: decode every committed
    block in this process and compare with the input, both ordered by
    doc_id (unique)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aisle_spark.blocks import decode_block
    from aisle_spark.pipeline import load_manifest
    from aisle_spark.schema import specs_for_schema

    specs = specs_for_schema(tbl.schema)
    cols = [f"{s.name}__payload" for s in specs]
    batches = []
    for f in load_manifest(None, ctx.table_dir)["files"]:
        for row in pq.read_table(os.path.join(ctx.table_dir, f), columns=cols).to_pylist():
            batches.append(decode_block(specs, row))
    got = pa.Table.from_batches(batches).select(tbl.schema.names)
    got = got.sort_by("doc_id").combine_chunks()
    want = tbl.sort_by("doc_id").combine_chunks()
    if not got.equals(want):
        return "decoded table differs from the input"
    return None


def prepare_input(ctx: Ctx):
    """The Spark-free half of set-up: the seeded input, the zstd reference
    and every expected result. Runs beside the JVM's start-up. Returns
    the input table."""
    import pyarrow.compute as pc

    t = time.perf_counter()
    tbl = generate_input(ctx)
    ctx.rows = tbl.num_rows
    ctx.tokens = int(pc.sum(tbl.column("n_tok")).as_py())
    if ctx.tokens != int(pc.sum(pc.list_value_length(tbl.column("tokens"))).as_py()):
        ctx.setup_errors.append("generated n_tok disagrees with token list lengths")
    ctx.mix = build_mix(tbl, ctx.seed)
    ctx.setup_parts["generate_s"] = time.perf_counter() - t
    t = time.perf_counter()
    ctx.zstd_bytes = zstd_reference_bytes(tbl, os.path.join(ctx.work, "reference.zstd.parquet"))
    ctx.setup_parts["reference_s"] = time.perf_counter() - t
    return tbl


def encode_table(ctx: Ctx, tbl) -> None:
    """The Spark half of set-up: one encode of the input (the table the
    scans read; for encode_bulk, the bytes every op must match), and its
    bit-identical decode check."""
    from aisle_spark.datasource import register
    from aisle_spark.pipeline import encode_files_direct

    register(ctx.spark)
    t = time.perf_counter()
    encode_files_direct(ctx.spark, ctx.input_dir, ctx.table_dir, sort_cols=SORT_COLS)
    ctx.enc_bytes, ctx.n_blocks = _table_bytes(ctx.table_dir)
    ctx.setup_parts["encode_s"] = time.perf_counter() - t
    t = time.perf_counter()
    err = decode_check(ctx, tbl)
    if err:
        ctx.setup_errors.append(err)
    ctx.setup_parts["check_s"] = time.perf_counter() - t


# ---------------------------------------------------------------------------
# ops: each runs its timed part and returns its check, a call that returns
# (ok, extra) and runs after the op's wall and CPU time are read
# ---------------------------------------------------------------------------


def op_encode(ctx: Ctx, tr):
    """encode_bulk: one encode_files_direct into a fresh directory. The
    check compares the committed bytes, blocks and rows with set-up's
    encode, reads the sidecars, and deletes the output."""
    from aisle_spark.pipeline import encode_files_direct

    out = os.path.join(ctx.work, f"encode-op-{ctx.op_seq}")
    ctx.op_seq += 1
    with tr.span("pipeline.encode_files_direct"):
        encode_files_direct(ctx.spark, ctx.input_dir, out, sort_cols=SORT_COLS)

    def check() -> tuple[bool, dict]:
        try:
            nbytes, nblocks = _table_bytes(out)
            cars = sidecars(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        rows = sum(c["n_rows"] for c in cars)
        extra = {"sidecars": cars}
        if (nbytes, nblocks, rows) != (ctx.enc_bytes, ctx.n_blocks, ctx.rows):
            extra["error"] = (f"encode op wrote {nbytes} bytes/{nblocks} blocks/{rows} rows, "
                              f"expected {ctx.enc_bytes}/{ctx.n_blocks}/{ctx.rows}")
            return False, extra
        return True, extra

    return check


def run_query(ctx: Ctx, q: Query, tr, blocks, schema) -> tuple[int, int]:
    """One query of the mix through its public entry point; returns
    (count, sum). Spans: ``scan.<q>.build`` until the DataFrame exists,
    ``scan.<q>.exec`` for the action."""
    from pyspark.sql import functions as F

    from aisle_spark.pipeline import scan, scan_count

    agg = F.sum("n_tok") if q.agg == "n_tok" else F.sum(F.size("tokens"))
    with tr.span(f"scan.{q.name}.build"):
        if q.kind == "scan":
            df = scan(blocks, schema, where=q.where, columns=q.columns).agg(F.count("*"), agg)
        elif q.kind == "count":
            df = scan_count(blocks, schema, where=q.where)
        else:  # the code_eq predicate, pushed by Spark into the planner
            df = (ctx.spark.read.format("aisle").option("columns", ",".join(q.columns))
                  .load(ctx.table_dir).filter(F.col("source") == "code")
                  .agg(F.count("*"), agg))
    with tr.span(f"scan.{q.name}.exec"):
        row = df.collect()[0]
    return int(row[0] or 0), int((row[1] if len(row) > 1 else 0) or 0)


def op_scan_selective(ctx: Ctx, tr):
    """scan_selective: one pass over the whole mix, read from disk."""
    from aisle_spark.pipeline import read_encoded

    with tr.span("pipeline.read_encoded"):
        blocks, schema = read_encoded(ctx.spark, ctx.table_dir)
    got = {}
    for q in ctx.mix:
        with tr.span(f"query.{q.name}"):
            got[q.name] = run_query(ctx, q, tr, blocks, schema)

    def check() -> tuple[bool, dict]:
        bad = []
        for q in ctx.mix:
            want = q.expect if q.kind != "count" else (q.expect[0], 0)
            if got[q.name] != want:
                bad.append(f"{q.name}: got {got[q.name]}, expected {want}")
        return (False, {"error": "; ".join(bad)}) if bad else (True, {})

    return check


def op_scan_full(ctx: Ctx, tr):
    """scan_full: decode every block and column, no predicate."""
    from pyspark.sql import functions as F

    from aisle_spark.pipeline import read_encoded, scan

    with tr.span("pipeline.read_encoded"):
        blocks, schema = read_encoded(ctx.spark, ctx.table_dir)
    with tr.span("scan.full.build"):
        df = scan(blocks, schema).agg(F.count("*"), F.sum(F.size("tokens")))
    with tr.span("scan.full.exec"):
        row = df.collect()[0]
    got = (int(row[0]), int(row[1] or 0))

    def check() -> tuple[bool, dict]:
        if got != (ctx.rows, ctx.tokens):
            return False, {"error": f"full scan got {got}, expected {(ctx.rows, ctx.tokens)}"}
        return True, {}

    return check


# Ops discarded before the window, counted in ops, not seconds: the JIT
# compiles by call count, so a count puts every run's window at the same
# point of the settling curve. On a 4-vCPU VM the first scan_selective op
# took 11.8-13.5 s (Catalyst codegen of six plan shapes, the data source's
# Python planner), the second 4.7-5.3 s, and the window's median 4.0-4.5 s;
# one op a little above the median does not move a median over 4-5 ops.
# Set-up's encode is encode_bulk's cold op; the two after it read within
# 10% of the window's median. More warm-up would not fit the run budget
# (README.md).
WARMUP_OPS = {"encode_bulk": 2, "scan_selective": 2, "scan_full": 3}

OPS = {
    "encode_bulk": op_encode,
    "scan_selective": op_scan_selective,
    "scan_full": op_scan_full,
}


def tokens_per_op(ctx: Ctx, workload: str) -> int:
    """Tokens in the table an op writes or reads. A scan_selective op reads
    the table once per query of the mix."""
    return ctx.tokens * (len(ctx.mix) if workload == "scan_selective" else 1)


def spark_window(ctx: Ctx) -> dict[str, float]:
    """The contention floor: an empty Spark job, and a pure-Spark parquet
    read plus aggregate of the input with no engine code (the canary).
    Medians of 3 each."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    empty, canary = [], []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(1).count()
        empty.append(time.perf_counter() - t)
    for _ in range(3):
        t = time.perf_counter()
        row = spark.read.parquet(ctx.input_dir).agg(
            F.count("*"), F.sum("n_tok"), F.sum(F.size("tokens"))).collect()[0]
        canary.append(time.perf_counter() - t)
        if (row[0], row[1], row[2]) != (ctx.rows, ctx.tokens, ctx.tokens):
            ctx.setup_errors.append(f"canary read {tuple(row)}")
    return {"spark.empty_job_s": harness.median(empty), "spark.canary_s": harness.median(canary)}
