"""The one block-file writer behind every file-writing encode: the bytes it
writes are pinned by a golden hash, and the file stats the commit folds
from its files equal the stats of the rows that went into them."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from aisle_spark.pipeline import encode_files_direct, load_manifest
from aisle_spark.schema import synth_batch

# SHA-256 over every block row of the fixed encode below, files ordered by
# their first block_id, rows in file order. Any change to the codecs, the
# block ordering, the part_id/block_id rules or the stat columns moves it.
GOLDEN_SHA256 = "3b9d5da405b75f8c2f9053f644cd6bfd5089468ab464f83f8862fd7a88f27a12"


def _block_rows_digest(out: str, files: list[str]) -> str:
    tables = sorted(
        (pq.read_table(os.path.join(out, f)) for f in files),
        key=lambda t: t.column("block_id")[0].as_py(),
    )
    h = hashlib.sha256()
    for t in tables:
        h.update(repr(t.schema.names).encode())
        for row in t.to_pylist():
            h.update(repr(list(row.values())).encode())
    return h.hexdigest()


def test_direct_encode_golden_hash(spark, tmp_path):
    """Six 700-row files on four cores: four byte-balanced tasks, two of
    them carrying two files, so the per-task block sequence crosses an
    input boundary; 512-row blocks leave a partial tail block per file."""
    src = tmp_path / "src"
    out = str(tmp_path / "enc")
    src.mkdir()
    for i in range(6):
        pq.write_table(
            pa.Table.from_batches([synth_batch(i * 700, 700, seed=7)]),
            str(src / f"f{i}.parquet"),
        )
    assert spark.sparkContext.defaultParallelism == 4
    committed = encode_files_direct(
        spark, str(src), out, parts=8, sort_cols=["source", "n_tok"],
        block_rows=512,
    )
    assert committed == load_manifest(None, out)["files"]
    assert _block_rows_digest(out, committed) == GOLDEN_SHA256


def test_manifest_file_stats_equal_recomputed(spark, tmp_path):
    """The stats rows the commit folds from each written file's blocks
    equal the stats of that file's input rows — for int, string,
    timestamp, decimal and map columns, with nulls and all-null blocks —
    and its ``__enc_bytes`` totals equal its blocks' sums."""
    import datetime as dt
    import decimal
    import json

    import numpy as np
    import pyarrow.compute as pc

    from tests.test_datasource import _stats

    rng = np.random.default_rng(3)
    src = tmp_path / "src"
    out = str(tmp_path / "enc")
    src.mkdir()
    keys = [f"k{i}" for i in range(10)]
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for f in range(3):
        n = 1500
        ids = rng.integers(-(10**6), 10**6, n)
        has_name = rng.random(n) > 0.1
        table = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "name": pa.array(
                    [f"n{v:07d}" if ok else None for v, ok in zip(ids, has_name)]
                ),
                # first file: an all-null timestamp column
                "ts": pa.array(
                    [
                        None if f == 0 else t0 + dt.timedelta(seconds=int(s))
                        for s in rng.integers(0, 10**7, n)
                    ],
                    pa.timestamp("us", tz="UTC"),
                ),
                "amount": pa.array(
                    [decimal.Decimal(int(c)).scaleb(-2) for c in rng.integers(-(10**8), 10**8, n)],
                    pa.decimal128(12, 2),
                ),
                "props": pa.array(
                    [
                        [(keys[k], int(k) * 3) for k in rng.choice(10, rng.integers(0, 4), replace=False)]
                        for _ in range(n)
                    ],
                    pa.map_(pa.string(), pa.int64()),
                ),
            }
        )
        pq.write_table(table, str(src / f"f{f}.parquet"))
    encode_files_direct(spark, str(src), out, parts=4, sort_cols=["id"], block_rows=512)
    m = load_manifest(None, out)
    sts = _stats(out)
    assert len(m["files"]) == 3 and set(sts) == set(m["files"])
    for car in os.listdir(os.path.join(out, "_done")):
        rec = json.load(open(os.path.join(out, "_done", car)))
        (inp,) = rec["inputs"]  # one input file per task
        rows = pq.read_table(str(src / inp))
        st = sts[rec["file"]]
        assert st["n_rows"] == rows.num_rows
        assert st["__bytes"] == os.path.getsize(os.path.join(out, rec["file"]))
        for c in ("id", "name", "ts", "amount"):
            mm = pc.min_max(rows.column(c)).as_py()
            assert (st[f"{c}__min"], st[f"{c}__max"]) == (mm["min"], mm["max"]), c
            assert st[f"{c}__nulls"] == rows.column(c).null_count, c
        keys = {k for v in rows.column("props").to_pylist() for k, _v in v}
        assert st["props__keys"] == sorted(keys)
        blocks = pq.read_table(os.path.join(out, rec["file"]))
        for c in ("id", "name", "ts", "amount", "props"):
            assert st[f"{c}__enc_bytes"] == pc.sum(blocks.column(f"{c}__enc_bytes")).as_py()
