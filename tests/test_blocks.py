"""Block-level round-trip incl. nulls (F3) and stats correctness."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from aisle_spark.blocks import decode_block, encode_block, encode_column, decode_column
from aisle_spark.schema import TOKEN_SCHEMA, specs_for_schema, spec_for_field, synth_batch

SPECS = specs_for_schema(TOKEN_SCHEMA)


def test_token_block_roundtrip_bit_identical():
    batch = synth_batch(0, 4096)
    row = encode_block(SPECS, batch, part_id=0, block_id=0)
    out = decode_block(SPECS, row)
    assert out.num_rows == 4096
    orig = pa.Table.from_batches([batch])
    dec = pa.Table.from_batches([out])
    assert dec.equals(orig)  # token-array equality invariant, bit-identical


def test_block_stats_are_exact():
    batch = synth_batch(0, 2048)
    row = encode_block(SPECS, batch, 0, 0)
    nt = batch.column("n_tok").to_numpy()
    assert row["n_tok__min"] == nt.min()
    assert row["n_tok__max"] == nt.max()
    assert row["n_tok__nulls"] == 0
    flat = batch.column("tokens").flatten().to_numpy()
    assert row["tokens__elem_min"] == flat.min()
    assert row["tokens__elem_max"] == flat.max()
    srcs = set(batch.column("source").to_pylist())
    assert set(row["source__dict"]) == srcs
    assert row["source__min"] == min(srcs)
    assert row["source__max"] == max(srcs)
    # compression actually happened
    assert row["tokens__enc_bytes"] < row["tokens__raw_bytes"]
    assert row["source__enc_bytes"] < row["source__raw_bytes"] / 4


def test_projection_decodes_only_requested():
    batch = synth_batch(0, 1024)
    row = encode_block(SPECS, batch, 0, 0)
    out = decode_block(SPECS, row, columns=["n_tok", "source"])
    assert out.schema.names == ["n_tok", "source"]
    np.testing.assert_array_equal(
        out.column("n_tok").to_numpy(), batch.column("n_tok").to_numpy()
    )


@pytest.mark.parametrize(
    "arr,ddl",
    [
        (pa.array([1, None, 3, None, 5], type=pa.int64()), pa.int64()),
        (pa.array([None, None, None], type=pa.int32()), pa.int32()),
        (pa.array(["a", None, "ccc", ""], type=pa.string()), pa.string()),
        (pa.array([1.5, None, float("nan")], type=pa.float64()), pa.float64()),
        (pa.array([[1, 2], None, [], [3]], type=pa.list_(pa.int32())), pa.list_(pa.int32())),
        (pa.array([True, None, False], type=pa.bool_()), pa.bool_()),
        (
            pa.array([np.datetime64("2024-01-01T12:00:00", "us"), None], type=pa.timestamp("us")),
            pa.timestamp("us"),
        ),
        (
            pa.array(
                [__import__("datetime").date(2024, 3, 1), None,
                 __import__("datetime").date(1969, 12, 31)],
                type=pa.date32(),
            ),
            pa.date32(),
        ),
        (
            pa.array([-5, None, 200], type=pa.int16()),
            pa.int16(),
        ),
    ],
)
def test_nullable_column_roundtrip(arr, ddl):
    spec = spec_for_field(pa.field("c", ddl))
    enc = encode_column(spec, arr)
    out = decode_column(spec, enc["c__payload"])
    if pa.types.is_floating(ddl):  # arrow equals() treats NaN != NaN
        assert out.is_valid().equals(arr.is_valid())
        a = out.drop_null().to_numpy(zero_copy_only=False)
        b = arr.drop_null().to_numpy(zero_copy_only=False)
        np.testing.assert_array_equal(a.view(np.uint8), b.view(np.uint8))
    else:
        assert out.equals(arr.cast(spec.arrow_type))
    assert enc["c__nulls"] == arr.null_count


def test_all_null_block_stats_are_null():
    spec = spec_for_field(pa.field("c", pa.int64()))
    arr = pa.array([None, None], type=pa.int64())
    enc = encode_column(spec, arr)
    assert enc["c__min"] is None and enc["c__max"] is None
    assert enc["c__nulls"] == 2


def test_empty_block():
    batch = synth_batch(0, 4096).slice(0, 0)
    row = encode_block(SPECS, batch, 0, 0)
    out = decode_block(SPECS, row)
    assert out.num_rows == 0


def test_filtered_decode_matches_full():
    """RowFilter-inside-reader: decode_block_filtered(selective pred) must
    equal full decode + mask, incl. chunked token slicing and timestamps."""
    import datetime

    from aisle_spark.blocks import decode_block_filtered
    from aisle_spark.filterspec import col as C

    batch = synth_batch(0, 4096)
    row = encode_block(SPECS, batch, 0, 0)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    for spec in [
        C("n_tok") == int(batch.column("n_tok")[0].as_py()),
        (C("source") == "code") & (C("n_tok") > 50),
        C("doc_id").startswith("books-"),
        C("n_tok") > 10**9,  # empty
    ]:
        got = decode_block_filtered(SPECS, row, cols, spec)
        full = decode_block(SPECS, row, cols)
        from aisle_spark.rowmask import row_mask

        mask = row_mask(spec, full)
        exp = full.filter(pa.array(mask))
        assert got.num_rows == exp.num_rows
        assert pa.Table.from_batches([got]).sort_by([("doc_id", "ascending")]).equals(
            pa.Table.from_batches([exp]).sort_by([("doc_id", "ascending")])
        )


def test_rowmask_timestamp_tz_coercion():
    import datetime

    from aisle_spark.filterspec import col as C
    from aisle_spark.rowmask import row_mask

    arr = pa.array(
        [datetime.datetime(2024, 1, 5), datetime.datetime(2024, 2, 5)],
        type=pa.timestamp("us", tz="UTC"),
    )
    b = pa.RecordBatch.from_arrays([arr], names=["ts"])
    m = row_mask(C("ts").between(datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 31)), b)
    assert m.tolist() == [True, False]


def test_rowmask_long_vs_float_past_2_53():
    # Spark compares a long column with a double literal in double; the
    # long -> double cast rounds to nearest past 2**53 instead of raising
    from aisle_spark.filterspec import col as C
    from aisle_spark.rowmask import row_mask

    n = pa.array([2**53 + i for i in range(1, 5)], pa.int64())
    b = pa.RecordBatch.from_arrays([n], names=["n"])
    # doubles: 2**53 (ties to even), 2**53 + 2, 2**53 + 4 (tie), 2**53 + 4
    assert row_mask(C("n") == 9007199254740992.0, b).tolist() == [True, False, False, False]
    assert row_mask(C("n") > 9007199254740994.0, b).tolist() == [False, False, True, True]
