"""Per-chunk (page-index analog) stats + in-reader chunk skipping.

Mirrors the reference's page-level assertions (exact page counts in
/root/reference/tests/prune_integration.rs:70 and the page selection
algebra of src/prune/page.rs / src/prune/eval.rs) at our ROW_CHUNK
granularity: exact keep counts, never a wrong skip, and a definitely-
false block decodes ZERO payload bytes.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest

from aisle_spark.blocks import decode_block_filtered, encode_block
from aisle_spark.chunkstats import ROW_CHUNK, chunk_keep, n_chunks
from aisle_spark.filterspec import col, utc_normalize
from aisle_spark.schema import specs_for_schema

N = 4096  # one full block, 8 chunks


def _block(values: dict[str, pa.Array]) -> tuple[list, dict]:
    schema = pa.schema([pa.field(k, v.type) for k, v in values.items()])
    specs = specs_for_schema(schema)
    batch = pa.Table.from_arrays(list(values.values()), schema=schema)
    return specs, encode_block(specs, batch, 0, 0)


def _kinds(specs):
    return {s.name: s for s in specs}


class TestExactChunkCounts:
    def test_sorted_int_point_hits_one_chunk(self):
        specs, row = _block({"x": pa.array(np.arange(N, dtype=np.int64))})
        keep = chunk_keep(col("x") == 1000, row, _kinds(specs), N)
        assert keep.sum() == 1 and keep[1000 // ROW_CHUNK]

    def test_sorted_int_range_hits_exact_chunks(self):
        specs, row = _block({"x": pa.array(np.arange(N, dtype=np.int64))})
        keep = chunk_keep(col("x").between(600, 1600), row, _kinds(specs), N)
        # rows 600..1600 live in chunks 1..3 (512-row chunks)
        assert list(np.flatnonzero(keep)) == [1, 2, 3]

    def test_value_in_gap_keeps_nothing(self):
        # chunk i holds only value i*10 => 55 falls between chunk stats
        v = np.repeat(np.arange(8, dtype=np.int64) * 10, ROW_CHUNK)
        specs, row = _block({"x": pa.array(v)})
        assert chunk_keep(col("x") == 55, row, _kinds(specs), N).sum() == 0
        assert chunk_keep(col("x") == 50, row, _kinds(specs), N).sum() == 1

    def test_string_prefix_chunks(self):
        v = pa.array([f"{chr(97 + i // ROW_CHUNK)}-{i:05d}" for i in range(N)])
        specs, row = _block({"s": v})
        keep = chunk_keep(col("s").startswith("c-"), row, _kinds(specs), N)
        assert list(np.flatnonzero(keep)) == [2]

    def test_timestamp_range(self):
        base = dt.datetime(2024, 1, 1)
        v = pa.array(
            [base + dt.timedelta(minutes=i) for i in range(N)],
            type=pa.timestamp("us", tz="UTC"),
        )
        specs, row = _block({"ts": v})
        spec = utc_normalize(
            col("ts").between(
                base + dt.timedelta(minutes=1024), base + dt.timedelta(minutes=1535)
            )
        )
        keep = chunk_keep(spec, row, _kinds(specs), N)
        assert list(np.flatnonzero(keep)) == [2]


class TestSoundness:
    def test_never_wrong_skip_random(self):
        rng = np.random.default_rng(3)
        v = rng.integers(0, 500, N)
        specs, row = _block({"x": pa.array(v, type=pa.int64())})
        kinds = _kinds(specs)
        for op, val in [("eq", 250), ("lt", 5), ("gt", 490), ("ne", 250)]:
            spec = {"eq": col("x") == val, "lt": col("x") < val,
                    "gt": col("x") > val, "ne": col("x") != val}[op]
            keep = chunk_keep(spec, row, kinds, N)
            ref = {"eq": v == val, "lt": v < val, "gt": v > val, "ne": v != val}[op]
            for i in range(n_chunks(N)):
                rows = ref[i * ROW_CHUNK : (i + 1) * ROW_CHUNK]
                if rows.any():
                    assert keep[i], f"wrong chunk skip: {op} {val} chunk {i}"

    def test_nan_chunks_never_skipped_for_gt(self):
        v = np.zeros(N, dtype=np.float64)
        v[: ROW_CHUNK] = np.nan  # chunk 0 all-NaN
        specs, row = _block({"f": pa.array(v)})
        # Spark: NaN > 1e9 is TRUE — chunk 0 must stay
        keep = chunk_keep(col("f") > 1e9, row, _kinds(specs), N)
        assert keep[0] and keep.sum() == 1

    def test_null_chunks_and_is_null(self):
        v = pa.array(
            [None] * ROW_CHUNK + list(range(N - ROW_CHUNK)), type=pa.int64()
        )
        specs, row = _block({"x": v})
        kinds = _kinds(specs)
        # IS NULL keeps only the all-null chunk
        keep = chunk_keep(col("x").is_null(), row, kinds, N)
        assert keep[0] and keep.sum() == 1
        # x = 5 cannot match in the all-null chunk
        keep = chunk_keep(col("x") == 5, row, kinds, N)
        assert not keep[0]

    def test_not_duality(self):
        v = np.repeat(np.arange(8, dtype=np.int64) * 10, ROW_CHUNK)
        specs, row = _block({"x": pa.array(v)})
        kinds = _kinds(specs)
        # NOT(x < 40): chunks 0..3 (values 0..30) are definitely-false
        keep = chunk_keep(~(col("x") < 40), row, kinds, N)
        assert list(np.flatnonzero(keep)) == [4, 5, 6, 7]


class TestReaderIntegration:
    def test_definitely_false_block_decodes_zero_payload_bytes(self):
        """Chunk stats reject => the expensive column's payload is never
        read: garbage bytes there would raise if decode were attempted."""
        specs, row = _block(
            {
                "x": pa.array(np.repeat(np.arange(8, dtype=np.int64) * 10, ROW_CHUNK)),
                "tokens": pa.array(
                    [[1, 2, 3]] * N, type=pa.list_(pa.int32())
                ),
            }
        )
        row = dict(row)
        row["tokens__payload"] = b"\x00\x04garbage-not-a-payload"
        out = decode_block_filtered(
            specs, row, ["x", "tokens"], col("x") == 55
        )
        assert out.num_rows == 0
        # sanity: a matching predicate DOES decode (and raises on garbage)
        with pytest.raises(Exception):
            decode_block_filtered(specs, row, ["x", "tokens"], col("x") == 50)

    def test_filtered_equals_residual_with_chunks(self):
        rng = np.random.default_rng(11)
        x = np.sort(rng.integers(0, 10_000, N))
        toks = pa.array([[int(i), int(i) + 1] for i in x], type=pa.list_(pa.int32()))
        specs, row = _block({"x": pa.array(x), "tokens": toks})
        spec = col("x").between(2500, 2600)
        out = decode_block_filtered(specs, row, ["x", "tokens"], spec)
        ref = (x >= 2500) & (x <= 2600)
        assert out.num_rows == int(ref.sum())
        assert out.column("x").to_pylist() == x[ref].tolist()


class TestLongValueStatBounds:
    """String/binary stats are BOUNDS capped at STAT_TRUNC bytes — a long
    document is never copied into the manifest, and pruning stays sound
    (the reference's truncated-stats ordering discipline,
    /root/reference/src/prune/stats.rs:30-69, from the writer's side)."""

    def test_stats_are_capped_and_sound(self):
        from aisle_spark.filterspec import STAT_TRUNC

        vals = [("p" * 100) + f"{i:05d}" + ("x" * 200) for i in range(N)]
        specs, row = _block({"s": pa.array(vals)})
        assert len(row["s__min"]) <= STAT_TRUNC
        assert len(row["s__max"]) <= STAT_TRUNC + 1
        assert row["s__min"] <= min(vals)
        assert row["s__max"] > max(vals)
        for cm in row["s__chunk_max"]:
            assert cm is None or len(cm) <= STAT_TRUNC + 1

    def test_truncation_overflow_keeps_block(self):
        from aisle_spark.filterspec import col, truncate_stat_max

        assert truncate_stat_max("\U0010ffff" * 100) is None
        assert truncate_stat_max(b"\xff" * 100) is None
        vals = ["\U0010ffff" * 100] * N
        specs, row = _block({"s": pa.array(vals)})
        assert row["s__max"] is None  # Unknown
        keep = chunk_keep(col("s") == "\U0010ffff" * 100, row, _kinds(specs), N)
        assert keep.all()  # Unknown => keep, never a wrong skip

    def test_long_string_scan_soundness(self, spark):
        from pyspark.sql import functions as F

        from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

        rows = [(i, ("common-prefix-" * 8) + f"{i % 7}-{i:06d}" + ("z" * 120))
                for i in range(3000)]
        df = spark.createDataFrame(rows, "id long, s string")
        schema = arrow_schema_of(df)
        blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["s"]).cache()
        target = rows[1234][1]
        for spec, ref in [
            (col("s") == target, F.col("s") == target),
            (col("s") < target, F.col("s") < target),
            (col("s").startswith("common-prefix-" * 8 + "3"),
             F.col("s").startswith("common-prefix-" * 8 + "3")),
        ]:
            got = {r.id for r in scan(blocks, schema, where=spec, columns=["id"]).collect()}
            exp = {r.id for r in df.filter(ref).select("id").collect()}
            assert got == exp, f"{spec!r}"
        blocks.unpersist()


class TestLiteralDomainGuard:
    """ADVICE r2 high: type-mismatched predicate literals must make the
    chunk layer Unknown (keep), never a truncated wrong definitely-false —
    and the full scan must still return the exact rows."""

    def test_nonintegral_float_on_int_column_keeps(self):
        specs, row = _block({"x": pa.array(np.full(N, 3, dtype=np.int64))})
        keep = chunk_keep(col("x") < 3.5, row, _kinds(specs), N)
        assert keep.all()  # int(3.5)=3 would have skipped every chunk

    def test_nonintegral_float_on_int_column_prunes_as_double(self):
        # Spark promotes the int side to double; the chunk tier does too
        specs, row = _block({"x": pa.array(np.arange(N, dtype=np.int64))})
        keep = chunk_keep(col("x") < 1000.5, row, _kinds(specs), N)
        assert list(np.flatnonzero(keep)) == [0, 1]
        assert not chunk_keep(col("x") > N - 0.5, row, _kinds(specs), N).any()

    def test_integral_float_on_int_column_is_exact(self):
        specs, row = _block({"x": pa.array(np.arange(N, dtype=np.int64))})
        keep = chunk_keep(col("x") == 1000.0, row, _kinds(specs), N)
        assert keep.sum() == 1 and keep[1000 // ROW_CHUNK]

    def test_datetime_literal_on_date32_column_keeps(self):
        v = pa.array([dt.date(2024, 1, 1 + i % 28) for i in range(N)])
        specs, row = _block({"d": v})
        # date32 stats are DAYS; a µs conversion would skip everything
        keep = chunk_keep(col("d") > dt.datetime(1980, 1, 1), row, _kinds(specs), N)
        assert keep.all()

    def test_date_literal_on_date32_column_prunes_exactly(self):
        v = pa.array(
            [dt.date(2024, 1, 1) + dt.timedelta(days=i // ROW_CHUNK) for i in range(N)]
        )
        specs, row = _block({"d": v})
        keep = chunk_keep(col("d") == dt.date(2024, 1, 3), row, _kinds(specs), N)
        assert list(np.flatnonzero(keep)) == [2]

    def test_timedelta_on_int_column_keeps(self):
        specs, row = _block({"x": pa.array(np.arange(N, dtype=np.int64))})
        keep = chunk_keep(col("x") < dt.timedelta(seconds=1), row, _kinds(specs), N)
        assert keep.all()

    def test_scan_float_literal_on_int_column_end_to_end(self, spark):
        from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

        df = spark.createDataFrame([(i, 3) for i in range(1000)], "id long, x long")
        schema = arrow_schema_of(df)
        blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["x"]).cache()
        assert scan(blocks, schema, where=col("x") < 3.5, columns=["id"]).count() == 1000
        assert scan(blocks, schema, where=col("x") > 3.5, columns=["id"]).count() == 0
        assert scan(blocks, schema, where=col("x") <= 3.0, columns=["id"]).count() == 1000
        blocks.unpersist()

    def test_scan_datetime_literal_on_date_column_end_to_end(self, spark):
        rows = [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 30)) for i in range(1000)]
        from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

        df = spark.createDataFrame(rows, "id long, d date")
        schema = arrow_schema_of(df)
        blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["d"]).cache()
        got = scan(
            blocks, schema, where=col("d") > dt.datetime(1980, 1, 1), columns=["id"]
        ).count()
        assert got == 1000
        blocks.unpersist()
