"""End-to-end encode -> prune -> decode through Spark (SURVEY.md §7.1 step 4:
the one-query slice that proves the architecture), plus F2 exact block-skip
assertions mirroring /root/reference/tests/prune_integration.rs:41-67."""

from __future__ import annotations

import pyarrow as pa
import pytest

from aisle_spark.blocks import encode_block
from aisle_spark.filterspec import col
from aisle_spark.pipeline import encode_table, read_encoded, scan, write_encoded
from aisle_spark.schema import (
    TOKEN_SCHEMA,
    blocks_spark_schema,
    specs_for_schema,
    synth_batch,
)

SPECS = specs_for_schema(TOKEN_SCHEMA)


def _two_block_manifest(spark):
    """F2: block 0 = n_tok 1..5 / web, block 1 = n_tok 10..14 / code."""
    rows = []
    for bid, (lo, src) in enumerate([(1, "web"), (10, "code")]):
        batch = pa.record_batch(
            {
                "doc_id": [f"{src}-{i:08d}" for i in range(lo, lo + 5)],
                "tokens": [[j] * (lo + i) for i, j in zip(range(5), range(5))],
                "n_tok": pa.array(range(lo, lo + 5), type=pa.int32()),
                "source": [src] * 5,
            },
            schema=TOKEN_SCHEMA,
        )
        rows.append(encode_block(SPECS, batch, part_id=0, block_id=bid))
    return spark.createDataFrame(rows, schema=blocks_spark_schema(SPECS))


def _kept(blocks, spec):
    return sorted(
        r.block_id for r in blocks.filter(spec.keep_blocks()).select("block_id").collect()
    )


class TestBlockSkipCounts:
    """Exact skip counts per predicate (assert_eq!(result.row_groups(), &[1])
    style, /root/reference/tests/prune_integration.rs:60-63)."""

    def test_gt_keeps_second_block(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("n_tok") > 9) == [1]

    def test_lt_keeps_first_block(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("n_tok") < 3) == [0]

    def test_eq_point(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("n_tok") == 12) == [1]
        assert _kept(blocks, col("n_tok") == 7) == []  # between the blocks

    def test_between_spanning(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("n_tok").between(4, 11)) == [0, 1]
        assert _kept(blocks, col("n_tok").between(6, 9)) == []

    def test_source_eq_dictionary_absence(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("source") == "code") == [1]
        assert _kept(blocks, col("source") == "wiki") == []

    def test_in_list(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("n_tok").isin(2, 11)) == [0, 1]
        assert _kept(blocks, col("source").isin("wiki", "forums")) == []
        assert _kept(blocks, col("source").isin("wiki", "web")) == [0]

    def test_startswith_prefix_range(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("doc_id").startswith("code-")) == [1]
        assert _kept(blocks, col("doc_id").startswith("zzz")) == []
        assert _kept(blocks, col("doc_id").startswith("")) == [0, 1]

    def test_and_or_not(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, (col("n_tok") > 9) & (col("source") == "code")) == [1]
        assert _kept(blocks, (col("n_tok") < 3) | (col("source") == "code")) == [0, 1]
        # NOT of a definitely-true pred prunes: no row satisfies n_tok >= 20
        assert _kept(blocks, ~(col("n_tok") < 20)) == []
        # NOT of Unknown keeps (block 1 spans 12), NOT of True prunes (block 0)
        assert _kept(blocks, ~(col("n_tok") < 12)) == [1]
        assert _kept(blocks, ~(col("source") == "web")) == [1]

    def test_ne(self, spark):
        blocks = _two_block_manifest(spark)
        # block 1 has n_tok 10..14, not all == 10 -> kept; block where ALL
        # values equal the literal would be pruned
        assert _kept(blocks, col("n_tok") != 10) == [0, 1]
        assert _kept(blocks, col("source") != "web") == [1]  # block 0 all-web pruned

    def test_is_null_semantics(self, spark):
        blocks = _two_block_manifest(spark)
        assert _kept(blocks, col("n_tok").is_null()) == []  # no nulls anywhere
        assert _kept(blocks, col("n_tok").is_not_null()) == [0, 1]


class TestUnknownKeeps:
    """F3: missing stats => Unknown => keep (the coalesce guard;
    /root/reference/tests/null_count_edge_cases.rs:524 analog)."""

    def _blocks_with_missing_stats(self, spark):
        blocks = _two_block_manifest(spark)
        from pyspark.sql import functions as F

        # null out block 0's n_tok stats entirely (stats-less writer)
        return blocks.withColumn(
            "n_tok__min",
            F.when(F.col("block_id") == 0, F.lit(None)).otherwise(F.col("n_tok__min")),
        ).withColumn(
            "n_tok__max",
            F.when(F.col("block_id") == 0, F.lit(None)).otherwise(F.col("n_tok__max")),
        ).withColumn(
            "n_tok__nulls",
            F.when(F.col("block_id") == 0, F.lit(None)).otherwise(F.col("n_tok__nulls")),
        )

    def test_missing_stats_always_kept(self, spark):
        blocks = self._blocks_with_missing_stats(spark)
        for spec in [
            col("n_tok") > 100,
            col("n_tok") == -5,
            col("n_tok").between(6, 9),
            col("n_tok").is_null(),
            ~(col("n_tok") > 0),
            col("n_tok").isin(999),
        ]:
            assert 0 in _kept(blocks, spec), f"wrongly pruned under {spec!r}"

    def test_not_of_unknown_keeps(self, spark):
        blocks = self._blocks_with_missing_stats(spark)
        assert _kept(blocks, ~(col("n_tok") == 999)) == [0, 1]


class TestEndToEnd:
    def test_roundtrip_bit_identical(self, spark):
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 3000)]))
        blocks = encode_table(df, parts=4, block_rows=512)
        out = scan(blocks, TOKEN_SCHEMA)
        a = out.orderBy("doc_id").toPandas()
        b = df.orderBy("doc_id").toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        assert a["n_tok"].tolist() == b["n_tok"].tolist()
        assert a["source"].tolist() == b["source"].tolist()
        for x, y in zip(a["tokens"], b["tokens"]):
            assert list(x) == list(y)  # token-array equality invariant

    def test_pruned_scan_matches_plain_filter(self, spark):
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 3000)]))
        blocks = encode_table(df, parts=4, block_rows=256, sort_cols=["source", "n_tok"]).cache()
        spec = (col("n_tok").between(5, 60)) & (col("source") == "code")
        got = scan(blocks, TOKEN_SCHEMA, where=spec).orderBy("doc_id").toPandas()
        exp = (
            df.filter((df.n_tok >= 5) & (df.n_tok <= 60) & (df.source == "code"))
            .orderBy("doc_id")
            .toPandas()
        )
        assert got["doc_id"].tolist() == exp["doc_id"].tolist()
        for x, y in zip(got["tokens"], exp["tokens"]):
            assert list(x) == list(y)
        # pruning actually skipped blocks
        total = blocks.count()
        kept = blocks.filter(spec.keep_blocks()).count()
        assert kept < total
        blocks.unpersist()

    def test_projection_pushdown_scan(self, spark):
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 1000)]))
        blocks = encode_table(df, parts=2)
        out = scan(blocks, TOKEN_SCHEMA, where=col("n_tok") > 10, columns=["doc_id", "n_tok"])
        assert out.columns == ["doc_id", "n_tok"]
        assert out.count() == df.filter("n_tok > 10").count()

    def test_write_read_encoded(self, spark, tmp_path):
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 1000)]))
        blocks = encode_table(df, parts=2)
        path = str(tmp_path / "enc")
        write_encoded(blocks, path, TOKEN_SCHEMA)
        blocks2, schema2 = read_encoded(spark, path)
        assert schema2.equals(TOKEN_SCHEMA)
        out = scan(blocks2, schema2, where=col("source") == "books")
        assert out.count() == df.filter("source = 'books'").count()


class TestDirectEncode:
    """encode_files_direct: tasks write their own block files."""

    def test_direct_roundtrip_and_prune(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from aisle_spark.pipeline import encode_files_direct

        src = tmp_path / "src"
        src.mkdir()
        for i in range(3):
            pq.write_table(
                pa.Table.from_batches([synth_batch(i * 1000, 1000)]),
                str(src / f"f{i}.parquet"),
            )
        out = str(tmp_path / "enc")
        encode_files_direct(
            spark, str(src), out, parts=8, sort_cols=["source", "n_tok"],
            block_rows=256,
        )
        blocks, schema = read_encoded(spark, out)
        blocks = blocks.cache()
        df = spark.read.parquet(str(src))
        out_rows = scan(blocks, schema).orderBy("doc_id").toPandas()
        exp = df.orderBy("doc_id").toPandas()
        assert out_rows["doc_id"].tolist() == exp["doc_id"].tolist()
        for x, y in zip(out_rows["tokens"], exp["tokens"]):
            assert list(x) == list(y)
        spec = (col("n_tok").between(5, 60)) & (col("source") == "code")
        got = scan(blocks, schema, where=spec).count()
        want = df.filter("n_tok between 5 and 60 and source = 'code'").count()
        assert got == want
        assert blocks.filter(spec.keep_blocks()).count() < blocks.count()
        # block ids unique
        assert blocks.select("block_id").distinct().count() == blocks.count()
        blocks.unpersist()


class TestKeepEqualsTri:
    """The pushdown-friendly structural keep() must agree with the
    coalesce-based tri-state reference implementation on every predicate
    shape, including missing-stats blocks."""

    SPECS_TO_CHECK = [
        col("n_tok") > 9,
        col("n_tok") < 3,
        col("n_tok") == 12,
        col("n_tok") != 10,
        col("n_tok").between(4, 11),
        col("n_tok").isin(2, 11),
        col("source") == "code",
        col("source").isin("wiki", "web"),
        col("source") != "web",
        col("doc_id").startswith("code-"),
        col("doc_id").startswith(""),
        col("n_tok").is_null(),
        col("n_tok").is_not_null(),
        ~(col("n_tok") < 12),
        ~(col("source") == "web"),
        ~((col("source") == "src0") | (col("n_tok") < 100)),
        (col("n_tok") > 9) & (col("source") == "code"),
        ~(col("n_tok") == 999),
        ~(col("n_tok").is_null()),
        ~(col("doc_id").startswith("web")),
    ]

    def test_keep_matches_not_f(self, spark):
        from pyspark.sql import functions as F

        blocks = _two_block_manifest(spark)
        # add a missing-stats variant of block 0
        damaged = blocks
        for c in ("n_tok__min", "n_tok__max", "n_tok__nulls"):
            damaged = damaged.withColumn(
                c, F.when(F.col("block_id") == 0, F.lit(None)).otherwise(F.col(c))
            )
        for frame in (blocks, damaged):
            for spec in self.SPECS_TO_CHECK:
                a = sorted(
                    r.block_id
                    for r in frame.filter(spec.keep_blocks()).select("block_id").collect()
                )
                b = sorted(
                    r.block_id
                    for r in frame.filter(~spec.tri().f).select("block_id").collect()
                )
                assert a == b, f"keep() != ~tri().f for {spec!r}: {a} vs {b}"


class TestPruneReport:
    def test_report_counts_match_filter(self, spark):
        import pyarrow as pa

        from aisle_spark.filterspec import col
        from aisle_spark.pipeline import encode_table, prune_report
        from aisle_spark.schema import synth_batch

        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(61, 2000)]))
        blocks = encode_table(
            df, parts=4, block_rows=128, sort_cols=["source", "n_tok"]
        ).cache()
        total = blocks.count()
        spec = (col("source") == "web") & (col("n_tok") > 100)
        rep = prune_report(blocks, spec)
        assert rep["blocks_total"] == total
        assert rep["kept_full"] == blocks.filter(spec.keep_blocks()).count()
        assert len(rep["per_conjunct"]) == 2
        assert rep["per_conjunct"][0]["sql"] == "source = 'web'"
        assert 0 < rep["kept_full"] <= min(c["kept"] for c in rep["per_conjunct"])
        assert 0 < rep["skip_ratio"] < 1
        rep2 = prune_report(blocks, "source = 'web' AND n_tok > 100")
        assert rep2["kept_full"] == rep["kept_full"]
        blocks.unpersist()


def test_scan_prune_options_toggle(spark):
    """PruneOptions plumb through scan: evidence off loses skipping but
    never changes results."""
    import pyarrow as pa

    from aisle_spark.filterspec import PruneOptions, col
    from aisle_spark.pipeline import encode_table, scan
    from aisle_spark.schema import TOKEN_SCHEMA, synth_batch

    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(95, 1500)]))
    blocks = encode_table(df, parts=4, block_rows=128, sort_cols=["source"]).cache()
    spec = col("source") == "web"
    on = sorted(r.doc_id for r in scan(blocks, TOKEN_SCHEMA, where=spec, columns=["doc_id"]).collect())
    off = sorted(
        r.doc_id
        for r in scan(
            blocks, TOKEN_SCHEMA, where=spec, columns=["doc_id"],
            opts=PruneOptions(use_dict=False, use_bloom=False),
        ).collect()
    )
    kept_on = blocks.filter(spec.keep_blocks()).count()
    kept_off = blocks.filter(
        spec.keep_blocks(PruneOptions(use_dict=False, use_bloom=False))
    ).count()
    assert on == off and on
    assert kept_on <= kept_off
    blocks.unpersist()
