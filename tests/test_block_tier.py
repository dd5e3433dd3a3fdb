"""Differential test of the numpy block tier: for randomized predicate
trees (the same generator the Catalyst soundness sweep uses) over one
encoded manifest, the DataSource planner's block tier
(``chunkstats.manifest_keep`` over the stat columns it reads) must select
exactly the block set ``filterspec.keep()`` selects through Catalyst."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aisle_spark.datasource import _file_rows, _manifest_of, plan_pruned
from aisle_spark.filterspec import DEFAULT_OPTIONS, PruneOptions, col, utc_normalize
from aisle_spark.pipeline import _read_sidecar_schema, arrow_schema_of, encode_table, write_encoded
from aisle_spark.schema import synth_batch

from tests.test_random_predicates import _rand_spec


@pytest.fixture(scope="module")
def manifest(spark, tmp_path_factory):
    """Encoded blocks both as a cached DataFrame (Catalyst side) and as a
    parquet directory (numpy side)."""
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(3, 3000)]))
    blocks = encode_table(
        df, parts=4, block_rows=256, sort_cols=["source", "n_tok"]
    ).cache()
    out = str(tmp_path_factory.mktemp("blocktier") / "enc")
    write_encoded(blocks, out, arrow_schema_of(df))
    return blocks, out


def _catalyst(blocks, spec) -> set:
    return {
        r.block_id
        for r in blocks.filter(spec.keep(DEFAULT_OPTIONS)).select("block_id").collect()
    }


def _numpy(out: str, spec) -> set:
    """block_ids of the manifest rows the planner's block tier keeps (no
    file stats given, so the file tier keeps every file)."""
    schema = _read_sidecar_schema(None, out)
    files, _ = _manifest_of(None, out, schema)
    kept = plan_pruned(None, schema, files, _file_rows(None, files, schema), utc_normalize(spec), ())
    return {
        b
        for f, rs, _bytes in kept
        for b in pq.read_table(f, columns=["block_id"])
        .column(0)
        .take(pa.array(rs, pa.int64()))
        .to_pylist()
    }


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_block_tier_matches_catalyst(spark, manifest, seed):
    blocks, out = manifest
    rng = random.Random(seed)
    for _ in range(20):
        spec = _rand_spec(rng)
        assert _numpy(out, spec) == _catalyst(blocks, spec), f"seed={seed} spec={spec!r}"


def test_block_tier_bloom_point_lookups(spark, manifest):
    """doc_id blocks carry bloom evidence (too many distinct values for a
    dictionary): a present id keeps its block; an absent id inside the
    blocks' [min, max] ranges is pruned by the bloom."""
    blocks, out = manifest
    present = synth_batch(3, 3000).column("doc_id")[1234].as_py()
    absent = present + "-x"  # sorts right after a written id, never written
    for spec in (
        col("doc_id") == present,
        col("doc_id") == absent,
        col("doc_id").isin(present, absent),
        col("doc_id").isin(absent),
        ~(col("doc_id") == absent),
    ):
        assert _numpy(out, spec) == _catalyst(blocks, spec), f"spec={spec!r}"
    assert _numpy(out, col("doc_id") == present)
    spec = col("doc_id") == absent
    ranges_only = {
        r.block_id
        for r in blocks.filter(spec.keep(PruneOptions(use_dict=False, use_bloom=False)))
        .select("block_id")
        .collect()
    }
    assert _numpy(out, spec) < ranges_only


def test_block_tier_typed_operands(spark, tmp_path):
    """Decimal, timestamp, date, duration, binary, map-key and nested
    struct leaves through both evaluators."""
    import datetime as dt
    import math
    from decimal import Decimal

    from pyspark.sql import types as T

    rows = []
    rng = random.Random(5)
    for i in range(2000):
        null = rng.random() < 0.06
        rows.append(
            (
                f"d{i:05d}",
                None if null else Decimal(rng.randrange(0, 100000)).scaleb(-2),
                None if null else dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                None if null else dt.date(2024, 1, 1) + dt.timedelta(days=i % 90),
                None if null else dt.timedelta(seconds=rng.randrange(0, 50000)),
                None if null else bytes([rng.randrange(65, 91) for _ in range(4)]),
                None if rng.random() < 0.1 else {"score": rng.randrange(100)},
                (rng.choice(["en", "de", "fr"]), f"s{i % 7}"),
            )
        )
    sch = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("d", T.DateType()),
            T.StructField("dur", T.DayTimeIntervalType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("lang", T.StringType()),
                        T.StructField("src", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame(rows, sch)
    blocks = encode_table(df, parts=2, block_rows=256, sort_cols=["id"]).cache()
    out = str(tmp_path / "enc")
    write_encoded(blocks, out, arrow_schema_of(df))

    specs = [
        col("price") > Decimal("333.33"),
        col("price").between(Decimal("100.00"), Decimal("200.00")),
        # float literals: Spark compares the decimal as a double
        col("price") > 333.25,
        col("price") < 100.10,
        col("price").between(99.995, 200.005),
        col("price").isin(1.5, 2.10),
        col("price") > math.inf,
        col("price") <= math.nan,
        col("ts") >= dt.datetime(2024, 1, 1, 12, 0),
        ~(col("ts") < dt.datetime(2024, 1, 1, 6, 30)),
        col("d") == dt.date(2024, 2, 1),
        col("dur") <= dt.timedelta(seconds=20000),
        col("blob") >= b"MA",
        col("id").startswith("d001"),
        col("id").like("d00%"),
        col("id").like("%7"),  # residual-only Like: keep everything
        col("m").map_key("score") > 50,
        col("m").map_key("nope") == 1,  # a key absent from every block
        col("meta.lang") == "en",
        (col("meta.lang") == "de") | (col("price") < Decimal("50.00")),
        col("price").is_null(),
        col("blob").is_not_null() & (col("d") != dt.date(2024, 1, 5)),
    ]
    for spec in specs:
        assert _numpy(out, spec) == _catalyst(blocks, spec), f"spec={spec!r}"
    # the absent key prunes every block whose key set is known
    assert len(_numpy(out, col("m").map_key("nope") == 1)) < blocks.count()


def test_block_tier_adversarial_strings(spark, tmp_path):
    """Values containing quotes/backslashes/unicode select the same blocks
    through both evaluators."""
    from pyspark.sql import types as T

    nasty = ["o'brien", "100%", "back\\slash", "émoji🙂", "''", "plain"]
    rows = [(i, nasty[i % len(nasty)]) for i in range(600)]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("id", T.LongType()), T.StructField("s", T.StringType())])
    )
    blocks = encode_table(df, parts=2, block_rows=64, sort_cols=["s"]).cache()
    out = str(tmp_path / "enc")
    write_encoded(blocks, out, arrow_schema_of(df))
    for v in nasty:
        for spec in (col("s") == v, col("s") != v, col("s").isin(v), col("s").startswith(v[:3])):
            assert _numpy(out, spec) == _catalyst(blocks, spec), f"{v!r} {spec!r}"
    blocks.unpersist()
