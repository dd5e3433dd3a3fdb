"""Seeded randomized predicate soundness: for generated predicate trees of
every supported shape, the pruned+filtered engine scan must return exactly
the rows of a plain Spark filter — on one encoded table, in one Spark job
per batch (predicates are unioned via per-predicate counts)."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from aisle_spark.filterspec import And, Cmp, InList, IsNull, Not, Or, Spec, StartsWith, col
from aisle_spark.pipeline import encode_table, scan
from aisle_spark.schema import TOKEN_SCHEMA, synth_batch

SOURCES = ["web", "books", "code", "wiki", "forums", "nope"]


def _rand_leaf(rng: random.Random) -> Spec:
    kind = rng.randrange(8)
    if kind == 0:
        op = rng.choice(["eq", "ne", "lt", "le", "gt", "ge"])
        if rng.random() < 0.3:
            # TYPE-MISMATCHED literal: float (often non-integral) against
            # an int column — Spark promotes to double; every engine layer
            # must agree (ADVICE r2 high regression class)
            return Cmp("n_tok", op, rng.randrange(0, 400) / 2.0)
        return Cmp("n_tok", op, rng.randrange(0, 200))
    if kind == 1:
        return col("n_tok").between(rng.randrange(0, 50), rng.randrange(50, 300))
    if kind == 2:
        return Cmp("source", rng.choice(["eq", "ne"]), rng.choice(SOURCES))
    if kind == 3:
        return col("source").isin(*rng.sample(SOURCES, rng.randrange(1, 4)))
    if kind == 4:
        return col("doc_id").startswith(rng.choice(["web-", "c", "books-0", "zzz", ""]))
    if kind == 5:
        # list-element exists (one-sided tri) — incl. out-of-vocab values
        return col("tokens").contains(
            rng.choice([7, 19, 4242, 9001, 77777, 123, 999_999])
        )
    if kind == 6:
        return col("tokens").size_cmp(
            rng.choice(["eq", "ne", "lt", "le", "gt", "ge"]), rng.randrange(0, 300)
        )
    return col("n_tok").is_not_null() if rng.random() < 0.5 else col("n_tok").is_null()


def _rand_spec(rng: random.Random, depth: int = 2) -> Spec:
    if depth == 0 or rng.random() < 0.35:
        return _rand_leaf(rng)
    k = rng.randrange(3)
    if k == 0:
        return And([_rand_spec(rng, depth - 1), _rand_spec(rng, depth - 1)])
    if k == 1:
        return Or([_rand_spec(rng, depth - 1), _rand_spec(rng, depth - 1)])
    return Not(_rand_spec(rng, depth - 1))


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_random_predicates_sound(spark, seed):
    rng = random.Random(seed)
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(0, 2500)])).cache()
    blocks = encode_table(df, parts=4, block_rows=256, sort_cols=["source", "n_tok"]).cache()
    blocks.count()
    for _ in range(10):
        spec = _rand_spec(rng)
        got = scan(blocks, TOKEN_SCHEMA, where=spec, columns=["doc_id"])
        exp = df.filter(spec.residual()).select("doc_id")
        g = {r.doc_id for r in got.collect()}
        e = {r.doc_id for r in exp.collect()}
        assert g == e, f"seed={seed} mismatch for {spec!r}: extra={g - e} missing={e - g}"
    blocks.unpersist()
    df.unpersist()


# ---------------------------------------------------------------------------
# same sweep over the round-2 operand types: decimal, binary, duration,
# nested struct leaves — block AND chunk pruning must never drop a row
# ---------------------------------------------------------------------------


def _typed_df(spark):
    import datetime as dt
    import random as _r
    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rng = _r.Random(7)
    rows = []
    for i in range(2500):
        null = rng.random() < 0.05
        rows.append(
            (
                f"d{i:05d}",
                None if null else Decimal(rng.randrange(0, 100000)).scaleb(-2),
                None if null else dt.timedelta(seconds=rng.randrange(0, 100000)),
                None if null else bytes([rng.randrange(65, 91) for _ in range(4)]),
                None
                if rng.random() < 0.08
                else {"lang": rng.choice(["en", "de", "fr"]), "score": rng.randrange(100)},
                None if null else dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(60)),
                None
                if rng.random() < 0.1
                else {"k": rng.randrange(100), rng.choice(["en", "de"]): rng.randrange(50)},
            )
        )
    sch = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField("dur", T.DayTimeIntervalType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("lang", T.StringType()),
                        T.StructField("score", T.LongType()),
                    ]
                ),
            ),
            T.StructField("day", T.DateType()),
            T.StructField("props", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    return spark.createDataFrame(rows, sch)


def _rand_typed_leaf(rng: random.Random) -> Spec:
    import datetime as dt
    from decimal import Decimal

    kind = rng.randrange(8)
    ops = ["eq", "ne", "lt", "le", "gt", "ge"]
    if kind == 5:
        # date column; half the time a MISMATCHED datetime literal (the
        # days-vs-us domain split that must stay Unknown in chunk stats)
        base = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(70))
        v = (
            dt.datetime(base.year, base.month, base.day, rng.randrange(24))
            if rng.random() < 0.5
            else base
        )
        return Cmp("day", rng.choice(ops), v)
    if kind == 6:
        return col("props").map_key(rng.choice(["k", "en", "de", "zz"])).__gt__(
            rng.randrange(0, 110)
        )
    if kind == 7:
        # non-integral float against the DECIMAL column (promotes to double)
        return Cmp("price", rng.choice(ops), rng.randrange(0, 200000) / 2.0 + 0.25)
    if kind == 0:
        return Cmp("price", rng.choice(ops), Decimal(rng.randrange(0, 100000)).scaleb(-2))
    if kind == 1:
        return Cmp("dur", rng.choice(ops), dt.timedelta(seconds=rng.randrange(0, 100000)))
    if kind == 2:
        return Cmp("blob", rng.choice(ops), bytes([rng.randrange(65, 91) for _ in range(4)]))
    if kind == 3:
        return Cmp("meta.lang", rng.choice(["eq", "ne"]), rng.choice(["en", "de", "fr", "xx"]))
    return Cmp("meta.score", rng.choice(ops), rng.randrange(0, 110))


def _rand_typed_spec(rng: random.Random, depth: int = 2) -> Spec:
    if depth == 0 or rng.random() < 0.4:
        return _rand_typed_leaf(rng)
    k = rng.randrange(3)
    if k == 0:
        return And([_rand_typed_spec(rng, depth - 1), _rand_typed_spec(rng, depth - 1)])
    if k == 1:
        return Or([_rand_typed_spec(rng, depth - 1), _rand_typed_spec(rng, depth - 1)])
    return Not(_rand_typed_spec(rng, depth - 1))


@pytest.mark.parametrize("seed", [11, 12])
def test_random_predicates_sound_typed(spark, seed):
    from aisle_spark.pipeline import arrow_schema_of, scan_count

    rng = random.Random(seed)
    df = _typed_df(spark).cache()
    schema = arrow_schema_of(df)
    blocks = encode_table(
        df, parts=4, block_rows=256, sort_cols=["meta.lang", "price"]
    ).cache()
    blocks.count()
    for _ in range(8):
        spec = _rand_typed_spec(rng)
        got = scan(blocks, schema, where=spec, columns=["id"])
        exp = df.filter(spec.residual()).select("id")
        g = {r.id for r in got.collect()}
        e = {r.id for r in exp.collect()}
        assert g == e, f"seed={seed} mismatch for {spec!r}: extra={g - e} missing={e - g}"
        cnt = scan_count(blocks, schema, where=spec).collect()[0].cnt
        assert cnt == len(e), f"seed={seed} scan_count {cnt} != {len(e)} for {spec!r}"
    blocks.unpersist()
    df.unpersist()
