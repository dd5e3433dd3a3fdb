"""One end-to-end table lifecycle exercising the interactions between
round-4 features that unit suites cover separately: batch writes with
typed file stats, delta-encoded snapshots, compaction, snapshot expiry,
vacuum, time travel, a rate-limited stream catching up across all of it,
and stats-only aggregates on the final state — every step checked
against the plain-DataFrame truth."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from aisle_spark.datasource import AisleStreamReader, register
from aisle_spark.pipeline import load_manifest

BASE = "/tmp/aisle_lifecycle_test"


@pytest.fixture()
def env(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    register(spark)
    yield os.path.join(BASE, "t")
    shutil.rmtree(BASE, ignore_errors=True)


def test_full_table_lifecycle(spark, env):
    out = env
    df = spark.range(4000).selectExpr(
        "id",
        "timestamp'2024-06-01' + make_dt_interval(0, 0, cast(id as int), 0) AS ts",
        "cast(id % 97 + 0.50 as decimal(10,2)) AS amt",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE cast(id % 7 as int) END AS g",
    )

    # 1) four time-clustered appends -> v1..v4, delta snapshots after v1
    for q in range(4):
        df.filter(f"id >= {q * 1000} AND id < {(q + 1) * 1000}").repartition(
            1
        ).write.format("aisle").option("sortCols", "ts").mode("append").save(out)
    snap_dir = os.path.join(out, "_aisle_snapshots")
    on_disk = {
        v: json.load(open(os.path.join(snap_dir, f"v{v:08d}.json")))
        for v in (1, 2, 3, 4)
    }
    assert "delta_base" not in on_disk[1]
    assert all("delta_base" in on_disk[v] for v in (2, 3, 4))

    # 2) a rate-limited stream starts reading mid-history
    r = AisleStreamReader(out, max_files_per_trigger=1)
    seen: list[str] = []
    cur = r.initialOffset()
    for _ in range(40):
        nxt = r.latestOffset()
        if nxt == cur:
            break
        seen += [p.path for p in r.partitions(cur, nxt)]
        r.commit(nxt)
        cur = nxt
    assert len(seen) == len(set(seen)) == 4  # whole backfill, one file per batch

    # 3) compaction (range-clustered) + a fifth append AFTER it
    from aisle_spark.maintenance import (
        compact_encoded,
        expire_snapshots,
        vacuum_encoded,
    )

    compact_encoded(spark, out, target_files=2, order_by="ts")
    extra = spark.range(4000, 4400).selectExpr(
        "id",
        "timestamp'2024-06-01' + make_dt_interval(0, 0, cast(id as int), 0) AS ts",
        "cast(id % 97 + 0.50 as decimal(10,2)) AS amt",
        "cast(id % 7 as int) AS g",
    )
    extra.repartition(1).write.format("aisle").mode("append").save(out)

    # stream catches up: compaction contributes nothing, the append does
    more: list[str] = []
    for _ in range(40):
        nxt = r.latestOffset()
        if nxt == cur:
            break
        more += [p.path for p in r.partitions(cur, nxt)]
        r.commit(nxt)
        cur = nxt
    assert len(more) == 1  # exactly the new append's file

    # 4) time travel still reaches the pre-compaction version
    v4 = spark.read.format("aisle").option("versionAsOf", "4").load(out)
    assert v4.count() == 4000

    # 5) retention + vacuum: expire old snapshots, collect orphans
    victims = expire_snapshots(out, keep_last=2)
    assert victims  # something was actually expired
    removed = vacuum_encoded(out, min_age_seconds=0)
    assert removed  # pre-compaction files became collectible
    current = spark.read.format("aisle").load(out)
    assert current.count() == 4400
    with pytest.raises(Exception):
        # expired version now fails loudly (never silently wrong)
        spark.read.format("aisle").option("versionAsOf", "1").load(out).count()

    # 6) stats-only aggregates on the final state match the truth
    from aisle_spark.filterspec import col
    from aisle_spark.pipeline import (
        read_encoded,
        scan_count,
        scan_min_max,
        scan_sum,
    )

    truth = df.unionAll(extra)
    blocks, schema = read_encoded(spark, out)
    blocks = blocks.cache()
    assert scan_count(blocks, schema).collect()[0].cnt == 4400
    import datetime as dt

    utc = dt.timezone.utc
    cut = dt.datetime(2024, 6, 3, tzinfo=utc)
    n = scan_count(blocks, schema, where=col("ts") >= cut).collect()[0].cnt
    assert n == truth.filter(F.col("ts") >= "2024-06-03").count()
    s = scan_sum(blocks, schema, "amt").collect()[0].total
    assert s == truth.agg(F.sum("amt")).collect()[0][0]
    mm = scan_min_max(blocks, schema, "amt").collect()[0]
    e = truth.agg(F.min("amt").alias("mn"), F.max("amt").alias("mx")).collect()[0]
    assert (mm.mn, mm.mx) == (e.mn, e.mx)
    blocks.unpersist()


def test_pointer_manifest_lifecycle(spark, env):
    """r5 interactions in one flow: the version-only manifest + incremental
    compaction + small-file partition packing + CLI aggregate + a stream
    over it all — each step checked against the plain-DataFrame truth."""
    from aisle_spark.cli import main as cli_main
    from aisle_spark.datasource import planned_files, AisleReader
    from aisle_spark.maintenance import (
        compact_encoded,
        expire_snapshots,
        vacuum_encoded,
    )

    out = env
    df = spark.range(6000).selectExpr(
        "id",
        "cast(id as int) AS n",
        "concat('s', id % 5) AS src",
        "cast(id % 89 + 0.25 as decimal(10,2)) AS amt",
    )
    # 1) six small appends (writer commits run in a Python worker)
    for q in range(6):
        part = df.filter(f"id >= {q * 1000} AND id < {(q + 1) * 1000}")
        part.repartition(1).write.format("aisle").option(
            "sortCols", "src,n"
        ).mode("append").save(out)
    assert len(load_manifest(None, out)["files"]) == 6

    # 2) small files pack into combined partitions; results exact
    parts = AisleReader(out).partitions()
    assert len(planned_files(parts)) == 6 and len(parts) < 6
    assert spark.read.format("aisle").load(out).count() == 6000
    got = (
        spark.read.format("aisle")
        .option("where", "src = 's2' AND n < 3000")
        .load(out)
        .count()
    )
    assert got == df.filter("src = 's2' AND n < 3000").count()

    # 3) incremental compaction through the CLI (public surface, runs
    # in-process): everything is tiny, so min-file-mb=64 rewrites all six
    cli_main([
        "compact", "--table", out, "--target-files", "2",
        "--min-file-mb", "64", "--order-by", "src",
    ])
    m = load_manifest(None, out)
    assert m["version"] == 7 and all(f.startswith("compact-") for f in m["files"])
    # a stream's newest offset is the compaction's version, which emits
    # no file: its rows were emitted by versions 1-6
    stream = AisleStreamReader(out)
    assert stream.latestOffset() == {"version": 7}
    assert planned_files(stream.partitions({"version": 6}, {"version": 7})) == []
    assert spark.read.format("aisle").load(out).count() == 6000

    # 4) CLI aggregate over the compacted table
    agg_out = os.path.join(BASE, "agg")
    cli_main([
        "aggregate", "--table", out, "--sum-by", "src:n",
        "--where", "n >= 1000", "--output", agg_out,
    ])
    got_sums = {
        r.src: r.total for r in spark.read.parquet(agg_out).collect()
    }
    exp_sums = {
        r.src: r.s
        for r in df.filter("n >= 1000")
        .groupBy("src")
        .agg(F.sum("n").alias("s"))
        .collect()
    }
    assert got_sums == exp_sums

    # 5) retention + vacuum keep the current version's chain intact
    expire_snapshots(out, keep_last=1)
    vacuum_encoded(out, min_age_seconds=0)
    assert spark.read.format("aisle").load(out).count() == 6000
    # scan_avg on the final state (exact sum/count division)
    import math

    from aisle_spark.pipeline import read_encoded, scan_avg

    blocks, schema = read_encoded(spark, out)
    a = scan_avg(blocks, schema, "n", where="src = 's1'").collect()[0].avg
    rows = [r.n for r in df.filter("src = 's1'").select("n").collect()]
    assert math.isclose(a, sum(rows) / len(rows), rel_tol=1e-9)
