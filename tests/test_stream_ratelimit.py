"""Streaming source rate limiting: ``maxFilesPerTrigger`` bounds every
micro-batch (including the initial backfill — the batch that matters at
10^5-file scale) via sub-version offsets {"version", "pos"} / {"version": 0, "backfill_v", "pos"}.

Correctness contracts:
* exactly-once: the union of all batches equals the table, no file twice;
* the initial-load list is PINNED to the snapshot chosen by the first
  trigger (immutable => deterministic across retriggers and restarts);
* compaction mid-stream still contributes nothing;
* without the option, offsets and behavior are exactly the pre-r4 shape.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from aisle_spark.datasource import AisleStreamReader, register
from aisle_spark.schema import synth_batch
from tests.test_datasource import _stats

BASE = "/tmp/aisle_ratelimit_test"


@pytest.fixture()
def table(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    register(spark)
    out = os.path.join(BASE, "enc")
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(7, 1200)]))
    # 3 committed versions x 2 files each (repartition(2) per append)
    for i in range(3):
        df.filter(F.crc32(F.col("doc_id")) % 3 == i).repartition(2).write.format(
            "aisle"
        ).mode("append").save(out)
    yield df, out
    shutil.rmtree(BASE, ignore_errors=True)


def _drain(reader: AisleStreamReader) -> list[list[str]]:
    """Drive the reader's offset protocol like Spark's microbatch loop."""
    batches = []
    cur = reader.initialOffset()
    for _ in range(100):
        nxt = reader.latestOffset()
        if nxt == cur:
            break
        parts = reader.partitions(cur, nxt)
        batches.append(sorted(p.path for p in parts))
        reader.commit(nxt)
        cur = nxt
    else:
        raise AssertionError("offset protocol did not converge")
    return batches


class TestOffsetProtocol:
    def test_initial_backfill_is_capped_and_complete(self, table):
        import json

        _df, out = table
        m = json.load(open(os.path.join(out, "_aisle_files.json")))
        n_files = len(m["files"])
        assert n_files == 6
        r = AisleStreamReader(out, max_files_per_trigger=2)
        batches = _drain(r)
        assert all(len(b) <= 2 for b in batches)
        assert len(batches) == 3  # ceil(6 / 2)
        emitted = [f for b in batches for f in b]
        assert len(emitted) == len(set(emitted)) == n_files  # exactly once
        assert sorted(os.path.basename(f) for f in emitted) == m["files"]

    def test_uncapped_reader_single_batch_and_legacy_offsets(self, table):
        _df, out = table
        r = AisleStreamReader(out)
        cur = r.initialOffset()
        nxt = r.latestOffset()
        assert set(nxt) == {"version"}  # pre-r4 offset shape preserved
        parts = r.partitions(cur, nxt)
        assert len(parts) == 6
        assert r.latestOffset() == nxt  # stable: no phantom progress

    def test_post_backfill_appends_also_capped(self, spark, table):
        df, out = table
        r = AisleStreamReader(out, max_files_per_trigger=2)
        _drain(r)  # backfill done
        extra = df.limit(300).withColumn(
            "doc_id", F.concat(F.lit("x-"), F.col("doc_id"))
        )
        extra.repartition(3).write.format("aisle").mode("append").save(out)
        batches = _drain_from(r)
        assert all(len(b) <= 2 for b in batches)
        emitted = [f for b in batches for f in b]
        assert len(emitted) == len(set(emitted)) == 3

    def test_restart_mid_backfill_resumes_pinned_list(self, table):
        _df, out = table
        r1 = AisleStreamReader(out, max_files_per_trigger=2)
        cur = r1.initialOffset()
        first = r1.latestOffset()
        assert first == {"version": 0, "backfill_v": 3, "pos": 2}
        got1 = sorted(p.path for p in r1.partitions(cur, first))
        # "crash": a fresh reader resumes from the checkpointed offset
        r2 = AisleStreamReader(out, max_files_per_trigger=2)
        rest = r2.partitions(first, {"version": first["backfill_v"]})
        emitted = got1 + sorted(p.path for p in rest)
        assert len(emitted) == len(set(emitted)) == 6

    def test_compaction_between_batches_emits_nothing_new(self, spark, table):
        from aisle_spark.maintenance import compact_encoded

        _df, out = table
        r = AisleStreamReader(out, max_files_per_trigger=4)
        _drain(r)
        compact_encoded(spark, out, target_files=1)
        # the offset advances over the compaction version (as uncapped
        # offsets do) but not a single file is re-emitted
        assert all(b == [] for b in _drain_from(r))


def _drain_from(reader: AisleStreamReader) -> list[list[str]]:
    """Continue the microbatch loop from the reader's committed cursor."""
    batches = []
    cur = reader._cursor
    for _ in range(100):
        nxt = reader.latestOffset()
        if nxt == cur:
            break
        parts = reader.partitions(cur, nxt)
        batches.append(sorted(p.path for p in parts))
        reader.commit(nxt)
        cur = nxt
    else:
        raise AssertionError("offset protocol did not converge")
    return batches


class TestEndToEnd:
    def test_streaming_query_with_cap_reads_everything(self, spark, table):
        """Continuous microbatch triggers + cap: the whole table arrives
        across several bounded batches. (Trigger.AvailableNow snapshots
        latestOffset ONCE, so with a cap each availableNow RUN advances
        one bounded batch — documented caveat; the Python DataSource API
        has no admission-control hook for availableNow.)"""
        df, out = table
        sink = os.path.join(BASE, "sink")
        ckpt = os.path.join(BASE, "ckpt")
        q = (
            spark.readStream.format("aisle")
            .option("maxFilesPerTrigger", "2")
            .load(out)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(sink)
        assert got.count() == df.count()
        # multiple micro-batches actually ran (the cap engaged)
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3

    def test_available_now_advances_one_bounded_batch_per_run(self, spark, table):
        df, out = table
        sink = os.path.join(BASE, "sink_an")
        ckpt = os.path.join(BASE, "ckpt_an")

        def run_once():
            q = (
                spark.readStream.format("aisle")
                .option("maxFilesPerTrigger", "2")
                .load(out)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        counts = []
        for _ in range(4):
            run_once()
            counts.append(spark.read.parquet(sink).count())
        # strict forward progress per run, no duplicates, full table read
        assert counts == sorted(counts)
        assert counts[-1] == df.count()


class TestMaxBytesPerTrigger:
    def test_manifest_records_file_sizes(self, table):
        import json

        _df, out = table
        m = json.load(open(os.path.join(out, "_aisle_files.json")))
        for f in m["files"]:
            b = _stats(out)[f]["__bytes"]
            assert isinstance(b, int) and b > 0
            assert b == os.path.getsize(os.path.join(out, f))

    def test_byte_budget_bounds_batches(self, table):
        import json

        _df, out = table
        m = json.load(open(os.path.join(out, "_aisle_files.json")))
        sizes = {f: _stats(out)[f]["__bytes"] for f in m["files"]}
        avg = sum(sizes.values()) // len(sizes)
        # soft max at ~1.5 files: every batch stops after the file that
        # crosses the budget => at most 2 files per batch, >= 3 batches
        r = AisleStreamReader(out, max_bytes_per_trigger=int(avg * 1.5))
        batches = _drain(r)
        assert all(len(b) <= 2 for b in batches)
        assert len(batches) >= 3
        emitted = [f for b in batches for f in b]
        assert len(emitted) == len(set(emitted)) == len(sizes)

    def test_bytes_and_files_combine(self, table):
        _df, out = table
        r = AisleStreamReader(
            out, max_files_per_trigger=1, max_bytes_per_trigger=10**12
        )
        batches = _drain(r)
        assert all(len(b) == 1 for b in batches) and len(batches) == 6

    def test_oversized_file_still_progresses(self, table):
        _df, out = table
        r = AisleStreamReader(out, max_bytes_per_trigger=1)  # every file bigger
        batches = _drain(r)
        assert all(len(b) == 1 for b in batches) and len(batches) == 6

    def test_restart_with_latest_offset_first_never_regresses(self, table):
        """ADVICE r4 low: the fresh-vs-restart split rests on the
        observed runner call order (restart drives partitions() first).
        If a future Spark drives latestOffset FIRST on a restarted
        reader, the None cursor looks like a fresh stream and a
        mid-backfill checkpoint could receive a REGRESSED pos — that
        must now fail loudly as a protocol violation, never silently
        re-emit files."""
        import pytest as _pytest

        _df, out = table
        r1 = AisleStreamReader(out, max_files_per_trigger=4)
        cur = r1.initialOffset()
        ckpt = r1.latestOffset()  # 4 of 6 files into the pinned backfill
        assert ckpt == {"version": 0, "backfill_v": 3, "pos": 4}
        r1.partitions(cur, ckpt)
        # crash; hypothetical runner drives latestOffset FIRST on the
        # fresh reader (no cursor): it computes pos=4... but with a
        # smaller cap the computed end would order BEFORE the checkpoint
        r2 = AisleStreamReader(out, max_files_per_trigger=2)
        bad_end = r2.latestOffset()  # cursor None -> treated as fresh
        assert bad_end == {"version": 0, "backfill_v": 3, "pos": 2}
        with _pytest.raises(RuntimeError, match="protocol violation"):
            r2.partitions(ckpt, bad_end)

    def test_latest_offset_never_orders_before_cursor(self, table):
        """Belt-and-braces: a capped latestOffset anchored at a seeded
        cursor can never return an offset ordering before it."""
        _df, out = table
        r = AisleStreamReader(out, max_files_per_trigger=2)
        # restart protocol: partitions(checkpoint, checkpoint) seeds the
        # cursor before any latestOffset runs
        ckpt = {"version": 0, "backfill_v": 3, "pos": 4}
        r.partitions(ckpt, ckpt)
        nxt = r.latestOffset()
        assert AisleStreamReader._off_key(nxt) >= AisleStreamReader._off_key(ckpt)

    def test_compaction_recompute_records_sizes(self, spark, table):
        import json

        from aisle_spark.maintenance import compact_encoded

        _df, out = table
        compact_encoded(spark, out, target_files=2)
        m = json.load(open(os.path.join(out, "_aisle_files.json")))
        for f in m["files"]:
            assert _stats(out)[f]["__bytes"] == os.path.getsize(
                os.path.join(out, f)
            )
