"""Compaction + vacuum: many small committed files -> few large ones,
atomically, without decoding payloads; unreferenced files deleted."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from aisle_spark.datasource import register
from aisle_spark.maintenance import compact_encoded, vacuum_encoded
from aisle_spark.schema import synth_batch


@pytest.fixture()
def small_files_table(spark, tmp_path):
    """Five separate appends -> >=5 committed files."""
    from pyspark.sql import functions as F

    register(spark)
    out = str(tmp_path / "t")
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(41, 1500)]))
    for i in range(5):
        part = df.filter(F.crc32(F.col("doc_id")) % 5 == i).repartition(1)
        part.write.format("aisle").option("sortCols", "source").option(
            "blockRows", "64"
        ).mode("append").save(out)
    return df, out


def _manifest(out):
    from aisle_spark.pipeline import load_manifest

    return load_manifest(None, out)


def _commit_batch(out, batch_id, files):
    """What the streaming sink commits for micro-batch ``batch_id``."""
    from aisle_spark.pipeline import _read_sidecar_schema, commit

    return commit(None, out, _read_sidecar_schema(None, out), files, batch=batch_id)


class TestCompact:
    def test_compact_preserves_rows_and_prunes_files(self, spark, small_files_table):
        df, out = small_files_table
        before = _manifest(out)["files"]
        assert len(before) >= 5
        summary = compact_encoded(spark, out, target_files=2)
        assert summary["files_before"] == len(before)
        after = _manifest(out)["files"]
        assert len(after) == 2 and all(f.startswith("compact-") for f in after)
        got = spark.read.format("aisle").load(out)
        assert got.count() == df.count()
        g = sorted(r.doc_id for r in got.collect())
        e = sorted(r.doc_id for r in df.collect())
        assert g == e

    def test_compact_then_filtered_scan_exact(self, spark, small_files_table):
        from pyspark.sql import functions as F

        df, out = small_files_table
        compact_encoded(spark, out, target_files=3, order_by="source")
        got = (
            spark.read.format("aisle").load(out).filter(F.col("source") == "books")
        )
        assert got.count() == df.filter("source = 'books'").count() > 0

    def test_order_by_concentrates_ranges(self, spark, small_files_table):
        """Range partitioning on source__min: a source-equality scan must
        plan fewer files than exist."""
        from aisle_spark.datasource import AisleReader
        from pyspark.sql.datasource import EqualTo

        _df, out = small_files_table
        compact_encoded(spark, out, target_files=3, order_by="source")
        from aisle_spark.datasource import planned_files

        r = AisleReader(out)
        r.pushFilters([EqualTo(("source",), "web")])
        touched = set(planned_files(r.partitions()))
        assert 0 < len(touched) < 3

    def test_library_read_encoded_still_works(self, spark, small_files_table):
        from aisle_spark.pipeline import read_encoded, scan

        df, out = small_files_table
        compact_encoded(spark, out, target_files=2)
        blocks, schema = read_encoded(spark, out)
        got = scan(blocks, schema, where="n_tok > 50", columns=["doc_id"])
        assert got.count() == df.filter("n_tok > 50").count()


class TestVacuum:
    def test_vacuum_removes_only_unreferenced(self, spark, small_files_table):
        from aisle_spark.maintenance import expire_snapshots

        df, out = small_files_table
        old_files = _manifest(out)["files"]
        compact_encoded(spark, out, target_files=2)
        expire_snapshots(out, keep_last=1)  # release historical references
        victims = vacuum_encoded(out, dry_run=True, min_age_seconds=0)
        assert set(victims) == set(old_files)
        removed = vacuum_encoded(out, min_age_seconds=0)
        assert set(removed) == set(old_files)
        for f in old_files:
            assert not os.path.exists(os.path.join(out, f))
        got = spark.read.format("aisle").load(out)
        assert got.count() == df.count()

    def test_vacuum_noop_on_clean_table(self, spark, small_files_table):
        _df, out = small_files_table
        assert vacuum_encoded(out, dry_run=True, min_age_seconds=0) == []


def test_compact_file_uri(spark, tmp_path):
    register(spark)
    out = "file://" + str(tmp_path / "u")
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(42, 800)]))
    for _ in range(3):
        df.limit(200).write.format("aisle").mode("append").save(out)
    summary = compact_encoded(spark, out, target_files=1)
    assert summary["files_after"] == 1
    assert spark.read.format("aisle").load(out).count() == 600
    vacuum_encoded(out, min_age_seconds=0)
    assert spark.read.format("aisle").load(out).count() == 600


def test_compact_multi_column_order(spark, small_files_table):
    df, out = small_files_table
    summary = compact_encoded(spark, out, target_files=2, order_by="source,n_tok")
    assert summary["files_after"] <= 2
    got = spark.read.format("aisle").load(out)
    assert got.count() == df.count()


def test_manifest_lock_serializes_read_modify_write(tmp_path):
    """Concurrent local committers under manifest_lock never lose
    updates (the append-vs-append / append-vs-compact race)."""
    import threading

    from aisle_spark.pipeline import _fs_read_json, _fs_write_json, manifest_lock

    root = str(tmp_path)
    target = f"{root}/_aisle_files.json"
    _fs_write_json(None, target, {"n": 0})

    def bump():
        for _ in range(25):
            with manifest_lock(None, root):
                m = _fs_read_json(None, target)
                m["n"] += 1
                _fs_write_json(None, target, m)

    threads = [threading.Thread(target=bump) for _ in range(8)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert _fs_read_json(None, target)["n"] == 200


def test_vacuum_grace_protects_fresh_files(spark, small_files_table):
    """Default grace window: files younger than min_age are never deleted
    (they may belong to an in-flight, not-yet-committed writer)."""
    from aisle_spark.maintenance import expire_snapshots

    _df, out = small_files_table
    old_files = _manifest(out)["files"]
    compact_encoded(spark, out, target_files=2)
    expire_snapshots(out, keep_last=1)
    assert vacuum_encoded(out, dry_run=True) == []  # all fresh: protected
    assert set(vacuum_encoded(out, dry_run=True, min_age_seconds=0)) == set(old_files)


class TestTimeTravel:
    def test_version_as_of_reads_history(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "tt")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(51, 900)]))
        df.limit(300).write.format("aisle").mode("append").save(out)   # v1
        df.write.format("aisle").mode("overwrite").save(out)           # v2
        from aisle_spark.maintenance import compact_encoded, snapshots

        compact_encoded(spark, out, target_files=1)                    # v3
        versions = [s["version"] for s in snapshots(out)]
        assert versions == [1, 2, 3]
        v1 = spark.read.format("aisle").option("versionAsOf", "1").load(out)
        v2 = spark.read.format("aisle").option("versionAsOf", "2").load(out)
        cur = spark.read.format("aisle").load(out)
        assert v1.count() == 300
        assert v2.count() == cur.count() == df.count()
        # pushdown still applies on a pinned version
        assert (
            v2.filter(F.col("source") == "web").count()
            == df.filter("source = 'web'").count()
        )

    def test_vacuum_respects_snapshots_until_expired(self, spark, tmp_path):
        register(spark)
        out = str(tmp_path / "tt2")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(52, 600)]))
        df.write.format("aisle").mode("append").save(out)              # v1
        from aisle_spark.maintenance import (
            compact_encoded,
            expire_snapshots,
            vacuum_encoded,
        )

        old_files = _manifest(out)["files"]
        compact_encoded(spark, out, target_files=1)                    # v2
        # v1 still references the old files: vacuum must keep them
        assert vacuum_encoded(out, dry_run=True, min_age_seconds=0) == []
        v1 = spark.read.format("aisle").option("versionAsOf", "1").load(out)
        assert v1.count() == df.count()
        expired = expire_snapshots(out, keep_last=1)
        assert expired == [1]
        removed = vacuum_encoded(out, min_age_seconds=0)
        assert set(removed) == set(old_files)
        assert spark.read.format("aisle").load(out).count() == df.count()


class TestDeltaSnapshots:
    """Snapshot growth discipline (VERDICT r3 next #7): commits persist
    O(changed files) snapshot bytes, not O(table files); every chain
    replays to exactly the full payload; retention never strands a delta
    without its base."""

    def _commit_states(self, root: str, n_versions: int) -> dict[int, dict]:
        from aisle_spark.pipeline import publish_manifest

        # realistic-size file names so delta wins over full
        files: list[str] = [f"part-{i:04d}-{'a' * 24}.parquet" for i in range(200)]
        states = {}
        for v in range(1, n_versions + 1):
            if v == 1:
                cur = list(files)
            elif v == 20:  # compaction-like rewrite: nearly everything changes
                cur = [f"compact-xyz/{i:04d}.parquet" for i in range(10)]
            else:
                cur = sorted(set(states[v - 1]["files"]) | {
                    f"part-new{v:04d}-{'b' * 24}.parquet"
                })
            # a commit hands over the rows of the files it wrote; the
            # survivors' rows are immutable (like real blocks)
            new = sorted(set(cur) - set(states[v - 1]["files"] if v > 1 else ()))
            stats = pa.table({"file": new, "n_rows": [len(f) for f in new]})
            payload = {"files": cur}
            if v % 3 == 0:  # streaming-style extras ride along
                payload["batches"] = {str(v): cur[-1:]}
            got = publish_manifest(None, root, payload, stats)
            assert got == v
            states[v] = {
                **payload,
                "files": sorted(cur),
                "stats": [{"file": f, "n_rows": len(f)} for f in sorted(cur)],
            }
        return states

    @staticmethod
    def _read(root: str, v: int) -> dict:
        from aisle_spark.pipeline import read_snapshot

        snap = read_snapshot(None, root, v, stats=True)
        return {**snap, "stats": snap["stats"].sort_by("file").to_pylist()}

    def test_replay_identity_and_size_bound(self, tmp_path):
        import json as _json

        from aisle_spark.pipeline import _SNAP_DIR, read_snapshot

        root = str(tmp_path / "t")
        import os

        os.makedirs(root)
        states = self._commit_states(root, 40)
        for v, payload in states.items():
            snap = self._read(root, v)
            assert snap["files"] == payload["files"], v
            assert snap["stats"] == payload["stats"], v
            assert snap.get("batches") == payload.get("batches"), v
            assert snap["version"] == v
            assert read_snapshot(None, root, v) == {k: x for k, x in snap.items() if k != "stats"}
        sizes = {
            v: os.path.getsize(f"{root}/{_SNAP_DIR}/v{v:08d}.json")
            for v in states
        }
        on_disk = {
            v: _json.load(open(f"{root}/{_SNAP_DIR}/v{v:08d}.json"))
            for v in states
        }
        # periodic checkpoints are full; the rest are deltas
        assert "delta_base" not in on_disk[1]
        assert "delta_base" not in on_disk[17]
        assert "delta_base" not in on_disk[33]
        assert "delta_base" in on_disk[5]
        # a one-file append persists a small fraction of the full payload
        assert sizes[5] < sizes[1] * 0.25
        # the rewrite commit degrades to full (delta would be larger)
        assert "delta_base" not in on_disk[20]
        # a delta's stats file holds only the rows its commit wrote, a
        # full snapshot's every live file's
        import pyarrow.parquet as pq

        def rows(v):
            return pq.read_table(f"{root}/{_SNAP_DIR}/{on_disk[v]['stats']}").num_rows

        assert rows(5) == 1 and rows(17) == len(states[17]["files"])

    def test_expire_materializes_boundary_full(self, tmp_path):
        import os

        from aisle_spark.maintenance import expire_snapshots
        from aisle_spark.pipeline import read_snapshot

        root = str(tmp_path / "e")
        os.makedirs(root)
        self._commit_states(root, 25)
        before = {v: self._read(root, v) for v in range(21, 26)}
        victims = expire_snapshots(root, keep_last=5)
        assert victims == list(range(1, 21))
        for v in range(21, 26):  # every retained chain still materializes
            assert self._read(root, v) == before[v]
        import pytest as _pytest

        with _pytest.raises((FileNotFoundError, OSError)):
            read_snapshot(None, root, 20)
        # the boundary is full, files and stats; the victims' stats go
        snaps = sorted(os.listdir(f"{root}/_aisle_snapshots"))
        assert snaps[0] == "v00000021.json"
        assert not any(n.endswith(".stats.parquet") and n < "v00000021" for n in snaps)
        on_disk = json.load(open(f"{root}/_aisle_snapshots/v00000021.json"))
        assert "delta_base" not in on_disk and on_disk["stats"] == "v00000021.stats.parquet"

    def test_expire_writes_boundary_stats_before_its_snapshot(self, tmp_path, monkeypatch):
        """A crash after the boundary's full stats file and before its
        full snapshot leaves every retained version reading the same."""
        import aisle_spark.pipeline as pl
        from aisle_spark.maintenance import expire_snapshots

        root = str(tmp_path / "c")
        os.makedirs(root)
        self._commit_states(root, 25)
        before = {v: self._read(root, v) for v in range(21, 26)}

        def crash(fs, path, obj):
            raise OSError("injected crash")

        monkeypatch.setattr(pl, "_fs_write_json", crash)
        with pytest.raises(OSError, match="injected"):
            expire_snapshots(root, keep_last=5)
        monkeypatch.undo()
        on_disk = json.load(open(f"{root}/_aisle_snapshots/v00000021.json"))
        assert "delta_base" in on_disk  # the snapshot was not rewritten
        for v in range(21, 26):
            assert self._read(root, v) == before[v]
        expire_snapshots(root, keep_last=5)
        for v in range(21, 26):
            assert self._read(root, v) == before[v]

    def test_crash_between_stats_and_snapshot(self, tmp_path, monkeypatch):
        """A commit that dies after writing its stats file and before its
        snapshot leaves the previous version fully readable, and the
        next commit takes the same version number."""
        import aisle_spark.pipeline as pl

        root = str(tmp_path / "a")
        os.makedirs(root)
        states = self._commit_states(root, 3)
        real = pl._fs_write_json

        def crash(fs, path, obj):
            if "_aisle_snapshots" in path:
                raise OSError("injected crash")
            real(fs, path, obj)

        monkeypatch.setattr(pl, "_fs_write_json", crash)
        lost = pa.table({"file": ["lost.parquet"], "n_rows": [1]})
        with pytest.raises(OSError, match="injected"):
            pl.publish_manifest(None, root, {"files": states[3]["files"] + ["lost.parquet"]}, lost)
        monkeypatch.undo()
        assert os.path.exists(f"{root}/_aisle_snapshots/v00000004.stats.parquet")
        assert pl.list_snapshots(None, root) == [1, 2, 3]
        m = pl.load_manifest(None, root, stats=True)
        assert m["version"] == 3 and m["files"] == states[3]["files"]
        assert m["stats"].sort_by("file").to_pylist() == states[3]["stats"]
        kept = pa.table({"file": ["next.parquet"], "n_rows": [2]})
        assert pl.publish_manifest(None, root, {"files": states[3]["files"] + ["next.parquet"]}, kept) == 4
        got = self._read(root, 4)
        assert {r["file"]: r["n_rows"] for r in got["stats"]} == {
            **{r["file"]: r["n_rows"] for r in states[3]["stats"]}, "next.parquet": 2
        }


class TestManifestPointerForm:
    """The current-state manifest is always ``{"version": N}``: a commit
    writes a delta snapshot plus that constant-size swap — O(changed)
    bytes at any table size — and every reader resolves the version
    through the snapshot chain. The fixture's last commit is an
    in-process compaction; a later append commits in the data source's
    Python worker and must merge through the chain it finds."""

    @pytest.fixture()
    def pointer_table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "pt")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(43, 1200)]))
        for i in range(4):
            part = df.filter(F.crc32(F.col("doc_id")) % 4 == i).repartition(1)
            part.write.format("aisle").option("sortCols", "source").mode(
                "append"
            ).save(out)
        compact_encoded(spark, out, target_files=3)
        return df, out

    def test_manifest_is_pointer_and_readers_resolve(self, spark, pointer_table):
        from aisle_spark.pipeline import current_version, load_manifest

        df, out = pointer_table
        assert current_version(None, out) == 5
        m = load_manifest(None, out, stats=True)
        assert m["version"] == 5 and len(m["files"]) >= 2
        assert set(m["stats"].column("file").to_pylist()) == set(m["files"])
        # full read through the datasource (planning resolves the version)
        assert spark.read.format("aisle").load(out).count() == df.count()
        got = (
            spark.read.format("aisle")
            .option("where", "source = 'web'")
            .load(out)
            .count()
        )
        assert got == df.filter("source = 'web'").count()
        # library path
        from aisle_spark.pipeline import read_encoded

        blocks, _schema = read_encoded(spark, out)
        assert blocks.selectExpr("sum(n_rows)").collect()[0][0] == df.count()

    def test_append_merges_through_pointer(self, spark, pointer_table):
        """The writer-commit worker finds the version the compaction
        committed and must read-merge through the snapshot chain, never
        drop files."""
        from pyspark.sql import functions as F

        df, out = pointer_table
        extra = df.limit(50).withColumn("doc_id", F.concat(F.lit("x-"), "doc_id"))
        extra.repartition(1).write.format("aisle").mode("append").save(out)
        n = spark.read.format("aisle").load(out).count()
        assert n == df.count() + 50

    def test_vacuum_and_time_travel_on_pointer_table(self, spark, pointer_table):
        from aisle_spark.maintenance import expire_snapshots

        df, out = pointer_table
        # versionAsOf pins a snapshot before the compaction
        got = (
            spark.read.format("aisle").option("versionAsOf", "1").load(out).count()
        )
        assert got < df.count()
        expire_snapshots(out, keep_last=1)
        vacuum_encoded(out, min_age_seconds=0)
        assert spark.read.format("aisle").load(out).count() == df.count()


class TestIncrementalCompaction:
    """Size-thresholded OPTIMIZE (r5): only files under ``min_file_mb``
    are rewritten — a nightly compaction at 10^5 files must not
    re-shuffle bytes previous runs already compacted."""

    @pytest.fixture()
    def mixed_table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        register(spark)
        out = str(tmp_path / "mix")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(45, 4000)]))
        # one BIG append (90% of rows), three small ones
        big = df.filter(F.crc32(F.col("doc_id")) % 10 < 7)
        big.repartition(1).write.format("aisle").mode("append").save(out)
        for i in range(3):
            df.filter(F.crc32(F.col("doc_id")) % 10 == 7 + i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        return df, out

    def test_only_small_files_rewritten(self, spark, mixed_table):
        df, out = mixed_table
        before = _manifest(out)
        sizes = {
            f: os.path.getsize(os.path.join(out, f)) for f in before["files"]
        }
        big_file = max(sizes, key=sizes.get)
        cutoff_mb = (sizes[big_file] - 1) / (1024 * 1024)
        s = compact_encoded(spark, out, target_files=1, min_file_mb=cutoff_mb)
        assert s["files_before"] == 3 and s["files_after"] == 1
        after = _manifest(out)
        assert big_file in after["files"]  # untouched survivor
        assert len(after["files"]) == 2
        # survivor keeps its stats row; results stay exact
        from tests.test_datasource import _stats

        assert _stats(out)[big_file]["__bytes"] == sizes[big_file]
        assert spark.read.format("aisle").load(out).count() == df.count()

    def test_idempotent_when_nothing_small(self, spark, mixed_table):
        _df, out = mixed_table
        compact_encoded(spark, out, target_files=1, min_file_mb=0.0001)
        s = compact_encoded(spark, out, target_files=1, min_file_mb=0.0001)
        assert s["skipped"] and "fewer than 2" in s["reason"]

    def test_streaming_batches_survive_for_untouched_files(
        self, spark, tmp_path
    ):
        """Incremental compaction of a streaming-sink table keeps the
        replace-mapping for surviving batch files (a replayed batch must
        replace, never duplicate)."""
        import json as _json

        register(spark)
        out = str(tmp_path / "st")
        os.makedirs(out)
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(46, 2000)]))
        # two "batches" written through the datasource + batch map
        from pyspark.sql import functions as F

        for i in range(2):
            df.filter(F.crc32(F.col("doc_id")) % 2 == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        m = _manifest(out)
        f0, f1 = sorted(m["files"])[:2]
        _commit_batch(out, 0, [f0])
        _commit_batch(out, 1, [f1])
        sizes = {f: os.path.getsize(os.path.join(out, f)) for f in (f0, f1)}
        small = min(sizes, key=sizes.get)
        keep = f1 if small == f0 else f0
        # threshold between the two sizes: need >=2 small files to run,
        # so append one more tiny file into the small batch
        df.limit(20).repartition(1).write.format("aisle").mode("append").save(out)
        extra = sorted(set(_manifest(out)["files"]) - {f0, f1})[0]
        _commit_batch(out, 2, [extra])
        cutoff = (sizes[keep] - 1) / (1024 * 1024)
        s = compact_encoded(spark, out, target_files=1, min_file_mb=cutoff)
        assert not s.get("skipped")
        from aisle_spark.pipeline import load_manifest

        after = load_manifest(None, out)
        assert keep in after["files"]
        batches = after.get("batches", {})
        kept_lists = [fl for fl in batches.values() if keep in fl]
        assert kept_lists  # surviving file still batch-mapped
        assert all(small not in fl and extra not in fl for fl in batches.values())


class TestReviewRegressions:
    """Code-review r5 findings."""

    def test_batch_commit_after_compaction_visible_to_streams(
        self, spark, tmp_path
    ):
        """A stream-sink batch commit AFTER an OPTIMIZE must not inherit
        the manifest's 'compacted_from' tag — stream readers skip
        compaction snapshots, so every post-OPTIMIZE batch would be
        silently invisible downstream."""
        import json as _json

        from pyspark.sql import functions as F

        from aisle_spark.datasource import AisleStreamReader

        register(spark)
        out = str(tmp_path / "pc")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(47, 1500)]))
        for i in range(2):
            df.filter(F.crc32(F.col("doc_id")) % 2 == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        compact_encoded(spark, out, target_files=1)
        # the next BATCH COMMIT adds a brand-new file (the real sink
        # flow: addBatch writes the file, _commit_batch publishes it)
        import shutil as _sh

        src_f = next(
            f for f in _manifest(out)["files"] if f.startswith("compact-")
        )
        newf = "part-postoptimize.parquet"
        _sh.copy(os.path.join(out, src_f), os.path.join(out, newf))
        _commit_batch(out, 0, [newf])
        from aisle_spark.pipeline import _SNAP_DIR, list_snapshots

        latest = list_snapshots(None, out)[-1]
        snap = _json.load(
            open(os.path.join(out, _SNAP_DIR, f"v{latest:08d}.json"))
        )
        assert "compacted_from" not in snap
        assert "compacted_from" not in snap.get("extras", {})
        # a stream over the table emits the post-OPTIMIZE batch's file
        # (pre-fix: the snapshot was tagged as a compaction commit and
        # _additions returned [] — permanent silent loss downstream)
        r = AisleStreamReader(out)
        emitted = [
            p.path
            for p in r.partitions({"version": latest - 1}, {"version": latest})
        ]
        assert any(newf in p for p in emitted)

    def test_expire_keep_zero_never_bricks_pointer_table(self, spark, tmp_path):
        """expire_snapshots(keep_last=0) must not delete the snapshot the
        current version resolves through."""
        from aisle_spark.maintenance import expire_snapshots
        from aisle_spark.pipeline import current_version

        register(spark)
        out = str(tmp_path / "ek")
        df = spark.createDataFrame(pa.Table.from_batches([synth_batch(48, 900)]))
        for i in range(3):
            from pyspark.sql import functions as F

            df.filter(F.crc32(F.col("doc_id")) % 3 == i).repartition(
                1
            ).write.format("aisle").mode("append").save(out)
        compact_encoded(spark, out, target_files=2)
        victims = expire_snapshots(out, keep_last=0)
        # the current version's snapshot survives; table stays readable
        assert victims == [1, 2, 3] and current_version(None, out) == 4
        assert spark.read.format("aisle").load(out).count() == df.count()
        vacuum_encoded(out, min_age_seconds=0)
        assert spark.read.format("aisle").load(out).count() == df.count()
