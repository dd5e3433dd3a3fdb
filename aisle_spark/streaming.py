"""Structured Streaming ingestion for the engine: a micro-batch sink whose
tasks write block files through the one block-file writer
(``pipeline.BlockFileWriter``) and commit them into an encoded table
directory with exactly-once semantics.

Shape:  readStream (any source) -> encode_stream(...) -> encoded table
        readable by read_encoded()/scan() WHILE the stream keeps appending.

Exactly-once protocol (the streaming face of the batch direct-write
commit): every ``mapInArrow`` task of micro-batch ``b`` writes its blocks
straight to ``stream-b{b:08d}-{partition:04d}.parquet`` (tmp + atomic
rename locally) and returns the file's stats; the driver then publishes
the manifest with the batch's file list. A replayed batch (failure
before the manifest commit) rewrites the SAME file names and replaces
the batch's manifest entry, so duplicates are impossible — keyed by
Spark's monotonically increasing batchId.

This mirrors the reference's "streaming extensibility" surface
(SURVEY.md §2.9) re-expressed on Spark's own streaming engine: watermarks,
triggers and source offsets all come from Structured Streaming; the engine
contributes only the per-batch vectorized encode + the commit protocol.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from aisle_spark.pipeline import (
    DEFAULT_BLOCK_ROWS,
    DEFAULT_MAX_VALUES,
    _write_schema_sidecar,
    arrow_schema_of,
)


def _manifest_path(out_path: str) -> str:
    return os.path.join(out_path, "_aisle_files.json")


def _read_manifest(out_path: str) -> dict:
    p = _manifest_path(out_path)
    if not os.path.exists(p):
        return {"files": [], "batches": {}}
    from aisle_spark.pipeline import load_manifest

    m = load_manifest(None, out_path)  # resolves the pointer form
    m.setdefault("batches", {})
    return m


def _commit_batch(
    out_path: str, batch_id: int, files: list[str], file_stats: dict | None = None
) -> None:
    """Atomically record this batch's files; replays replace, never add.
    ``file_stats`` maps each file to the [min,max] bounds its writer
    folded, so streamed tables participate in the manifest-list pruning
    tier (datasource.file_keep) like batch-written ones; a file without
    an entry is Unknown and always kept."""
    from aisle_spark.pipeline import manifest_lock

    with manifest_lock(None, out_path):
        _commit_batch_locked(out_path, batch_id, files, file_stats or {})


def _commit_batch_locked(
    out_path: str, batch_id: int, files: list[str], file_stats: dict
) -> None:
    m = _read_manifest(out_path)
    replaced = set(m["batches"].get(str(batch_id), []))
    m["batches"][str(batch_id)] = files
    # files = non-batch files (compaction retires the batches map but its
    # output files must survive subsequent batch commits — ADVICE r3 high)
    # ∪ every live batch's files; a replayed batch replaces, never adds
    batch_files = {f for fs in m["batches"].values() for f in fs}
    m["files"] = sorted(
        (set(m.get("files", [])) - replaced) | set(files) | batch_files
    )
    kept = set(m["files"]) - replaced
    stats = {k: v for k, v in m.get("file_stats", {}).items() if k in kept}
    stats.update({f: file_stats[f] for f in files if file_stats.get(f)})
    m["file_stats"] = stats
    # a compaction commit leaves "compacted_from" in the current
    # manifest; republishing it here would tag THIS batch's snapshot as
    # a compaction commit too, and stream readers skip those
    # (_additions returns []) — every post-OPTIMIZE batch would be
    # silently invisible downstream
    m.pop("compacted_from", None)
    from aisle_spark.pipeline import publish_manifest

    publish_manifest(None, out_path, m)


def write_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    parts: int = 64,
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    max_values: int = DEFAULT_MAX_VALUES,
) -> list[str]:
    """The sink's per-batch step: encode ``batch_df`` into batch-keyed
    block files and commit them as batch ``batch_id``. Calling it again
    with the same id replaces the batch. Returns the batch's files."""
    from aisle_spark.schema import specs_for_schema

    specs = specs_for_schema(arrow_schema_of(batch_df))

    def encode_partition(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from aisle_spark.pipeline import BlockFileWriter, _pin_worker_threads

        _pin_worker_threads()
        tc = TaskContext.get()
        w = BlockFileWriter(
            specs,
            out_path,
            f"stream-b{batch_id:08d}-{tc.partitionId() if tc else 0:04d}.parquet",
            parts=parts,
            salt_cols=salt_cols,
            sort_cols=sort_cols,
            block_rows=block_rows,
            max_values=max_values,
        )
        w.write_batches(batches)
        rec = w.close()
        if rec is not None:
            yield pa.RecordBatch.from_pylist(
                [{"file": rec["file"], "stats": json.dumps(rec["file_stats"])}]
            )

    rows = batch_df.mapInArrow(encode_partition, "file string, stats string").collect()
    stats = {r.file: json.loads(r.stats) for r in rows}
    files = sorted(stats)
    _commit_batch(out_path, batch_id, files, stats)
    return files


def encode_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    parts: int = 64,
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    max_values: int = DEFAULT_MAX_VALUES,
    query_name: str = "aisle_encode_stream",
):
    """Attach the encoder to a streaming DataFrame; returns the started
    StreamingQuery. The caller controls triggers/await on the handle."""
    os.makedirs(out_path, exist_ok=True)
    schema = arrow_schema_of(stream_df)
    _write_schema_sidecar(out_path, schema)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            batch_df,
            batch_id,
            out_path,
            parts=parts,
            salt_cols=salt_cols,
            sort_cols=sort_cols,
            block_rows=block_rows,
            max_values=max_values,
        )

    return (
        stream_df.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
