"""Structured Streaming ingestion for the engine: a micro-batch sink whose
tasks write block files through the one block-file writer
(``pipeline.BlockFileWriter``) and commit them into an encoded table
directory with exactly-once semantics.

Shape:  readStream (any source) -> encode_stream(...) -> encoded table
        readable by read_encoded()/scan() WHILE the stream keeps appending.

Exactly-once protocol (the streaming face of the batch direct-write
commit): every ``mapInArrow`` task of micro-batch ``b`` writes its blocks
straight to ``stream-b{b:08d}-{partition:04d}.parquet`` (tmp + atomic
rename locally) and returns the file's name; the driver then folds the
files' stats and publishes the manifest with the batch's file list. A
replayed batch (failure before the manifest commit) rewrites the SAME
file names and replaces the batch's manifest entry, so duplicates are
impossible — keyed by Spark's monotonically increasing batchId.

This mirrors the reference's "streaming extensibility" surface
(SURVEY.md §2.9) re-expressed on Spark's own streaming engine: watermarks,
triggers and source offsets all come from Structured Streaming; the engine
contributes only the per-batch vectorized encode + the commit protocol.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from aisle_spark.pipeline import (
    DEFAULT_BLOCK_ROWS,
    DEFAULT_MAX_VALUES,
    _write_schema_sidecar,
    arrow_schema_of,
)


def _read_manifest(out_path: str) -> dict:
    from aisle_spark.pipeline import load_manifest

    # resolves the pointer form; a sink's first commit starts empty
    m = load_manifest(None, out_path) or {"files": []}
    m.setdefault("batches", {})
    return m


def _commit_batch(out_path: str, batch_id: int, files: list[str]) -> None:
    """Atomically record this batch's files; replays replace, never add.
    The files' stats rows are folded from their blocks, so streamed
    tables participate in the file pruning tier (datasource._files_kept)
    like batch-written ones."""
    from aisle_spark.datasource import _read_sidecar_schema
    from aisle_spark.pipeline import fold_file_stats, manifest_lock, publish_manifest
    from aisle_spark.schema import specs_for_schema

    specs = specs_for_schema(_read_sidecar_schema(None, out_path))
    stats = fold_file_stats(None, out_path, files, specs)
    with manifest_lock(None, out_path):
        m = _read_manifest(out_path)
        replaced = set(m["batches"].get(str(batch_id), []))
        m["batches"][str(batch_id)] = files
        # files = non-batch files (compaction retires the batches map but
        # its output files must survive subsequent batch commits — ADVICE
        # r3 high) ∪ every live batch's files; a replayed batch replaces,
        # never adds. A compaction commit's "compacted_from" is not
        # republished: it would tag THIS batch's snapshot as a compaction
        # commit too, and stream readers skip those (_additions returns
        # []) — every post-OPTIMIZE batch would be silently invisible
        batch_files = {f for fs in m["batches"].values() for f in fs}
        live = (set(m["files"]) - replaced) | set(files) | batch_files
        publish_manifest(
            None, out_path, {"files": sorted(live), "batches": m["batches"]}, stats
        )


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
            yield pa.RecordBatch.from_pylist([{"file": rec["file"]}])

    rows = batch_df.mapInArrow(encode_partition, "file string").collect()
    files = sorted(r.file for r in rows)
    _commit_batch(out_path, batch_id, files)
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
