"""Structured Streaming ingestion for the engine: a micro-batch sink whose
tasks write block files through the one block-file writer
(``pipeline.BlockFileWriter``) and commit them into an encoded table
directory with exactly-once semantics.

Shape:  readStream (any source) -> encode_stream(...) -> encoded table
        readable by read_encoded()/scan() WHILE the stream keeps appending.

Exactly-once protocol (the streaming face of the batch direct-write
commit): every ``mapInArrow`` task of micro-batch ``b`` writes its blocks
straight to ``stream-b{b:08d}-{partition:04d}.parquet`` (tmp + atomic
rename locally) and returns the file's name; the driver then commits the
batch's files as batch ``b`` (``pipeline.commit(..., batch=b)``), which
folds their stats and maps ``b`` to them in the manifest's ``batches``.
A replayed batch (failure before the manifest commit) rewrites the SAME
file names and replaces the batch's files and their stats rows, so
duplicates are impossible — keyed by Spark's monotonically increasing
batchId.

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
    commit,
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

    schema = arrow_schema_of(batch_df)
    specs = specs_for_schema(schema)

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
    commit(None, out_path, schema, files, batch=batch_id)
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
