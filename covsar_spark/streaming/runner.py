"""The one stream lifecycle every streamed operator in this package runs on.

Each module here only BUILDS a streaming query (`streaming_rollup`,
`counter_increase_stream`, `span_stream`, ...); the source and the
drive-to-completion lifecycle live in this module alone:

- `file_stream` replays a parquet directory as a file-source stream, a
  fixed number of files per micro-batch. The files-per-trigger count decides
  how rows group into batches, and with it which rows a watermark drops as
  late — so each caller passes the count its tests pin.
- `run_stream` attaches exactly one sink (memory table, checkpointed parquet
  dir, or foreachBatch), drives the query with the default trigger until
  every file already in the source is processed, and always stops it. A restart
  with the same checkpoint resumes source offsets, operator state and the
  sink's commit log, which is what the exactly-once restart tests pin.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession, path: str, schema: StructType | None = None, max_files: int = 1
) -> DataFrame:
    """Parquet file-source stream over ``path``, ``max_files`` files per
    micro-batch. Without ``schema`` the schema comes from a static read of
    the same path (streams need one up front)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", max_files).parquet(path)


def run_stream(
    query: DataFrame,
    output_mode: str,
    *,
    name: str | None = None,
    path: str | None = None,
    checkpoint: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame | None:
    """Drive ``query`` to completion into exactly one sink and stop it.

    ``name``: memory sink, returns the table. ``path``: parquet sink, needs
    ``checkpoint``. ``foreach_batch``: a ``(batch_df, batch_id)`` callback.
    ``checkpoint`` may go with any sink. A failing batch re-raises as
    ``StreamingQueryException`` after the query is stopped."""
    if sum(s is not None for s in (name, path, foreach_batch)) != 1:
        raise ValueError("run_stream needs exactly one sink: name, path or foreach_batch")
    if path is not None and checkpoint is None:
        raise ValueError("a parquet sink needs a checkpoint")
    writer = query.writeStream.outputMode(output_mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if name is not None:
        writer = writer.format("memory").queryName(name)
    elif path is not None:
        writer = writer.format("parquet").option("path", path)
    else:
        writer = writer.foreachBatch(foreach_batch)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return query.sparkSession.table(name) if name is not None else None
