"""Streaming conversion: watch a directory for new archives, convert
incrementally.

The reference's execution already IS a bounded streaming pipeline
(producer/consumer channel with backpressure, reference
src/channel.rs:112-139); Structured Streaming generalizes it to
unbounded arrival. New archive files landing in a watched directory
become micro-batches; each batch runs the SAME batch plan as
``convert`` (``entries_pipeline`` → ``write_parquet``) via
``foreachBatch``, giving exactly-once parquet appends with checkpointed
progress.

``unique`` dedups WITHIN each micro-batch, not across the stream: a
file arriving in a later batch may repeat a hash already written. Use
``convert_incremental`` (anti-join against the output's hashes) when
the whole output must stay unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.plans.convert import entries_pipeline
from archive_to_parquet_spark.plans.sink import write_parquet


def stream_convert(
    spark: SparkSession,
    watch_dir: str,
    output: str,
    checkpoint: str,
    options: ConvertOptions | None = None,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Watch ``watch_dir`` for new archive files; append converted rows
    to ``output`` parquet. Returns the running StreamingQuery."""
    options = options or ConvertOptions()
    options.validate()

    # file-stream source listing new files; we only need their paths —
    # the walker opens them itself (content never flows through the
    # binaryFile reader, so huge archives don't hit the 2 GB row limit)
    files = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", "*")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(watch_dir)
        .select("path")
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the file-stream source reports URIs (file:/...); the walker
        # opens with local IO, so strip the local scheme (cluster
        # deployments with hdfs:/s3: inputs should mount or fetch — see
        # url_source for http)
        paths = [r.path.removeprefix("file:") for r in batch_df.collect()]
        if not paths:
            return
        entries = entries_pipeline(batch_df.sparkSession, paths, options)
        write_parquet(entries, output, options, mode="append")

    writer = (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
