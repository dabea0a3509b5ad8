"""The end-to-end conversion plan (the reference's fixed dataflow).

scan → recursive flatten → project(+sha256) → include filter → size
filter → (optional) global hash dedup → parquet sink, with
observability counters — the Spark expression of reference
src/main.rs:87-135 / SURVEY.md §3.1.

All post-ingest stages are narrow column predicates except dedup (one
shuffle on ``hash``); filters run in the SAME stage as the walker
(no exchange), so content bytes stream from the archive straight into
the parquet writer unless ``unique`` forces the dedup exchange.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_deterministic,
)
from archive_to_parquet_spark.operators.filters import (
    apply_include_filter,
    apply_size_filter,
)
from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.plans.sink import write_parquet
from archive_to_parquet_spark.schema import REFERENCE_COLUMNS
from archive_to_parquet_spark.sources.archive_source import read_archives


@dataclass
class ConversionCounters:
    """Post-run totals (reference ConversionCounter, src/progress.rs:62-133)."""

    output_rows: int
    output_bytes: int


def entries_pipeline(
    spark: SparkSession,
    paths: list[str],
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> DataFrame:
    """The full logical plan, unsunk — scan/flatten/filter/dedup."""
    options = options or ConvertOptions()
    df = read_archives(spark, paths, options, urls=urls)
    df = apply_include_filter(df, options.include)
    df = apply_size_filter(df, options)
    if options.unique:
        df = (
            dedup_exact_deterministic(df, "hash")
            if options.deterministic_dedup
            else dedup_exact(df, "hash")
        )
    if not options.emit_format_column:
        df = df.select(*[c for c in REFERENCE_COLUMNS if c in df.columns])
    return df


def _write_counted(
    df: DataFrame, output: str, options: ConvertOptions, name: str, mode: str
) -> ConversionCounters:
    """Sink ``df`` with the run's totals observed on the way out."""
    obs = Observation(name)
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("output_rows"),
        # size may be pruned from the projection (options.columns)
        F.coalesce(
            F.sum("size") if "size" in df.columns else F.lit(0), F.lit(0)
        ).alias("output_bytes"),
    )
    write_parquet(df, output, options, mode=mode)
    return ConversionCounters(
        output_rows=int(obs.get["output_rows"]),
        output_bytes=int(obs.get["output_bytes"]),
    )


def convert_incremental(
    spark: SparkSession,
    paths: list[str],
    output: str,
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> ConversionCounters:
    """Append-only conversion that skips content already present in
    ``output`` (by hash) — the steady-state ingest mode for a growing
    corpus: each batch pays one left-anti join against the existing
    hash set instead of a full-table rewrite.

    At scale: the anti join reads ONLY the hash column of the existing
    dataset (column pruning; with the hash-prefix partitioned layout it
    also prunes partitions), so cost tracks the new batch + the hash
    index, not total corpus bytes. New rows may still duplicate each
    other; ``options.unique`` dedups within the batch first.
    """
    from pyspark.errors import AnalysisException

    options = options or ConvertOptions()
    df = entries_pipeline(spark, paths, options, urls=urls)
    # probe the output through Spark, not os.path — the output may be a
    # non-local URI (hdfs://, s3a://) where a local existence check
    # would silently skip the dedup anti-join
    try:
        existing_hashes = spark.read.parquet(output).select("hash")
    except AnalysisException:
        existing_hashes = None  # first batch: nothing to dedup against
    if existing_hashes is not None:
        # the USING join moves hash first; keep every appended file's
        # column order equal to the first batch's
        df = df.join(existing_hashes, "hash", "left_anti").select(df.columns)
    # append mode; zero NEW rows is fine (everything already ingested)
    return _write_counted(df, output, options, "incremental_counters", "append")


def convert(
    spark: SparkSession,
    paths: list[str],
    output: str,
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> ConversionCounters:
    """Run the conversion and write parquet. Raises on zero output rows
    (reference src/main.rs:129-132)."""
    options = options or ConvertOptions()
    df = entries_pipeline(spark, paths, options, urls=urls)
    counters = _write_counted(df, output, options, "conversion_counters", "overwrite")
    if counters.output_rows == 0:
        # the reference errors WITHOUT producing output (src/main.rs:129-132);
        # remove the empty dataset the sink just committed so a failed run
        # leaves nothing behind (local/file URIs only — for remote
        # filesystems the empty dataset is left and named in the error)
        from urllib.parse import urlparse

        parsed = urlparse(output)
        detail = ""
        if parsed.scheme in ("", "file"):
            import shutil

            shutil.rmtree(parsed.path or output, ignore_errors=True)
        else:
            detail = f" (empty dataset left at {output})"
        raise RuntimeError(
            "no rows converted from input files" + detail  # reference src/main.rs:131
        )
    return counters
