"""Spark source: paths/URLs DataFrame → canonical entries DataFrame.

Mapping of the reference's physical layer (SURVEY.md §2.7) onto Spark:

- per-input worker fan-out (rayon pool, one walk per input —
  reference src/converter/base.rs:45-66) → the driver packs the inputs
  into ``min(len(paths), threads * 4)`` size-weighted (LPT) bins and
  ``parallelize``s one bin per task, with no repartition; each task
  walks its bin's inputs in turn, and a 1000-executor cluster walks
  1000 bins concurrently with zero coordination.
- bounded batch channel with backpressure (reference
  src/channel.rs:112-139) → the ``mapInArrow`` iterator protocol:
  each yielded Arrow RecordBatch is capped by rows AND bytes (the
  reference's dual cap, src/batch.rs:97-99), and Spark's Arrow
  pipeline applies its own flow control downstream.
- producer error → job abort (reference src/visitor.rs:59-65) →
  exceptions raised in the walker fail the task (and job, after Spark's
  task retries — fail-fast parity).

The walker itself is pure Python per input (archives are inherently
sequential streams); the cluster-level parallelism is ACROSS inputs,
which is the reference's model too (threads = inputs in flight).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.schema import (
    ENTRY_COLUMNS,
    entry_arrow_schema,
    entry_columns,
    entry_ddl,
)

_BATCH_ROWS = 1024  # reference src/batch.rs:78


def _rows_to_batch(
    rows: list, columns: tuple[str, ...] = ENTRY_COLUMNS
) -> pa.RecordBatch:
    schema = entry_arrow_schema(columns)
    return pa.RecordBatch.from_arrays(
        [pa.array([getattr(r, f.name) for r in rows], f.type) for f in schema],
        schema=schema,
    )


def _walk_input(path: str, is_url: bool, options: ConvertOptions):
    from archive_to_parquet_spark.sources.url_source import open_url
    from archive_to_parquet_spark.sources.walker import walk_path, walk_stream

    if not is_url:
        yield from walk_path(path, options)
        return
    stream, size = open_url(path)
    try:
        yield from walk_stream(path, stream, size, options)
    finally:
        stream.close()


def entry_batches(
    inputs: Iterable[tuple[str, bool]], options: ConvertOptions
) -> Iterator[pa.RecordBatch]:
    """Walk each ``(path, is_url)`` input once, in order, and yield its
    entries as Arrow RecordBatches in canonical column order. Each batch
    is capped by rows AND bytes (the reference's dual cap); a batch may
    span inputs. The walker's rows go straight into Arrow arrays — no
    pandas object arrays in the hot path."""
    columns = entry_columns(options.columns)
    batch_bytes = options.batch_size
    pending: list = []
    pending_bytes = 0
    for path, is_url in inputs:
        for row in _walk_input(path, is_url, options):
            pending.append(row)
            pending_bytes += len(row.content or b"")
            if len(pending) >= _BATCH_ROWS or pending_bytes >= batch_bytes:
                yield _rows_to_batch(pending, columns)
                pending, pending_bytes = [], 0
    if pending:
        yield _rows_to_batch(pending, columns)


def _bin_inputs(bin_: list) -> list:
    """The input leg's flatMap: one packed bin → its (path, is_url)
    rows. Module-level, so it pickles by reference and the worker
    imports this package (installing ``zipimport_cache``) before running
    it, as the walker's worker does."""
    return bin_


def _make_walk_partition(options: ConvertOptions):
    """The mapInArrow function over ``(input_path, is_url)`` batches
    (options captured by value — the dataclass pickles into the task
    closure once, not per row).

    mapInArrow, not mapInPandas: entry content is opaque bytes, and the
    pandas leg (object arrays → per-batch Arrow re-conversion) only
    added copies."""

    def walk_partition(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        inputs = (
            pair
            for rb in batches
            for pair in zip(
                rb.column("input_path").to_pylist(),
                rb.column("is_url").to_pylist(),
            )
        )
        yield from entry_batches(inputs, options)

    return walk_partition


def read_archives(
    spark: SparkSession,
    paths: list[str],
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> DataFrame:
    """Entries DataFrame from local archive paths (or URLs with
    ``urls=True``). One Spark task per bin of inputs (``_pack_inputs``).

    ``options.columns`` prunes the output projection INSIDE the walker:
    with ``content`` excluded, entry payloads are stream-hashed but
    never buffered, shipped through Arrow, or materialized as JVM rows
    — the scan-side column pruning the Python DataSource API cannot do
    automatically (Spark 4.1 hands the reader the full schema whatever
    the query projects; verified empirically). The reference cannot do
    this at all — its sink schema is fixed (src/batch.rs:21-34)."""
    options = options or ConvertOptions()
    options.validate()
    if not paths:
        raise ValueError("no input paths")
    n_tasks = min(len(paths), max(options.threads, 1) * 4)
    # Exactly-even input spread: hash/round-robin repartition of a small
    # path list clumps several archives into one task (measured 3-4× skew
    # on 16 paths). The path list is a driver-side Python list already,
    # so pack it HERE — no shuffle, no global Window sort at the head of
    # the ingest DAG (a previous row_number-over-everything approach
    # would funnel a 10M-path manifest through a single WindowExec
    # partition before any work started). When input SIZES are cheaply
    # knowable (local files, bounded manifest), tasks are packed
    # size-weighted (greedy LPT) instead of count-even: at 100 TB, a
    # count-even split of heterogeneous archives makes the task that
    # drew the biggest archives the job's straggler, while LPT bounds
    # the makespan at ~4/3 of optimal. Falls back to contiguous
    # count-even slices for URLs or very large manifests (stat cost).
    bins = _pack_inputs(sorted(paths), n_tasks, urls=urls)
    rdd = spark.sparkContext.parallelize(
        [[(p, urls) for p in b] for b in bins], len(bins)
    ).flatMap(_bin_inputs)
    paths_df = spark.createDataFrame(
        rdd, "input_path string, is_url boolean"
    )
    return paths_df.mapInArrow(
        _make_walk_partition(options), entry_ddl(options.columns)
    )


# stat-ing a manifest beyond this on the driver costs more than the
# skew it prevents; contiguous slicing takes over (sizes usually come
# from the manifest itself at that scale — pass pre-binned paths then)
_MAX_STAT_PATHS = 100_000


def _pack_inputs(
    paths: list[str], n_tasks: int, urls: bool = False
) -> list[list[str]]:
    """Deterministic task packing for the ingest fan-out: greedy LPT on
    file size when sizes are obtainable (each path goes to the
    currently-lightest bin, biggest first), else contiguous count-even
    slices. Every bin is non-empty for n_tasks <= len(paths)."""
    import heapq
    import os

    sizes: list[int] | None = None
    if not urls and len(paths) <= _MAX_STAT_PATHS:
        try:
            sizes = [os.path.getsize(p) for p in paths]
        except OSError:
            sizes = None
    if sizes is None:
        k, m = divmod(len(paths), n_tasks)
        out, i = [], 0
        for t in range(n_tasks):
            step = k + (1 if t < m else 0)
            out.append(paths[i : i + step])
            i += step
        return out
    bins: list[list[str]] = [[] for _ in range(n_tasks)]
    heap = [(0, t) for t in range(n_tasks)]  # (load, bin) — ties by index
    heapq.heapify(heap)
    for sz, p in sorted(zip(sizes, paths), key=lambda x: (-x[0], x[1])):
        load, t = heapq.heappop(heap)
        bins[t].append(p)
        heapq.heappush(heap, (load + max(sz, 1), t))
    return [b for b in bins if b]
