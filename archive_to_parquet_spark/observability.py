"""Observability: counters + job metrics (E4 parity).

The reference exposes ingest-side ``Counters`` (entries_read,
entries_read_bytes, archives_read, batches_sent — reference
src/progress.rs:11-60) and sink-side ``ConversionCounter`` totals
(reference src/progress.rs:62-133). Spark equivalents:

- ``observe_entries``: attaches a named ``Observation`` computing the
  same totals inside the job (no extra pass — metrics ride the
  existing plan).
- ``StageMetrics``: poll-style snapshot from the status tracker for
  active-job progress (the progress-bar analog; works in any deploy
  mode without a py4j callback server).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class EntryCounters:
    """Totals over an entries DataFrame (ConversionCounter parity)."""

    entries_read: int
    entries_read_bytes: int
    distinct_sources: int
    text_entries: int


def observe_entries(df: DataFrame, name: str = "entry_counters"):
    """Attach counters to an entries plan. Returns (df, resolve) where
    ``resolve()`` yields EntryCounters after the next action on df."""
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("entries_read"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("entries_read_bytes"),
        # exact: at most one string per input archive; observe() rejects
        # count_distinct, and approx_count_distinct can merge two paths
        F.size(F.collect_set("source")).alias("distinct_sources"),
        F.coalesce(
            F.sum(F.when(F.is_valid_utf8("content"), 1).otherwise(0)), F.lit(0)
        ).alias("text_entries"),
    )

    def resolve() -> EntryCounters:
        got = obs.get
        return EntryCounters(
            entries_read=int(got["entries_read"]),
            entries_read_bytes=int(got["entries_read_bytes"]),
            distinct_sources=int(got["distinct_sources"]),
            text_entries=int(got["text_entries"]),
        )

    return observed, resolve


@dataclass
class StageSnapshot:
    active_jobs: int
    active_stages: int
    active_tasks: int
    completed_tasks: int
    failed_tasks: int


def stage_snapshot(spark: SparkSession) -> StageSnapshot:
    """Poll current job/stage/task progress (progress-bar analog)."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getActiveJobsIds()
    stage_ids = tracker.getActiveStageIds()
    active = completed = failed = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None:
            active += info.numActiveTasks
            completed += info.numCompletedTasks
            failed += info.numFailedTasks
    return StageSnapshot(
        active_jobs=len(job_ids),
        active_stages=len(stage_ids),
        active_tasks=active,
        completed_tasks=completed,
        failed_tasks=failed,
    )
