"""The traced run: per-layer metrics for one workload.

Spans come from the benchmark's own calls into each module's public
functions (worker.py); Spark's driver, scheduler and executor layers come
from its event log, uncompressed and unrolled, parsed here. The derived
ingest layers come from separate probe calls on the same inputs:

- walker and Arrow build: ``walk_path`` and ``_rows_to_batch`` in this
  process, on one thread, without Spark;
- ``archive_source.boundary_s`` = ``read_archives`` -> noop, minus the
  walker and Arrow-build busy time spread over the N cores;
- ``filters_dedup.s`` = ``entries_pipeline`` -> noop, minus that scan;
- ``sink.s`` = ``convert()`` minus ``entries_pipeline`` -> noop.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

# per-layer metrics every workload reports (BENCHMARK.json "per_layer")
COMMON = (
    ("session.get_spark_s", "s"),
    ("session.warmup_extra_s", "s"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.tasks_failed", "count"),
    ("executor.run_s", "s"),
    ("executor.jvm_cpu_s", "s"),
    ("executor.jvm_cpu_ratio", "ratio"),
    ("executor.run_ms_per_task", "ms"),
    ("executor.slot_busy_ratio", "ratio"),
    ("driver.idle_gap_s", "s"),
    ("shuffle.bytes_written", "bytes"),
    ("spill.bytes", "bytes"),
    ("trace.overhead_ratio", "ratio"),
)
META_COLUMNS = ("source", "path", "size", "hash", "format")


class EventLogError(Exception):
    """The event log contradicts itself; its numbers cannot be used."""


def parse_event_log(path: str) -> dict[str, dict]:
    """Per-operation totals from one uncompressed Spark event log.

    A stage belongs to the operation named by the ``perfbench.op`` local
    property it was submitted under, so each stage counts once. Checks,
    per stage attempt, that the task count and executor run time the
    stage reports equal the sums over its TaskEnd events."""
    stage_op: dict[tuple, str] = {}
    stage_done: dict[tuple, dict] = {}
    tasks: dict[tuple, list] = {}
    jobs: dict[str, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                op = (ev.get("Properties") or {}).get("perfbench.op")
                jobs[op] = jobs.get(op, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                if key in stage_op:
                    raise EventLogError(f"stage {key} submitted twice")
                stage_op[key] = (ev.get("Properties") or {}).get("perfbench.op")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_done[(info["Stage ID"], info["Stage Attempt ID"])] = info
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tasks.setdefault(key, []).append(ev)

    ops: dict[str, dict] = {}
    for key, info in stage_done.items():
        if key not in stage_op:
            raise EventLogError(f"stage {key} completed but never submitted")
        evs = tasks.get(key, [])
        run_ms = sum(e.get("Task Metrics", {}).get("Executor Run Time", 0) for e in evs)
        acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
        if info["Number of Tasks"] != len(evs):
            raise EventLogError(
                f"stage {key}: {info['Number of Tasks']} tasks reported, "
                f"{len(evs)} TaskEnd events"
            )
        if int(acc.get("internal.metrics.executorRunTime", 0)) != run_ms:
            raise EventLogError(
                f"stage {key}: executorRunTime {acc.get('internal.metrics.executorRunTime')}"
                f" != {run_ms} summed over its tasks"
            )
        rec = ops.setdefault(stage_op[key], _empty())
        rec["stages"] += 1
        for e in evs:
            m = e.get("Task Metrics", {})
            info_t = e["Task Info"]
            rec["tasks"] += 1
            rec["tasks_failed"] += int(
                info_t.get("Failed", False)
                or e["Task End Reason"].get("Reason") != "Success"
            )
            rec["run_ms"] += m.get("Executor Run Time", 0)
            rec["cpu_ns"] += m.get("Executor CPU Time", 0)
            rec["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            rec["intervals"].append((info_t["Launch Time"], info_t["Finish Time"]))
    for key in tasks:
        if key not in stage_done:
            raise EventLogError(f"TaskEnd events for stage {key}, never completed")
    for op, n in jobs.items():
        ops.setdefault(op, _empty())["jobs"] = n
    return ops


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0, "run_ms": 0,
        "cpu_ns": 0, "shuffle_bytes": 0, "spill_bytes": 0, "intervals": [],
    }


def idle_gap_s(start: float, end: float, intervals: list) -> float:
    """Seconds of [start, end] during which none of the tasks ran."""
    covered, cursor = 0.0, start
    for a, b in sorted((a / 1000.0, b / 1000.0) for a, b in intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


def walker_probe(fx) -> dict:
    """walk_path over every input and _rows_to_batch over its rows in
    1,024-row batches, in this process on one thread; then the same walk
    with content excluded from the columns."""
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.sources.archive_source import _rows_to_batch
    from archive_to_parquet_spark.sources.walker import walk_path
    from fixtures import leaf_digest

    walk_s = arrow_s = meta_s = 0.0
    leaves, meta_leaves = [], []
    meta = ConvertOptions(columns=META_COLUMNS)
    for path in fx.paths:
        t = time.perf_counter()
        rows = list(walk_path(path, ConvertOptions()))
        walk_s += time.perf_counter() - t
        t = time.perf_counter()
        for i in range(0, len(rows), 1024):
            _rows_to_batch(rows[i : i + 1024])
        arrow_s += time.perf_counter() - t
        leaves += [(r.source, r.path, r.size, r.hash.hex()) for r in rows]
        del rows
        t = time.perf_counter()
        rows = list(walk_path(path, meta))
        meta_s += time.perf_counter() - t
        meta_leaves += [(r.source, r.path, r.size, r.hash.hex()) for r in rows]
    ok = leaf_digest(leaves) == fx.digest and leaf_digest(meta_leaves) == fx.digest
    return {"walk_s": walk_s, "arrow_s": arrow_s, "meta_s": meta_s, "ok": ok}


def _per_op(ops: list[dict], log: dict[str, dict], cores: int) -> dict[str, float]:
    """Scheduler and executor figures per operation, over ``ops``."""
    tot = _empty()
    wall = idle = 0.0
    for op in ops:
        rec = log.get(op["op"], _empty())
        for k in ("jobs", "stages", "tasks", "tasks_failed", "run_ms", "cpu_ns",
                  "shuffle_bytes", "spill_bytes"):
            tot[k] += rec[k]
        wall += op["wall_s"]
        idle += idle_gap_s(op["start"], op["end"], rec["intervals"])
    n = len(ops)
    run_s, cpu_s = tot["run_ms"] / 1000.0, tot["cpu_ns"] / 1e9
    return {
        "scheduler.jobs": tot["jobs"] / n,
        "scheduler.stages": tot["stages"] / n,
        "scheduler.tasks": tot["tasks"] / n,
        "scheduler.tasks_failed": tot["tasks_failed"] / n,
        "executor.run_s": run_s / n,
        "executor.jvm_cpu_s": cpu_s / n,
        "executor.jvm_cpu_ratio": cpu_s / run_s if run_s else 0.0,
        "executor.run_ms_per_task": tot["run_ms"] / tot["tasks"] if tot["tasks"] else 0.0,
        "executor.slot_busy_ratio": run_s / (wall * cores),
        "driver.idle_gap_s": idle / n,
        "shuffle.bytes_written": tot["shuffle_bytes"] / n,
        "spill.bytes": tot["spill_bytes"] / n,
    }


def _span_total(spans: list[dict], name: str, ops: set) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name and s["op"] in ops)


def traced(run, wl: dict) -> dict:
    """Run the workload with tracing on; report every per-layer metric.

    ``trace.overhead_ratio`` divides the mean traced operation wall by the
    mean of the latest untraced run of this workload in this checkout, or
    of an untraced worker started first when there is none."""
    args = run.args
    os.makedirs(run.eventlog_dir)
    failures: list[str] = []
    attempted = 0
    try:
        with open(run.reference_path) as fh:
            ref_walls = json.load(fh)
    except FileNotFoundError:
        _, ref = run.spawn(wl["cfg"], "untraced")
        failures += run.check_ops(wl, ref["ops"])
        attempted += len(ref["ops"])
        ref_walls = [op["wall_s"] for op in ref["ops"] if not op.get("warmup")]
    cfg = dict(wl["cfg"], trace=True, conf=run.conf(trace=True))
    _, res = run.spawn(cfg, "traced")
    failures += run.check_ops(wl, res["ops"])
    ops = res["ops"]
    attempted += len(ops)
    timed = [op for op in ops if not op.get("warmup")]
    (log_path,) = glob.glob(os.path.join(run.eventlog_dir, "*"))
    try:
        log = parse_event_log(log_path)
    except EventLogError as e:
        failures.append(f"event log self-check: {e}")
        log = {}

    spans = res["spans"]
    warm = ops[0]
    same_kind = [op["wall_s"] for op in timed if op["kind"] == warm["kind"]]
    m = {
        "session.get_spark_s": _span_total(spans, "session.get_spark", {None}),
        "session.warmup_extra_s": warm["wall_s"] - statistics.median(same_kind),
        **_per_op(timed, log, run.cores),
        "trace.overhead_ratio": statistics.mean(op["wall_s"] for op in timed)
        / statistics.mean(ref_walls),
    }
    extra: dict[str, float] = {}
    notes: list[str] = []
    if args.workload == "query_battery":
        ids = {op["op"] for op in timed}
        extra["catalog.plan_build_s"] = _span_total(spans, "catalog.plan_build", ids) / len(ids)
        extra["catalyst.planning_s"] = _span_total(spans, "catalyst.planning", ids) / len(ids)
        for op in timed:
            extra[f"catalog.{op['kind']}.s"] = op["wall_s"]
    else:
        extra.update(_ingest_layers(run, wl, res, timed, failures, notes))

    trace_path = os.path.join(run.work, f"trace-{args.workload}.json")
    with open(trace_path, "w") as fh:
        json.dump(
            {
                "seed": args.seed,
                "spans": spans,
                "ops": ops,
                "event_log": {
                    op: {k: v for k, v in rec.items() if k != "intervals"}
                    for op, rec in log.items()
                },
                "probes": res["probes"],
                "metrics": {**m, **extra},
            },
            fh,
            indent=1,
        )
    print(f"workload {args.workload}  seed {args.seed}  local[{run.cores}]  traced;"
          f" spans and per-operation records in {os.path.relpath(trace_path)}")
    for name, unit in COMMON:
        print(f"  {name:40s} {m[name]:.6g} {unit}")
    for name, value in extra.items():
        print(f"  {name:40s} {value:.6g}")
    for line in notes:
        print(f"  {line}")
    for f in failures:
        print(f"  FAILED {f}")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {name: {"value": m[name], "unit": unit} for name, unit in COMMON},
    }


def _ingest_layers(
    run, wl: dict, res: dict, timed: list[dict], failures: list, notes: list
) -> dict:
    """The ingest layers from the probe calls; appends the breakdown of
    the convert() wall to ``notes``."""
    fx, n = wl["expect"], run.cores
    probes = res["probes"]
    w = walker_probe(fx)
    if not w["ok"]:
        failures.append("walker probe: leaf digest differs from the generator's")
    convert_s = statistics.median(op["wall_s"] for op in timed)
    written = [op for op in timed if "out_bytes" in op]
    scan_s = probes["archive_source.scan"]["wall_s"]
    pipeline_s = probes["plans.convert.entries_pipeline"]["wall_s"]
    rows_in = probes["archive_source.scan"]["rows"]
    rows_out = probes["plans.convert.entries_pipeline"]["rows"]
    rows_filtered = probes.get("plans.convert.entries_pipeline.no_dedup", {}).get("rows", rows_out)
    out = {
        "walker.mb_per_s_1t": fx.payload_bytes / 1e6 / w["walk_s"],
        "walker.entries_per_s_1t": fx.entries / w["walk_s"],
        "walker.meta_mb_per_s_1t": fx.payload_bytes / 1e6 / w["meta_s"],
        "archive_source.arrow_build_mb_per_s_1t": fx.payload_bytes / 1e6 / w["arrow_s"],
        "archive_source.scan_s": scan_s,
        "archive_source.boundary_s": scan_s - (w["walk_s"] + w["arrow_s"]) / n,
        "datasource.scan_s": probes["datasource.scan"]["wall_s"],
        "filters_dedup.s": pipeline_s - scan_s,
        "filters.pass_ratio": rows_filtered / rows_in,
        "dedup.useful_ratio": rows_out / rows_filtered,
        "sink.s": convert_s - pipeline_s,
        "sink.bytes_written": statistics.median(op["out_bytes"] for op in written),
        "sink.files": statistics.median(op["out_files"] for op in written),
    }
    parts = (
        ("walker busy / N", w["walk_s"] / n),
        ("arrow build busy / N", w["arrow_s"] / n),
        ("boundary", out["archive_source.boundary_s"]),
        ("filters + dedup", out["filters_dedup.s"]),
        ("sink", out["sink.s"]),
    )
    notes.append(
        f"convert() wall {convert_s:.4f} s = "
        + " + ".join(f"{k} {v:.4f}" for k, v in parts)
        + f" + residual {convert_s - sum(v for _, v in parts):.4f}"
    )
    notes.append(
        f"output bytes per input byte {out['sink.bytes_written'] / fx.payload_bytes:.6f}"
        f" over {out['sink.files']:.0f} files"
    )
    return out
