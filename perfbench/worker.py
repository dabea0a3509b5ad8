"""The Spark side of the benchmark: one process, one SparkSession.

``run.py`` starts this as ``python3 perfbench/worker.py <config.json>``.
The worker builds the session with ``get_spark``, runs one untimed
warm-up operation of its workload, then writes one byte to the file
descriptor named in the config: the parent times set-up as the span from
starting this process to that byte. It then runs the workload's
operations for the configured seconds and writes a result JSON. Output
checks run in the parent, after this process has ended.
"""

from __future__ import annotations

import json
import os
import sys
import time
import zipfile
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

# The query battery: 11 catalog entries, run in an order fixed by the seed.
BATTERY = (
    "q1_projection_hash",
    "tpch_q01_pricing_summary",
    "tpch_q09_product_profit",
    "rel_revenue_by_nation",
    "text_lang_id",
    "multimodal_header_decode",
    "dedup_minhash",
    "search_hybrid_rrf",
    "graph_pagerank",
    "dedup_ngram_jaccard",
    "cluster_kmeans",
)


class Tracer:
    """Spans kept in memory: name, start, end, parent span, operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def ship_package(spark, work_dir: str) -> None:
    """``session.ensure_package_shipped`` with the zip staged in the
    benchmark's work directory instead of ``/tmp``, so a run writes
    nothing outside its checkout. Same zip contents, same ``addPyFile``."""
    sc = spark.sparkContext
    if getattr(sc, "_a2p_pkg_shipped", False):
        return
    pkg = os.path.join(ROOT, "archive_to_parquet_spark")
    zip_path = os.path.join(work_dir, f"pkg-{os.getpid()}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    sc.addPyFile(zip_path)
    sc._a2p_pkg_shipped = True


def process_tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def peak_rss_mb(tree: set[int]) -> float:
    """Sum of VmHWM over the processes of ``tree``."""
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s(tree: set[int]) -> float:
    """User + system CPU seconds of ``tree``, reaped children included."""
    ticks = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _options(fields: dict):
    from archive_to_parquet_spark.options import ConvertOptions, IncludeType

    fields = dict(fields)
    if "include" in fields:
        fields["include"] = IncludeType.parse(fields["include"])
    return ConvertOptions(**fields)


def _noop_count(df) -> int:
    """Run ``df`` into the ``noop`` sink and return its row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench_rows")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


class Worker:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.tracer = Tracer()
        self.spark = None
        self.ops: list[dict] = []
        self.probes: dict[str, dict] = {}
        self.results: dict[str, tuple] = {}  # battery op id -> (columns, rows)

    def _op_scope(self, op_id: str):
        # every job of the operation carries this property in the event log
        self.spark.sparkContext.setLocalProperty("perfbench.op", op_id)

    def setup(self) -> None:
        """get_spark, then one untimed warm-up operation of the workload."""
        cfg = self.cfg
        from archive_to_parquet_spark import session

        session.ensure_package_shipped = lambda s: ship_package(s, cfg["work"])
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(
                "perfbench", master=f"local[{cfg['cores']}]", extra_conf=cfg["conf"]
            )
        if cfg["workload"] == "query_battery":
            from archive_to_parquet_spark.queries import queries

            self.catalog = queries()
            self.entry("warmup", cfg["warmup_entry"])
        else:
            self.convert("warmup")
        self.ops[-1]["warmup"] = True
        os.write(cfg["ready_fd"], b"R")
        os.close(cfg["ready_fd"])
        self.cpu_ready_s = cpu_s(process_tree(os.getpid()))

    def convert(self, op_id: str) -> None:
        from archive_to_parquet_spark.plans.convert import convert

        cfg = self.cfg
        out = os.path.join(cfg["out_root"], op_id)
        rec = {"op": op_id, "kind": "convert", "output": out}
        self._op_scope(op_id)
        with self.tracer.span("plans.convert.convert", op=op_id) as sp:
            t = time.perf_counter()
            try:
                counters = convert(
                    self.spark, cfg["paths"], out, _options(cfg["options"])
                )
                rec["counters"] = [counters.output_rows, counters.output_bytes]
            except Exception as e:  # counted as a failed operation
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            rec["wall_s"] = time.perf_counter() - t
        rec["start"], rec["end"] = sp["start"], sp["end"]
        self.ops.append(rec)

    def entry(self, op_id: str, name: str) -> None:
        rec = {"op": op_id, "kind": name}
        rows = None
        self._op_scope(op_id)
        with self.tracer.span(f"catalog.{name}", op=op_id) as sp:
            t = time.perf_counter()
            try:
                with self.tracer.span("catalog.plan_build", op=op_id):
                    df = self.catalog[name](self.spark, self.cfg["data_dir"])
                if self.cfg["trace"]:
                    with self.tracer.span("catalyst.planning", op=op_id):
                        df._jdf.queryExecution().executedPlan()
                with self.tracer.span("catalog.execute", op=op_id):
                    rows = df.collect()
            except Exception as e:  # counted as a failed operation
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            rec["wall_s"] = time.perf_counter() - t
        rec["start"], rec["end"] = sp["start"], sp["end"]
        if rows is not None:  # hashed in finish(), outside the CPU window
            self.results[op_id] = (df.columns, rows)
        self.ops.append(rec)

    def run(self) -> None:
        """Closed loop, one client: each operation starts when the last ends.
        Ingest runs at least ``min_ops`` converts; the battery runs whole
        passes only, so every run times the same set of entries."""
        cfg = self.cfg
        battery = cfg["workload"] == "query_battery"
        rounds = 1 if battery else cfg["min_ops"]
        deadline = time.perf_counter() + cfg["seconds"]
        i = 0
        while i < rounds or time.perf_counter() < deadline:
            if battery:
                for name in cfg["order"]:
                    self.entry(f"p{i}.{name}", name)
            else:
                self.convert(f"op{i:03d}")
            i += 1
        self.cpu_timed_s = cpu_s(process_tree(os.getpid())) - self.cpu_ready_s

    def run_probes(self) -> None:
        """Traced run only: the derived layers' separate probe calls."""
        from archive_to_parquet_spark.plans.convert import entries_pipeline
        from archive_to_parquet_spark.sources.archive_source import read_archives
        from archive_to_parquet_spark.sources.datasource import register

        cfg = self.cfg
        paths = cfg["paths"]
        options = _options(cfg["options"])
        calls = {
            "archive_source.scan": lambda: read_archives(self.spark, paths, options),
            "plans.convert.entries_pipeline": lambda: entries_pipeline(
                self.spark, paths, options
            ),
            "datasource.scan": lambda: self.spark.read.format("archive")
            .option("paths", ",".join(paths))
            .load(),
        }
        if options.unique:
            filters_only = _options({**cfg["options"], "unique": False})
            calls["plans.convert.entries_pipeline.no_dedup"] = lambda: entries_pipeline(
                self.spark, paths, filters_only
            )
        register(self.spark)
        for name, build in calls.items():
            self._op_scope(name)
            with self.tracer.span(name, op=name) as sp:
                t = time.perf_counter()
                rows = _noop_count(build())
                wall = time.perf_counter() - t
            self.probes[name] = {
                "wall_s": wall, "rows": rows, "start": sp["start"], "end": sp["end"],
            }

    def finish(self) -> None:
        from check_correctness import value_hash

        cfg = self.cfg
        tree = process_tree(os.getpid())
        for op in self.ops:
            if op["op"] in self.results:
                cols, rows = self.results.pop(op["op"])
                op["rows"] = len(rows)
                op["value_hash"] = value_hash(cols, [tuple(r) for r in rows])
        result = {
            "ops": self.ops,
            "probes": self.probes,
            "spans": self.tracer.spans,
            "peak_rss_mb": peak_rss_mb(tree),
            "rss_processes": len(tree),
            "cpu_timed_s": self.cpu_timed_s,
        }
        self.spark.stop()
        with open(cfg["result"] + ".tmp", "w") as fh:
            json.dump(result, fh)
        os.replace(cfg["result"] + ".tmp", cfg["result"])


def main(config_path: str) -> int:
    with open(config_path) as fh:
        cfg = json.load(fh)
    w = Worker(cfg)
    w.setup()
    w.run()
    if cfg["trace"] and cfg["workload"] != "query_battery":
        w.run_probes()
    w.finish()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
