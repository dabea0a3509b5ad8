"""The repository's benchmark: archive ingest and a catalog query battery.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``ingest_bulk``: ``convert()`` of 16 tars of 64 KiB incompressible
  members (256 MiB, 4,096 entries) with the reference defaults;
- ``ingest_nested_dedup``: ``convert()`` of 16 gzip tars of deflate zips
  (64,000 small documents) with include=text, ``min_size`` and unique;
- ``query_battery``: 11 catalog entries over the committed sf0.01
  tables, in an order fixed by the seed.

Every workload is closed loop with one client at ``local[N]``, N = the
cores this process may run on. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the workload with Spark's event log on and
spans around each layer's public calls, and prints the per-layer metrics.
Every operation's output is checked; the process exits non-zero when any
check fails. The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("ingest_bulk", "ingest_nested_dedup", "query_battery")
FIXTURE_KIND = {"ingest_bulk": "bulk", "ingest_nested_dedup": "nested"}

MIN_INGEST_OPS = 2  # timed converts per run, at least
BATTERY_WARMUP = "q1_projection_hash"  # the battery's untimed warm-up entry
RUN_TIMEOUT_S = 170  # every worker of a run has ended by then


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least 10 samples above it."""
    n = len(values)
    if n <= 10:
        return None
    ranked = sorted(values)
    return 100.0 * (n - 10) / n, ranked[n - 11]


def _summary(name: str, unit: str, values: list[float]) -> str:
    if not values:
        return f"  {name:40s} n=0"
    q1, q2, q3 = _quartiles(values)
    return (
        f"  {name:40s} median={q2:.6g} {unit}  q1={q1:.6g}  q3={q3:.6g}  "
        f"n={len(values)}"
    )


def _group_members(pgid: int) -> list[int]:
    """Live processes of process group ``pgid``, from /proc."""
    members = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                members.append(int(entry))
    return members


def _wait_group_gone(pgid: int, deadline: float) -> None:
    while _group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.cores = _cores()
        self.work = WORK
        self.deadline = time.monotonic() + RUN_TIMEOUT_S
        self.dir = os.path.join(WORK, "runs", str(os.getpid()))
        self.env = dict(os.environ)
        self.env.update(
            SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
            TMPDIR=os.path.join(WORK, "tmp"),
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_GRAFT_TRACE="0",
            PYSPARK_PYTHON=sys.executable,
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the spark-submit launcher JVM
        )
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        os.makedirs(self.dir, exist_ok=True)

    def conf(self, trace: bool) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata file in /tmp: a run writes only inside its checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(WORK, "tmp"),
        }
        if trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    @property
    def eventlog_dir(self) -> str:
        return os.path.join(self.dir, "eventlog")

    def spawn(self, cfg: dict, tag: str) -> tuple[float, dict]:
        """Start a worker, time it to its ready byte, wait until it and
        every process it started have ended. Returns (set-up s, result)."""
        read_fd, write_fd = os.pipe()
        cfg = dict(cfg, ready_fd=write_fd, result=os.path.join(self.dir, f"{tag}.json"))
        cfg_path = os.path.join(self.dir, f"{tag}.cfg.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        log = open(os.path.join(self.dir, f"{tag}.log"), "wb")
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=ROOT,
            env=self.env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            pass_fds=(write_fd,),
            start_new_session=True,  # its JVM and Python workers share the group
        )
        os.close(write_fd)
        try:
            left = self.deadline - time.monotonic()
            ready, _, _ = select.select([read_fd], [], [], max(left, 0))
            got = os.read(read_fd, 1) if ready else b""
            setup_s = time.perf_counter() - t0
            rc = proc.wait(timeout=max(self.deadline - time.monotonic(), 0))
            _wait_group_gone(proc.pid, time.monotonic() + 10)
        finally:
            os.close(read_fd)
            if _group_members(proc.pid):
                os.killpg(proc.pid, signal.SIGKILL)
                if proc.poll() is None:
                    proc.wait()
                _wait_group_gone(proc.pid, time.monotonic() + 10)
            log.close()
        if got != b"R" or rc != 0:
            with open(log.name, "rb") as fh:
                tail = fh.read()[-3000:].decode("utf-8", "replace")
            raise RuntimeError(f"worker {tag} failed (exit {rc}):\n{tail}")
        with open(cfg["result"]) as fh:
            return setup_s, json.load(fh)

    @property
    def reference_path(self) -> str:
        """Where an untraced run leaves its timed operation walls."""
        return os.path.join(self.work, f"untraced-{self.args.workload}.json")

    def check_ops(self, wl: dict, ops: list[dict]) -> list[str]:
        """Check every operation; record output sizes; free the outputs."""
        import checks

        failures = []
        for op in ops:
            if self.args.workload == "query_battery":
                why = checks.check_battery(op, wl["expect"])
            else:
                why = checks.check_ingest(op, wl["expect"])
                if os.path.isdir(op["output"]):
                    op["out_bytes"], op["out_files"] = checks.output_files(op["output"])
                    shutil.rmtree(op["output"])
            op["ok"] = why is None
            if why is not None:
                failures.append(f"{op['op']} ({op['kind']}): {why}")
        return failures

    def base_cfg(self) -> dict:
        return {
            "workload": self.args.workload,
            "trace": False,
            "seconds": self.args.seconds,
            "cores": self.cores,
            "work": self.dir,
            "conf": self.conf(trace=False),
            "min_ops": MIN_INGEST_OPS,
            "warmup_entry": BATTERY_WARMUP,
        }


def prepare(run: Run) -> dict:
    """Inputs and expectations for the workload, outside any timing."""
    from fixtures import load_or_build

    args = run.args
    cfg = run.base_cfg()
    t = time.perf_counter()
    if args.workload == "query_battery":
        from checks import oracle_hashes
        from worker import BATTERY

        order = list(BATTERY)
        random.Random(args.seed).shuffle(order)
        expect = oracle_hashes(DATA_DIR, BATTERY)
        if args.corrupt_expectation:
            expect[order[0]] = "0" * 16
        cfg.update(order=order, data_dir=DATA_DIR)
    else:
        expect = load_or_build(WORK, FIXTURE_KIND[args.workload], args.seed)
        if args.corrupt_expectation:
            if expect.holders:
                expect.holders.pop(next(iter(expect.holders)))
            else:
                expect.digest = "0" * 64
        cfg.update(
            paths=expect.paths,
            options=expect.options,
            out_root=os.path.join(run.dir, "out"),
        )
    return {"cfg": cfg, "expect": expect, "prepare_s": time.perf_counter() - t}


def end_to_end(run: Run, wl: dict) -> dict:
    args = run.args
    setup_s, res = run.spawn(wl["cfg"], "measure")
    ops = res["ops"]
    failures = run.check_ops(wl, ops)
    timed = [op for op in ops if op["ok"] and not op.get("warmup")]
    walls = [op["wall_s"] for op in timed]
    if walls:  # the reference a later traced run divides by
        with open(run.reference_path, "w") as fh:
            json.dump(walls, fh)
    ops_per_s = len(walls) / sum(walls) if walls else 0.0
    n_timed = sum(1 for op in ops if not op.get("warmup"))
    cpu_s_per_op = res["cpu_timed_s"] / n_timed

    print(f"workload {args.workload}  seed {args.seed}  local[{run.cores}]  "
          f"closed loop, 1 client")
    print(f"  inputs prepared in {wl['prepare_s']:.2f} s (not timed)")
    if args.workload != "query_battery":
        fx = wl["expect"]
        print(f"  input: {len(fx.paths)} archives, {fx.entries} entries, "
              f"{fx.payload_bytes} payload bytes")
        print(_summary("ingest_mb_per_s", "MB/s", [fx.payload_bytes / 1e6 / w for w in walls]))
        print(_summary("ingest_entries_per_s", "entries/s", [fx.entries / w for w in walls]))
        print(_summary("output_bytes_per_input_byte", "ratio", [
            op["out_bytes"] / fx.payload_bytes for op in ops if "out_bytes" in op
        ]))
        print(_summary("ingest_mb_per_s / N (reference ~57)", "MB/s", [
            fx.payload_bytes / 1e6 / w / run.cores for w in walls
        ]))
        print(_summary("convert_latency_s", "s", walls))
    else:
        print("  entry walls in seeded order: " + " ".join(
            f"{op['kind']}={op['wall_s']:.3f}" for op in timed))
        print(f"  {'queries_per_s':40s} {ops_per_s:.6g} 1/s  n=1 pass")
        print(_summary("query_latency_p50_s", "s", walls))
        tail = _tail(walls)
        print(f"  {'query_latency_tail_s':40s} " + (
            f"p{tail[0]:.1f}={tail[1]:.6g} s  n={len(walls)}" if tail
            else f"n/a: n={len(walls)}, needs at least 11 samples"))
    print(f"  {'op_failure_ratio':40s} {len(failures)}/{len(ops)}")
    print(f"  {'peak_rss_mb':40s} {res['peak_rss_mb']:.1f} MB, sum of VmHWM over "
          f"{res['rss_processes']} processes")
    print(f"  {'setup_s':40s} {setup_s:.6g} s, of which the warm-up "
          f"{ops[0]['kind']} took {ops[0]['wall_s']:.6g} s")
    print(f"  {'ops_per_s':40s} {ops_per_s:.6g} 1/s")
    print(f"  {'cpu_s_per_op':40s} {cpu_s_per_op:.6g} s, process-tree CPU over "
          f"{n_timed} timed operations")
    for f in failures:
        print(f"  FAILED {f}")
    return {
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {
            "ops_per_s": {"value": ops_per_s, "unit": "1/s"},
            "cpu_s_per_op": {"value": cpu_s_per_op, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        },
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt-expectation",
        action="store_true",
        help="self-test: alter one expected value, so some operation must fail",
    )
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "archive_to_parquet_spark", "__init__.py")):
        print(
            "perfbench: the engine package archive_to_parquet_spark is not "
            f"next to {HERE}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    # a terminated run still stops its workers and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        wl = prepare(run)
        if args.trace:
            import layers

            result = layers.traced(run, wl)
        else:
            result = end_to_end(run, wl)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
