#!/usr/bin/env python3
"""Benchmark of the engine's registry entries and layer probes, each
consumed in full.

Run from the repository root:

    python3 perfbench/run.py --workload train_curate --seed 1 --seconds 10 --trace 0

One client calls a workload's entries one after another (a closed
loop) on ``local[4]``; ``workloads.py`` lists them. Every result is
consumed in full with a noop write, so no output column can be pruned
away. The input tables are the fixed sf0.001 test tables; the seed
permutes the entry order of every pass.

A run sets up the SparkSession and imports the registry (``setup_s``),
runs one untimed pass whose outputs are checked (DuckDB oracle, or the
row count of a rows-only entry), stamps a fixed-work host calibration,
and then runs timed passes: at least MIN_PASSES of them, for at least
``--seconds``, unless the next pass would end after DEADLINE_S.
``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, plus the
tracing overhead as the difference between the two kinds of pass. Spans of the traced passes are written to
``.perfbench/`` at the end of the run.

The last line of stdout is the result object; the line before it is a
record of the run: pass times, entry times, checks and calibration.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from tracing import Tracer  # noqa: E402
from workloads import EXPECTED_ROWS, LAYERS, WORKLOADS, calls  # noqa: E402

CPUS = 4
DRIVER_MEM = "2g"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
MIN_PASSES = 2
# No pass starts if it would end later than this after process start: a run
# then stays within its share of the time all runs of the benchmark get.
DEADLINE_S = 75
RUN_LIMIT_S = 170
LAYER_COUNTERS = ("build_s", "exec_s", "driver_s", "jobs", "tasks", "executor_run_s",
                  "shuffle_write_mb", "spill_mb")
STREAM_COUNTERS = ("run_id_jobs", "batches", "input_rows", "add_batch_s", "commit_s", "state_rows")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_s = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_s


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def prepare_env(tmp: Path) -> None:
    """Point every child process at the repository and every scratch
    write at ``tmp`` inside the checkout."""
    paths = [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # Python workers import the package
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
        # A fixed heap and young generation: peak RSS then follows the data the
        # program retains, not the collector's sizing heuristics. No perf-data
        # file: the JVM writes it to the system temp directory, not java.io.tmpdir.
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn512m -XX:-UsePerfData",
        "pyspark-shell",
    ])


@dataclass
class EntryRun:
    name: str
    release_s: float = 0.0
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.release_s + self.build_s + self.exec_s


@dataclass
class PassRun:
    traced: bool
    wall_s: float
    entries: list[EntryRun]


class Bench:
    def __init__(self, spark, registry, data: str, workload) -> None:
        from flink_parameter_server_spark import scratch

        self.spark = spark
        self.scratch = scratch
        self.specs = calls(registry, workload)
        self.data = data
        self.checks: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0

    def call(self, name: str, tracer=None, pass_span=None, check=None) -> EntryRun:
        """One closed-loop call: release scratch, build, consume in full."""
        run = EntryRun(name)
        self.attempted += 1
        first_job = tracer.next_job_id() if tracer else 0
        t0 = time.time()
        self.scratch.release()
        t1 = time.time()
        if tracer:
            run.counters["live_rdds"] = len(self.scratch.persistent_rdd_ids(self.spark))
        t2 = t3 = t4 = time.time()
        try:
            df = self.specs[name].fn(self.spark, self.data)
            t3 = time.time()
            if check:  # the check collects the result, which consumes it in full
                ok, msg = check(name, df)
                self.checks[name] = msg
                run.error = None if ok else msg
            else:
                df.write.format("noop").mode("overwrite").save()
            t4 = time.time()
        except Exception as exc:  # an entry failure is counted, and the run goes on
            t3, t4 = max(t3, t2), time.time()
            run.error = f"{type(exc).__name__}: {str(exc)[:300]}"
            self.checks[name] = run.error
            traceback.print_exc(file=sys.stderr)
        run.release_s, run.build_s, run.exec_s = t1 - t0, t3 - t2, t4 - t3
        self.failed += run.error is not None
        if tracer:
            entry = tracer.spans.open("entry", pass_span, t0, entry=name,
                                      layer=self.specs[name].layer)
            entry.end = t4
            tracer.spans.add("release", entry, t0, t1)
            build = tracer.spans.add("build", entry, t2, t3)
            exec_ = tracer.spans.add("exec", entry, t3, t4)
            run.counters.update(tracer.collect(first_job, tracer.next_job_id(), build, exec_))
        return run

    def run_pass(self, order: list[str], tracer=None, run_span=None, check=None) -> PassRun:
        t0 = time.time()
        span = tracer.spans.open("pass", run_span, t0) if tracer else None
        entries = [self.call(name, tracer, span, check) for name in order]
        wall = time.time() - t0
        if span:
            span.end = t0 + wall
        return PassRun(tracer is not None, wall, entries)


def make_checker(data: str, specs):
    """Output check: the DuckDB oracle at the same scale, or the row count
    of a rows-only entry."""
    import duckdb

    from tests.oracle import compare

    con = duckdb.connect()
    con.execute(f"SET threads={CPUS}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    def check(name: str, df) -> tuple[bool, str]:
        oracle = specs[name].oracle
        if oracle is not None:
            return compare(df, con, oracle)
        rows, want = len(df.collect()), EXPECTED_ROWS[name]
        return rows == want, f"rows-only: {rows} rows, expected {want}"

    return check, con


def calibrate(spark) -> dict:
    """Fixed work, timed, to record how fast the host ran this time."""
    t0 = time.perf_counter()
    spark.range(0, 10_000_000, 1, CPUS).selectExpr("sum(id % 7) AS s").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i % 7
    t2 = time.perf_counter()
    return {"spark_range_s": t1 - t0, "python_loop_s": t2 - t1}


def layer_metrics(passes: list[PassRun], specs) -> dict:
    """Per-layer counters of each traced pass, as medians over those passes."""
    per_pass = []
    for p in passes:
        m = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in LAYER_COUNTERS}
        m.update({f"streaming.{k}": 0.0 for k in STREAM_COUNTERS})
        m["scratch.release_s"] = m["scratch.live_rdds"] = 0.0
        for e in p.entries:
            layer = specs[e.name].layer
            c = e.counters
            m[f"{layer}.build_s"] += e.build_s
            m[f"{layer}.exec_s"] += e.exec_s
            for k in LAYER_COUNTERS[2:]:
                m[f"{layer}.{k}"] += c[k]
            for k in STREAM_COUNTERS:
                m[f"streaming.{k}"] += c["stream"][k]
            m["scratch.release_s"] += e.release_s
            m["scratch.live_rdds"] = max(m["scratch.live_rdds"], c["live_rdds"])
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def measure(args, bench: Bench, spark, check) -> tuple[list[PassRun], dict]:
    rng = random.Random(args.seed)
    names = list(bench.specs)

    def order() -> list[str]:
        rng.shuffle(names)
        return list(names)

    record: dict = {}
    checked = bench.run_pass(order(), check=check)
    record["check_pass_s"] = checked.wall_s
    record["check_pass"] = {e.name: [e.release_s, e.build_s, e.exec_s] for e in checked.entries}
    record["calibration"] = calibrate(spark)

    tracer = Tracer(spark) if args.trace else None
    run_span = tracer.spans.open("run", None, time.time(), workload=args.workload) if tracer else None
    # Both kinds of pass are needed under --trace 1: the untraced ones for
    # the overhead, the traced ones for every per-layer metric.
    needed = {False, True} if args.trace else {False}
    passes: list[PassRun] = []
    window = time.time()
    while True:
        have_all = needed <= {p.traced for p in passes}
        est = statistics.median(p.wall_s for p in passes) if passes else 0.0
        if have_all and process_age_s() + est > DEADLINE_S:
            break
        if have_all and len(passes) >= MIN_PASSES and time.time() - window >= args.seconds:
            break
        traced = bool(args.trace) and len(passes) % 2 != args.seed % 2
        if traced:
            tracer.start()
        try:
            passes.append(bench.run_pass(order(), tracer if traced else None, run_span))
        finally:
            if traced:
                tracer.stop()
    record["window_s"] = time.time() - window
    if tracer:
        run_span.end = time.time()
        out = ROOT / ".perfbench" / f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json"
        tracer.spans.write(out)
        record["trace_file"] = str(out.relative_to(ROOT))
    return passes, record


def result_metrics(args, passes: list[PassRun], specs, setup_s: float, rss_mb: float) -> dict:
    plain = [p for p in passes if not p.traced]
    if not args.trace:
        return {
            "wall_s": {"value": statistics.median(p.wall_s for p in plain), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        }
    traced = [p for p in passes if p.traced]
    m = layer_metrics(traced, specs)
    # The first timed pass is still warming up, so the overhead compares the
    # later passes when they hold both kinds.
    later = passes[1:] if {p.traced for p in passes[1:]} == {True, False} else passes
    m["trace.wall_s"] = statistics.median(p.wall_s for p in later if p.traced)
    m["trace.untraced_wall_s"] = statistics.median(p.wall_s for p in later if not p.traced)
    m["trace.overhead_s"] = m["trace.wall_s"] - m["trace.untraced_wall_s"]
    m["trace.accounted_share"] = statistics.median(
        sum(e.wall_s for e in p.entries) / p.wall_s for p in traced
    )
    online = [e for p in plain for e in p.entries if e.name == "online_ps_sequential"]
    rows = [e.counters["stream"]["input_rows"] for p in traced for e in p.entries
            if e.name == "online_ps_sequential"]
    m["streaming.online_records_per_s"] = (
        statistics.median(rows) / statistics.median(e.build_s + e.exec_s for e in online)
        if online and rows else 0.0
    )
    units = {"_per_s": "1/s", "_s": "s", "_mb": "MB", "_share": "share"}
    return {
        k: {"value": v, "unit": next((u for sfx, u in units.items() if k.endswith(sfx)), "count")}
        for k, v in m.items()
    }


def data_dir() -> str:
    """The test suite's sf0.001 tables. At this scale most calls are
    bound by per-job and per-plan overhead rather than by data volume;
    a run cannot afford the cold check pass of a larger scale."""
    from tests.conftest import SF_SMALL

    return SF_SMALL


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers it started, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if proc:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(kids, 30)


def main(argv=None) -> int:
    # A stuck run ends here with a stack dump and no result; the JVM exits
    # when this process's exit closes its stdin.
    faulthandler.dump_traceback_later(RUN_LIMIT_S, exit=True)
    args = parse_args(argv)
    if not (ROOT / "flink_parameter_server_spark").is_dir() or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: the engine package is not under {ROOT}", file=sys.stderr)
        return 2
    data = data_dir()
    missing = [t for t in TABLES if not os.path.exists(f"{data}/{t}.parquet")]
    if missing:
        print(f"perfbench: tables {missing} missing under {data}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench"
    tmp = work / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True)
    prepare_env(tmp)
    spark = con = None
    try:
        from flink_parameter_server_spark.session import get_spark

        spark = get_spark("perfbench")
        from flink_parameter_server_spark.plans import REGISTRY

        setup_s = process_age_s()
        spark.sparkContext.setLogLevel("ERROR")
        bench = Bench(spark, REGISTRY, data, WORKLOADS[args.workload])
        check, con = make_checker(data, bench.specs)
        passes, record = measure(args, bench, spark, check)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        metrics = result_metrics(args, passes, bench.specs, setup_s, rss_mb)
    finally:
        if con is not None:
            con.close()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    errors = {e.name: e.error for p in passes for e in p.entries if e.error}
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "data": data,
        "cpus": CPUS, "setup_s": setup_s, "process_s": process_age_s(),
        "passes": [{"traced": p.traced, "wall_s": p.wall_s,
                    "entries": {e.name: [e.release_s, e.build_s, e.exec_s] for e in p.entries}}
                   for p in passes],
        "checks": bench.checks, "errors": errors,
        "failed_share": bench.failed / bench.attempted,
    })
    print(json.dumps({"record": record}), flush=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
