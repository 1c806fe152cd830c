"""Benchmark entry point for tantivy4java_spark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: ``ingest``, ``query_local``,
``query_remote``, or ``all`` (each of the three in a fresh child process).
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's public functions, turns on the Spark event log and reports the
per-layer metrics instead.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  See NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOAD_NAMES = ("ingest", "query_local", "query_remote")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


class Ctx:
    """Everything a workload needs: session, sizes, directories, tracer."""

    def __init__(self, args, spark, workdir, tracer):
        from perfbench.workloads import SIZES
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = SIZES[args.size]
        self.workdir = workdir
        self.root = ROOT
        self.cache_dir = os.path.join(BENCH_DIR, ".cache", args.size)
        self.tracer = tracer
        self.t_start = T_START
        self.notes: list = []
        self._marks = [("start", T_START)]

    def mark(self, label: str) -> None:
        """Close a set-up step; the steps are printed as one note."""
        self._marks.append((label, time.time()))

    def setup_steps(self) -> str:
        steps = [f"{label} {t - prev:.2f} s" for (_, prev), (label, t)
                 in zip(self._marks, self._marks[1:])]
        return "set-up steps: " + ", ".join(steps)

    def span(self, name: str):
        """A span when tracing, else a no-op context."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def jvm_gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1e3


def _session(workdir: str, trace: bool):
    """local[nproc], fixed shuffle partitions, a driver heap sized to the
    host, every scratch directory inside the run directory."""
    from pyspark.sql import SparkSession
    ncpu = os.cpu_count() or 1
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(4, int(mem_gb / 4)))
    b = (SparkSession.builder.master(f"local[{ncpu}]")
         .appName("tantivy4java_spark-perfbench")
         .config("spark.sql.shuffle.partitions", str(ncpu))
         .config("spark.driver.memory", f"{heap_gb}g")
         .config("spark.local.dir", os.path.join(workdir, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stat(pid: int):
    """(ppid, start time, state) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields[19], fields[0]


def _descendants(root: int) -> list:
    """Every process under ``root``, as (pid, start time) pairs."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append((int(name), st[1]))
    out, todo = [], [root]
    while todo:
        for pid, start in children.get(todo.pop(), []):
            out.append((pid, start))
            todo.append(pid)
    return out


def _alive(procs: list) -> list:
    """The (pid, start time) pairs still running (zombies count as ended)."""
    live = []
    for pid, start in procs:
        st = _stat(pid)
        if st is not None and st[1] == start and st[2] != "Z":
            live.append((pid, start))
    return live


def _wait_ended(procs: list, timeout: float) -> list:
    deadline = time.time() + timeout
    while procs and time.time() < deadline:
        time.sleep(0.05)
        procs = _alive(procs)
    return _alive(procs)


def _teardown(spark) -> None:
    """Stop the session, the Spark JVM this process launched and every
    process under it (the Python worker daemon and its workers), and wait
    until each has ended.  A JVM left behind would serve a later run warm;
    pyspark only lets it exit on its own once this process has gone."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            # the gateway server exits when its stdin reaches end of file
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = _wait_ended(tree, 10)
        for pid, _ in left:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        _wait_ended(left, 10)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.close()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _prepare_env(workdir: str) -> None:
    """Keep every file the run writes inside the run directory (the
    launcher and driver JVMs read SPARK_LAUNCHER_OPTS / SPARK_SUBMIT_OPTS),
    and let Spark's Python workers import the package and the benchmark."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (os.environ.get(var, "") + " " + opts).strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def run_one(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "tantivy4java_spark")):
        raise SystemExit("perfbench: no tantivy4java_spark package next to "
                         "perfbench/; run from the root of a checkout")
    workdir = os.path.join(BENCH_DIR, ".work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _prepare_env(workdir)
    from perfbench import hostdiag, report
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import WORKLOADS

    spark = None
    tracer = None
    try:
        spark = _session(workdir, bool(args.trace))
        if args.trace:
            tracer = Tracer()
            tracer.install()
        ctx = Ctx(args, spark, workdir, tracer)
        ctx.mark("spark session")
        res = WORKLOADS[args.workload](ctx)
        res.notes.extend(ctx.notes)
        res.notes.append(ctx.setup_steps())
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        res.extra["host.peak_rss_mb"] = hostdiag.peak_rss_mb(
            [os.getpid(), jvm_pid])
        _teardown(spark)
        spark = None
        traces = os.path.join(BENCH_DIR, ".traces")
        os.makedirs(traces, exist_ok=True)
        # the latest untraced result per workload and seed, for the
        # tracing overhead a later traced run reports
        untraced = os.path.join(traces, f"untraced-{args.workload}-"
                                        f"seed{args.seed}-{args.size}.json")
        if tracer is None:
            out = report.end_to_end(args.workload, res)
            with open(untraced, "w") as f:
                json.dump(out["metrics"], f)
            return out
        tracer.unwrap_all()
        events = EventLog(os.path.join(workdir, "eventlog"))
        out = report.per_layer(args.workload, res, tracer, events)
        out["notes"].append(report.overhead(out["metrics"], untraced))
        trace_dir = os.path.join(
            traces, f"{args.workload}-seed{args.seed}-{int(T_START)}")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        out["notes"].append(f"spans and layer table written to "
                            f"{os.path.relpath(trace_dir, ROOT)}")
        return out
    finally:
        _teardown(spark)  # a no-op once the JVM is down
        shutil.rmtree(workdir, ignore_errors=True)


def run_all(args) -> int:
    """Each workload in a fresh process; prints their lines and a summary."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        if proc.returncode != 0 or not lines:
            print(f"[{name}] exited with code {proc.returncode}")
            return 1
        out = json.loads(lines[-1])
        total["correct"] &= out["correct"]
        total["attempted"] += out["attempted"]
        total["failed"] += out["failed"]
        for k, v in out["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    # a SIGTERM unwinds through run_one's clean-up like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _parse(argv)
    if args.workload == "all":
        return run_all(args)
    out = run_one(args)
    for line in out.pop("table"):
        print(line)
    for note in out.pop("notes"):
        print(f"note: {note}")
    for msg in out.pop("failures")[:20]:
        print(f"FAILED: {msg}")
    for layer, sec in sorted(out.pop("self_time_s", {}).items()):
        print(f"self time {layer:12s} {sec:10.3f} s")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
