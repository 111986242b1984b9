"""What every workload of the benchmark shares: sizing the session for the
host, the set-up rounds, the host control, the closed timed loop, the
traced run and the metrics common to all workloads.

A workload subclasses ``Bench`` and provides ``make_inputs``, ``load``,
``one_op``, ``traced_op``, ``run_checks`` and ``per_layer``.
"""

from __future__ import annotations

import ctypes
import os
import statistics
import sys
import time
import traceback

from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_ROUNDS = 6
SETUP_WARMING = 2  # first rounds, still warming up: left out of setup_s
CONTROL_ROUNDS = 8  # right before the timed operation
CONTROL_ROWS = 20_000_000
# A typical host_control_s() round on a 4-core host. Times are reported
# scaled by CONTROL_REF_S / (this run's control time): the host's speed
# drifts by up to 2x within an hour.
CONTROL_REF_S = 0.3


def configure_env() -> dict[str, str]:
    """Size the session for this host through the env vars
    ``session.get_spark`` reads, and keep every file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet files) under path."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def host_control_s(spark, cores: int, rounds: int = CONTROL_ROUNDS) -> list[float]:
    """Timings of one JVM-only Spark job (hash and filter CONTROL_ROWS
    generated rows, one task per core) that runs no program code and
    crosses no Python boundary. It tracks how fast this host runs Spark
    right now."""
    from pyspark.sql import functions as F

    df = spark.range(0, CONTROL_ROWS, numPartitions=cores).filter(
        F.xxhash64("id") % 7 == 0
    )
    out = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        df.count()
        out.append(time.perf_counter() - t0)
    return out


def start_python_workers(spark, cores: int) -> None:
    """One pass-through Arrow job per core, so the session's Python workers
    are running before the timed operation."""
    def identity(batches):
        yield from batches

    df = spark.range(0, cores, numPartitions=cores)
    df.mapInArrow(identity, df.schema).count()


def reset_peak_rss() -> None:
    """Return freed heap to the OS (input generation leaves ~10 MB that
    later allocations would reuse unseen), then reset this process's peak
    RSS (VmHWM) to its current RSS."""
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


class Bench:
    layers: tuple[str, ...]  # the layers the traced run reports

    def __init__(self, args, wl: dict):
        self.args = args
        self.wl = wl
        self.size = wl["min_size"] if args.size == "min" else wl["size"]
        self.conf = configure_env()
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.ops: list[dict] = []
        self.failed_ops = 0
        self.checks: list[tuple[str, bool, str]] = []

    def start(self) -> None:
        from vectrain_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra=self.conf)

    def setup(self) -> None:
        """Start the session and make the inputs; then SETUP_ROUNDS times
        stop the session, start a new one and load the inputs (setup_s is
        the median start + load after the first SETUP_WARMING rounds); then
        start the Python workers and warm the host control."""
        t0 = time.perf_counter()
        self.start()
        self.launch_s = time.perf_counter() - t0
        self.make_inputs()
        self.setup_rounds, self.start_rounds = [], []
        for _ in range(SETUP_ROUNDS):
            # not timed: tearing down the previous session is not set-up, and
            # its accumulator-server shutdown waits 0.1-0.4 s on a 0.5 s poll
            self.spark.stop()
            t0 = time.perf_counter()
            self.start()
            t1 = time.perf_counter()
            self.load()
            self.setup_rounds.append(time.perf_counter() - t0)
            self.start_rounds.append(t1 - t0)
        t0 = time.perf_counter()
        start_python_workers(self.spark, self.cores)
        host_control_s(self.spark, self.cores, rounds=2)
        self.workers_s = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup("perfbench-untraced", "untraced")

    def attempt(self, fn) -> dict | None:
        """Run one operation; a failure is counted and the run goes on."""
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.failed_ops += 1
            return None

    def timed_loop(self) -> None:
        """A closed loop with one caller until --seconds have passed (at
        least one operation). The first operation is the session's first:
        it pays JIT compilation and code generation, as a batch job in a
        fresh session does."""
        reset_peak_rss()
        t_start = time.perf_counter()
        while not self.ops or time.perf_counter() - t_start < self.args.seconds:
            op = self.attempt(self.one_op)
            if op is not None:
                self.ops.append(op)
            elif not self.ops:
                break
        self.peak_rss_mb = peak_rss_mb()

    def traced_run(self) -> dict | None:
        """The session's first operation, traced."""
        tracer = Tracer(self.spark, f"{self.args.workload}-{self.args.seed}", self.layers)
        op = self.attempt(lambda: self.traced_op(tracer))
        if op is None:
            return None
        self.ops.append(op)
        return {"op": op, "report": tracer.report(self.cores)}

    def run(self) -> dict:
        t0 = time.perf_counter()
        self.setup()
        t1 = time.perf_counter()
        # the rounds right before the operation: rounds after it run into
        # the operation's own clean-up and garbage collection
        controls = host_control_s(self.spark, self.cores)
        self.control_s = statistics.median(controls)
        if self.args.trace:
            traced = self.traced_run()
        else:
            self.timed_loop()
        t2 = time.perf_counter()
        if self.ops:
            try:
                self.checks = self.run_checks()
            except Exception as e:
                traceback.print_exc()
                self.checks = [("checks", False, f"raised {e!r}")]
        for name, ok, detail in self.checks:
            print(f"[{'ok' if ok else 'FAIL'}] {name}: {detail}", file=sys.stderr)
        t3 = time.perf_counter()
        print(f"host control {[round(x, 3) for x in controls]}, "
              f"setup rounds {[round(x, 2) for x in self.setup_rounds]}, "
              f"ops {[round(op['wall_s'], 2) for op in self.ops]}", file=sys.stderr)
        for op in self.ops:
            if "steps" in op:
                print(f"steps {({k: round(v, 2) for k, v in op['steps'].items()})}", file=sys.stderr)
        print(f"phases: setup {t1 - t0:.1f}s (launch {self.launch_s:.1f}s, workers "
              f"{self.workers_s:.1f}s) timed {t2 - t1:.1f}s checks {t3 - t2:.1f}s", file=sys.stderr)
        attempted = len(self.ops) + self.failed_ops + len(self.checks)
        failed = self.failed_ops + sum(not ok for _n, ok, _d in self.checks)
        metrics: dict[str, float] = {}
        if self.args.trace:
            if traced is not None:
                metrics = self.per_layer_all(traced)
                metrics["run.fail_ratio"] = failed / attempted
                self.write_trace(traced, metrics)
        elif self.ops:
            metrics = self.end_to_end()
        return {"attempted": attempted, "failed": failed, "metrics": metrics}

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict[str, float]:
        scale = CONTROL_REF_S / self.control_s
        wall = statistics.median(op["wall_s"] for op in self.ops) * scale
        last = self.ops[-1]
        return {
            "setup_s": statistics.median(self.setup_rounds[SETUP_WARMING:]) * scale,
            "wall_s": wall,
            "triples_per_s": last["triples"] / wall,
            "write_amp": last["bytes_written"] / self.input_bytes,
            "driver_peak_rss_mb": self.peak_rss_mb,
        }

    @staticmethod
    def layer_metrics(report: dict) -> dict[str, float]:
        return {
            f"{layer}.{k}": v for layer, d in report["layers"].items() for k, v in d.items()
        }

    def per_layer_all(self, traced: dict) -> dict[str, float]:
        m = self.per_layer(traced)
        m["pipeline.leaked_rdds"] = max(op["leaked_rdds"] for op in self.ops)
        m["session.launch_s"] = self.launch_s
        m["session.start_s"] = statistics.median(self.start_rounds[SETUP_WARMING:])
        m["session.workers_s"] = self.workers_s
        m["trace.overhead_s"] = traced["report"]["overhead_s"]
        m["host.control_s"] = self.control_s
        m["run.wall_raw_s"] = traced["op"]["wall_s"]
        m["run.setup_raw_s"] = statistics.median(self.setup_rounds[SETUP_WARMING:])
        return m

    def write_trace(self, traced: dict, metrics: dict) -> None:
        import json

        path = self.args.trace_out or os.path.join(WORK, f"trace_{self.args.workload}.json")
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        doc = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cores": self.cores,
            "size": self.size,
            "traced_wall_s": traced["op"]["wall_s"],
            "host_control_s": self.control_s,
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in self.checks],
            "per_layer": metrics,
            **{k: v for k, v in traced["report"].items() if k != "layers"},
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=float)
