"""spark-graft benchmark: three closed-loop workloads, one client each,
on a ``local[<cores>]`` session.

    python3 perfbench/run.py --workload ingest_small_batches --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. A run generates its inputs from the
seed (``gen.py``), sets the workload up SETUPS times (the first in a
fresh JVM) and reports their median as ``setup_s``, runs untimed
warm-up ops, times ``op()`` in a closed loop for ``--seconds``
(finishing the op in flight), checks every output, and prints a report
line and then, as the last line, one JSON object:

- ``--trace 0``: the end-to-end metrics (BENCHMARK.json ``end_to_end``);
- ``--trace 1``: the same loop with spans and the Spark event log on,
  and the per-layer metrics (``per_layer``). Its report line carries the
  traced end-to-end numbers, so tracing overhead is traced - untraced.

Every file the run writes stays under ``.perfbench_work/`` in the
checkout; the JVM it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import gen
import layers
import spans
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # session + source registration; setup_s is their median
WARMUP_OPS = {  # untimed ops after the last set-up, towards the plateau
    "ingest_small_batches": 8,
    "lake_cdc_maintain": 2,
    "corpus_curate": 1,
}
DRIFT_BOUND = 0.15  # |calibration after / before - 1| that flags a run
E2E = [  # (name, unit)
    ("latency_p50_s", "s"),
    ("throughput_per_s", "1/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]


def calibrate(threads: int, seconds: float = 0.3) -> float:
    """Machine speed in MB/s of SHA-256, hashed on *threads* threads
    (hashlib releases the interpreter lock on large buffers)."""
    buf = os.urandom(1 << 20)
    done = [0] * threads
    stop = time.perf_counter() + seconds

    def work(i):
        while time.perf_counter() < stop:
            hashlib.sha256(buf).digest()
            done[i] += 1

    t0 = time.perf_counter()
    ts = [threading.Thread(target=work, args=(i,)) for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return sum(done) / (time.perf_counter() - t0)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def rss_peak_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Engine:
    """The Spark session a run uses, and the JVM behind it."""

    def __init__(self, work: str, cores: int, traced: bool):
        self.cores = cores
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every temporary file of Python, the JVMs and the Python
        # workers inside the checkout
        tempfile.tempdir = tmp
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ.update(TMPDIR=tmp,
                          SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                          SPARK_LAUNCHER_OPTS=jvm_opts,
                          SPARK_GRAFT_DRIVER_MEM="2g",
                          PYSPARK_PYTHON=sys.executable)
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"{jvm_opts} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = None
        if traced:
            self.event_dir = os.path.join(work, "eventlog")
            os.makedirs(self.event_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def start(self):
        from gobblin_spark import session

        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def pool_size(workload: str, seconds: int) -> int:
    """Ingest batches / lake cycles to generate: warm-up plus the most
    a run of *seconds* could use."""
    per_op = {"ingest_small_batches": 0.5, "lake_cdc_maintain": 1.0}
    if workload not in per_op:
        return 0
    return WARMUP_OPS[workload] + int(seconds / per_op[workload]) + 8


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_pct", "%"),
                         ("_samples", "count"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def summarize(lat, items):
    """Median and tail op latency; items per second of op time."""
    tv, tp, n = spans.tail(lat)
    return {"latency_p50_s": statistics.median(lat), "latency_tail_s": tv,
            "tail_percentile": tp, "samples": n,
            "throughput_per_s": sum(items) / sum(lat)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if importlib.util.find_spec("pyspark") is None:
        print("perfbench: pyspark is not installed", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("gobblin_spark") is None:
        print(f"perfbench: no gobblin_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    # one run per checkout at a time: runs share the work directory
    with open(os.path.join(ROOT, ".perfbench.lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print("perfbench: another run holds this checkout",
                  file=sys.stderr)
            return 3
        return run(a)


def run(a) -> int:
    """One benchmark run; prints the report and result lines."""
    t_process = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    calib_pre = calibrate(cores)
    cpu_pre = cpu_times()

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    props = gen.generate(a.workload, a.seed, inputs,
                         pool_size(a.workload, a.seconds))
    gen_s = time.perf_counter() - t0

    rec = spans.Recorder() if a.trace else None
    tracer = layers.Tracer(rec)
    if rec is not None:
        layers.install(rec)
    engine = Engine(work, cores, traced=bool(a.trace))
    wl = WORKLOADS[a.workload](work, inputs, props, tracer)

    attempted = failed = 0
    failures: list[str] = []

    def run_op():
        nonlocal attempted, failed
        attempted += 1
        try:
            op = wl.op()
        except Exception as ex:  # a failed op is counted, not fatal
            failed += 1
            failures.append(f"op {attempted}: {type(ex).__name__}: {ex}")
            return None
        if not op.ok:
            failed += 1
            failures.append(f"op {attempted}: " + ",".join(
                n for n, ok in op.checks if not ok))
        wl.between_ops()
        return op

    # -- set-up, SETUPS times; the first also launches the JVM ----------
    setup_s = []
    try:
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if k:
                engine.stop_session()
            spark = engine.start()
            wl.register(spark, k)
            setup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            for _ in range(WARMUP_OPS[a.workload]):
                run_op()
        warmup_s = time.perf_counter() - t0
        warm_attempted, warm_failed = attempted, failed

        # -- timed closed loop --------------------------------------------
        first_trace = (rec.trace_id + 1) if rec is not None else 0
        ops = []
        t_loop = time.perf_counter()
        to_first_op_s = t_loop - t_process - gen_s
        deadline = t_loop + a.seconds
        while time.perf_counter() < deadline:
            op = run_op()
            if op is None:
                break
            ops.append(op)
        loop_wall = time.perf_counter() - t_loop  # ops plus their checks

        checks = wl.final_checks()
        for name, ok in checks:
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"check {name}")
        cpu_post = cpu_times()
        calib_post = calibrate(cores)
        peak_rss = rss_peak_mb("self") + rss_peak_mb(engine.jvm_pid())
        app_id = spark.sparkContext.applicationId
    finally:
        engine.shutdown()
        if rec is not None:
            rec.restore()

    drift = calib_post / calib_pre - 1.0
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": cores, "gen_s": round(gen_s, 4),
        "setup_runs_s": [round(x, 4) for x in setup_s],
        "warmup_s": round(warmup_s, 4),
        "process_to_first_op_s": round(to_first_op_s, 4),
        "calib_pre_mb_s": round(calib_pre, 1),
        "calib_post_mb_s": round(calib_post, 1),
        "drift": round(drift, 4), "drift_flag": abs(drift) > DRIFT_BOUND,
        "steal_share": round(steal_share(cpu_pre, cpu_post), 4),
        "warmup_ops": warm_attempted, "warmup_failed": warm_failed,
        "ops": len(ops), "loop_wall_s": round(loop_wall, 4),
        "attempted": attempted, "failed": failed,
        "ops_failed_ratio": failed / attempted if attempted else 1.0,
        "failures": failures[:5],
        "inputs": {k: v for k, v in props.items()
                   if k not in ("expect", "windows")},
    }
    if not ops:
        print(json.dumps(report))
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    e2e = summarize([o.latency_s for o in ops], [o.items for o in ops])
    e2e["setup_s"] = statistics.median(setup_s)
    e2e["peak_rss_mb"] = peak_rss
    report["e2e"] = {k: round(v, 6) for k, v in e2e.items()}
    report["op_latencies_s"] = [round(o.latency_s, 3) for o in ops]
    named = wl.named_metrics(ops, e2e)
    named.update(setup_s=e2e["setup_s"], peak_rss_mb=peak_rss,
                 ops_failed_ratio=report["ops_failed_ratio"])
    report["named"] = {k: {"value": round(v, 6), "unit": unit_of(k)}
                       for k, v in named.items()}
    print(json.dumps(report))

    if a.trace:
        rec.dump(os.path.join(work, "spans.jsonl"))
        jobs = layers.event_log_jobs(engine.event_dir, app_id)
        per = layers.per_layer(rec, tracer, jobs, first_trace)
        metrics = {n: {"value": per[n], "unit": u}
                   for n, u, _ in layers.PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
