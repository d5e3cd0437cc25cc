"""Benchmark harness: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. It makes the workload's inputs from the
seed, sets up the engine session five times (the median is
``setup_s``), warms the workload up, then runs timed passes as a closed
loop with one client until ``--seconds`` have passed, at least 11
operations are timed and the workload's minimum number of passes is
done. Outputs are checked outside the timed region. The last line of
standard output is the result object.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, records spans around the calls into each
layer, reads Spark's status stores, and prints the per-layer metrics of
the traced passes; spans and attributed jobs go to
``perfbench/_work/<workload>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from tracing import Tracer  # noqa: E402

SETUPS = 5
#: A fixed young generation keeps G1 from resizing it to pause-time
#: goals, which made peak RSS wander by a quarter from run to run; with
#: it the spread over five seeds was 13%.
JVM_OPTIONS = "-Xmn160m"
#: operations a run must time at least, so that ``op_tail_s`` exists
MIN_OPS = stats.TAIL_BEYOND + 1


#: Spark task threads at most. The driver's own threads (the scheduler,
#: the JIT compilers, the collector) and this process need cores too: at
#: one task thread per core, relational_mix's ``pass_s`` spread by 17% of
#: its median over five seeds, and by 10% at two.
MAX_TASK_THREADS = 2


def cores() -> int:
    return min(MAX_TASK_THREADS, len(os.sched_getaffinity(0)))


class Bench:
    """The session and what a run records about it."""

    def __init__(self, work: str):
        self.work = work
        self.tracer = Tracer("untraced", enabled=False)
        self.spark = None
        self.setups: list[float] = []
        self.session_start_s = 0.0
        self.session_warmup_s = 0.0
        self.catalyst: dict[str, float] = {}
        self.peak_storage_mb = 0.0
        self.streams: list[dict] = []
        self.cores = cores()

    # -- session -------------------------------------------------------
    def setup(self, warm) -> None:
        """Build the session and run the warm-up query; the first call
        also launches the JVM (and is measured from process start)."""
        from parcel_analytics_etl_notebook_spark.session import get_spark

        t0 = T_START if not self.setups else time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        n = self.cores
        local = os.path.join(self.work, "spark-local")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} {JVM_OPTIONS}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.group(f"setup-{len(self.setups)}:setup")
        warm()
        t2 = time.perf_counter()
        if not self.setups:
            self.session_start_s, self.session_warmup_s = t1 - t0, t2 - t1
        self.setups.append(t2 - t0)

    def close(self) -> None:
        """Stop the session, then the JVM; wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        self.spark = None

    def group(self, label: str) -> None:
        """Tag the jobs this thread starts from now on. Only the group id
        is set: a job description would replace the Python call site as
        the description of the SQL executions, which attribution reads."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", label)

    # -- what the traced passes record ---------------------------------
    def add_catalyst(self, phases: dict[str, float]) -> None:
        for k, v in phases.items():
            self.catalyst[k] = self.catalyst.get(k, 0.0) + v

    def sample_storage(self) -> None:
        if self.tracer.enabled:
            import status

            sc = self.spark.sparkContext
            self.peak_storage_mb = max(self.peak_storage_mb, status.storage_mb(sc.uiWebUrl, sc.applicationId))

    def add_stream(self, pass_no: int, run_id: str, progress: list[dict], state: str) -> None:
        files = sum(len(f) for _, _, f in os.walk(state))
        self.streams.append({"pass": pass_no, "run_id": run_id, "progress": progress, "state_files": files})

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the driver JVM plus this process."""
        jvm_kb = 0
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _exit_on_term(signum, frame):
    # SystemExit unwinds through main's finally, which stops the JVM
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_term)
    if not os.path.isdir(os.path.join(ROOT, "parcel_analytics_etl_notebook_spark")):
        print(f"no engine package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    os.environ["TMPDIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM Spark launches, its launcher too, would otherwise keep a
    # perf-data file under /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData".strip()

    t_inputs = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    inputs_s = time.perf_counter() - t_inputs

    bench = Bench(work)
    try:
        return _run(bench, wl, args, inputs_s)
    finally:
        bench.close()


def _warm_query(bench, data_dir: str):
    from parcel_analytics_etl_notebook_spark.plans import catalog

    return lambda: catalog.queries()["lifecycle_kpis"](bench.spark, data_dir).collect()


def _run(bench: Bench, wl, args, inputs_s: float) -> int:
    import layers

    data_dir = os.path.join(bench.work, "data")
    for _ in range(SETUPS):
        bench.setup(_warm_query(bench, data_dir))
        if len(bench.setups) == 1:
            # input generation ran before the first setup; it is not set-up work
            bench.setups[0] -= inputs_s
    t_warm = time.perf_counter()
    wl.warm(bench)
    warm_s = time.perf_counter() - t_warm
    print("setups: " + " ".join(f"{s:.3f}" for s in bench.setups) + f"; warm-up {warm_s:.1f} s", file=sys.stderr)

    tracer = Tracer(args.workload)
    patches = layers.patches(tracer) if args.trace else None
    passes: list[dict] = []
    ops = []
    deadline = time.perf_counter() + args.seconds
    pass_no = 0
    while True:
        traced = bool(args.trace) and pass_no % 2 == 1
        bench.tracer = tracer if traced else Tracer("untraced", enabled=False)
        if traced:
            patches.install()
        with bench.tracer.span("pass"):
            root = len(tracer.spans) - 1 if traced else None
            pass_ops, seconds = wl.run_pass(bench, pass_no)
        if traced:
            patches.restore()
        passes.append({"pass": pass_no, "traced": traced, "seconds": seconds, "root": root})
        ops.extend(pass_ops)
        pass_no += 1
        done = (
            time.perf_counter() >= deadline
            and len(ops) >= MIN_OPS
            and len(passes) >= wl.min_passes
        )
        if args.trace:
            done = done and any(p["traced"] for p in passes)
        if done:
            break
    peak_rss = bench.peak_rss_mb()

    bench.tracer = Tracer("untraced", enabled=False)
    wl.check(bench, ops)
    failed = sum(1 for op in ops if not op.ok)
    print("passes: " + " ".join(f"{p['seconds']:.3f}" for p in passes), file=sys.stderr)
    print("ops: " + " ".join(f"{op.name}={op.seconds:.3f}" for op in ops), file=sys.stderr)
    for op in ops:
        if not op.ok:
            print(f"failed: pass {op.pass_no} {op.name}: {op.error or 'wrong result'}", file=sys.stderr)

    if args.trace:
        metrics, jobs = layers.per_layer(bench, tracer, passes)
        trace_path = os.path.join(bench.work, "trace.json")
        with open(trace_path, "w") as fh:
            json.dump({"spans": [s.__dict__ for s in tracer.spans], "jobs": jobs}, fh)
    else:
        times = list(stats.best_of(ops).values())
        tail_value, tail_pct = stats.tail(times)
        print(f"op_tail_s is p{tail_pct:.1f} of {len(times)} operations", file=sys.stderr)
        metrics = {
            "setup_s": (statistics.median(bench.setups), "s"),
            "pass_s": (min(p["seconds"] for p in passes), "s"),
            "op_p50_s": (statistics.median(times), "s"),
            "op_tail_s": (tail_value, "s"),
            "ok_frac": (1.0 - failed / len(ops), "ratio"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
