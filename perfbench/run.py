"""Lake-first benchmark for bergloom_spark.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, builds its tables (SETUP_REPS + 1 times, all but the first
timed), runs warm-up steps that are not timed, then drives the
workload's ops in a closed loop with one client for ``--seconds``
seconds, checking every op's output off the clock. Prints a detail line (the workload's named metrics, the host
posture and the seed) and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

With ``--trace 1`` the loop alternates untraced and traced steps; the
traced ones record spans around each layer's public functions (see
``tracing.py``), and the gap between the two halves' primary-op medians
is reported as the tracing overhead. See ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = 3  # Spark cores, at most nproc - 1: one core stays for the driver
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# End-to-end metrics (BENCHMARK.json ``end_to_end``), name -> unit.
END_TO_END = {"op_p50_s": "s", "aux_p50_s": "s", "setup_s": "s"}
THREAD_PINS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS", "ARROW_NUM_THREADS")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Ctx:
    """Run state shared by the loop and the workload: the session,
    op counters, timing samples and (traced runs) the tracer."""

    def __init__(self, spark, seed: int, tracer=None):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.reset()

    def reset(self) -> None:
        self.attempted = self.failed = 0
        self.samples = defaultdict(list)  # untraced op wall times
        self.traced = defaultdict(list)  # traced op wall times
        self.trace_step = False
        self.traced_ops = 0
        self.spark_totals = defaultdict(float)

    def record(self, kind: str, value: float) -> None:
        (self.traced if self.trace_step else self.samples)[kind].append(value)

    def op(self, kind: str, fn, check=None) -> float | None:
        """Run one timed op, then its check off the clock. Returns the
        wall time, or None if the op raised or its check failed."""
        from tracing import SparkCapture

        self.spark.catalog.clearCache()  # no rep reuses another's cache
        self.attempted += 1
        tr = self.tracer if self.trace_step else None
        try:
            cap = SparkCapture(self.spark).__enter__() if tr else None
            if tr:
                tr.op = self.attempted
                span = tr.begin("driver.op", "driver")
            t0 = time.perf_counter()
            try:
                result = fn()
            finally:
                dt = time.perf_counter() - t0
                if tr:
                    tr.end(span)
                    tr.op = None
            if cap:
                cap.__exit__(None, None, None)
                for k, v in cap.metrics.items():
                    self.spark_totals[k] += v
                self.traced_ops += 1
            ok = check is None or bool(check(result))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"op {kind} failed its check", file=sys.stderr)
            self.failed += 1
            return None
        self.record(kind, dt)
        return dt


def pin_host(work: str) -> None:
    """Environment the JVM and Python workers inherit: one BLAS/OMP
    thread each, scratch space inside the work dir."""
    for var in THREAD_PINS:
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_spark(work: str):
    from bergloom_spark.session import get_spark

    cpus = max(1, min(CPUS, len(os.sched_getaffinity(0)) - 1))
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def host_posture(spark, cpus: int, seed: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": cpus,
        "driver_memory": DRIVER_MEMORY,
        "thread_pins": {v: os.environ[v] for v in THREAD_PINS},
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "seed": seed,
    }


def run(args, work: str) -> dict:
    import stats
    import tracing
    from workloads import WORKLOADS, fresh_dir

    cls = WORKLOADS[args.workload]
    spark, cpus = start_spark(work)
    log("spark started")
    try:
        tracer = tracing.Tracer() if args.trace else None
        ctx = Ctx(spark, args.seed, tracer)

        # Warm-up, not timed: the first of SETUP_REPS + 1 set-ups, then
        # WARM_STEPS steps on the last table. All run at full size, so the
        # timed ops find the JVM and the Python workers warm.
        setup_s = []
        for i in range(SETUP_REPS + 1):
            if i:  # keep only the last table
                shutil.rmtree(os.path.join(work, f"table{i - 1}"), ignore_errors=True)
            root = fresh_dir(os.path.join(work, f"table{i}"))
            w = cls(ctx)
            t0 = time.perf_counter()
            w.setup(root)
            setup_s.append(time.perf_counter() - t0)
        log(f"setups done: {setup_s}")
        setup_s = setup_s[1:]
        for _ in range(cls.WARM_STEPS):
            w.step()
        ctx.samples.clear()  # warm-up failures still count
        log("warm-up done")
        if tracer:
            tracing.install(tracer)
        # Closed loop: steps start until --seconds have passed. Traced
        # runs need one untraced and one traced step.
        end = time.perf_counter() + args.seconds
        steps = 0
        while steps < (2 if tracer else 1) or time.perf_counter() < end:
            ctx.trace_step = bool(tracer) and steps % 2 == 1
            if tracer:
                tracer.active = ctx.trace_step
            w.step()
            steps += 1
        if tracer:
            tracer.active = False
            tracer.uninstall()

        log(f"loop done: {steps} steps")
        ctx.attempted += 1
        try:
            final_ok = w.final_check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            final_ok = False
        if not final_ok:
            print("final state check failed", file=sys.stderr)
            ctx.failed += 1

        log("final check done")
        named = w.report()
        op_p50 = stats.median(ctx.samples[cls.PRIMARY])
        aux_p50 = stats.median(ctx.samples[cls.AUX])
        values = {"op_p50_s": op_p50, "aux_p50_s": aux_p50,
                  "setup_s": stats.median(setup_s)}
        end_to_end = {k: (values[k], u) for k, u in END_TO_END.items()}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "steps": steps,
            "host": host_posture(spark, cpus, args.seed),
            "error_rate": ctx.failed / max(ctx.attempted, 1),
            "peak_rss_mb": peak_rss_mb(spark),
            "setup_s_reps": setup_s,
            "samples": dict(ctx.samples),
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        }
        if tracer:
            traced = stats.median(ctx.traced[cls.PRIMARY])
            overhead = 100.0 * (traced / op_p50 - 1.0) if traced and op_p50 else 0.0
            metrics = {
                k: (v, tracing.PER_LAYER[k])
                for k, v in tracing.per_layer(
                    tracer, ctx.spark_totals, ctx.traced_ops, overhead).items()
            }
            metrics["peak_rss_mb"] = (detail["peak_rss_mb"], "MB")
            detail["traced_ops"] = ctx.traced_ops
            tracer.dump(os.path.join(
                ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end
        detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        missing = [k for k, (v, _) in metrics.items() if v is None]
        if missing:
            print(f"no samples for {missing}", file=sys.stderr)
            ctx.failed += 1
        print(json.dumps(detail))
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v if v is not None else 0.0, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    pin_host(work)  # before NumPy, Arrow or the JVM start
    sys.path.insert(0, ROOT)
    try:  # the program under test must be in this checkout
        import bergloom_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
