"""Benchmark of the engine's ingest path and a query pack.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_day --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py``): ``ingest_day``, ``query_pack``. One run:

1. generates its inputs from ``--seed`` inside a scratch directory under
   ``perfbench/.work`` (also the working directory of the driver and the
   JVM, so ``derby.log``, ``spark-warehouse`` and Spark's local dirs land
   there and are removed at the end);
2. sets up: creates the SparkSession (which launches the JVM) once, as
   the program does, then runs the workload's warm-up passes on its
   inputs; ``setup_s`` is the session creation time plus the warm-up time;
3. runs timed passes until ``--seconds`` have passed, at least three
   passes ran and two of them undisturbed by other guests of the host (at
   most twice ``--seconds``), checking every pass's output
   (``workloads.py``);
4. prints one JSON object as the last line of stdout and writes the full
   report (environment, every sample, spans) to
   ``perfbench/out/<workload>/seed<seed>-trace<trace>.json``.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1``
it alternates untraced and traced passes and reports the per-layer
metrics (``layers.py``) from the traced ones, plus the tracing overhead.

The environment is pinned: ``local[<usable cores>]``, a driver heap of a
quarter of physical memory (at most 2 GiB), and ``PYTHONPATH`` set to the
checkout so executor Python workers import the package. Exits with code 2
and prints no result when the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_from_s3_to_postgresql_template_spark"
MIN_PASSES = 3
# A pass is disturbed when the hypervisor gave other guests more than this
# share of the run's CPUs while it ran (/proc/stat steal). On a shared host
# such passes ran 1.2-1.8x slower than the rest; timings are taken from the
# undisturbed passes (see layers.timing_passes), and while fewer than two
# are undisturbed the window stretches up to twice --seconds.
STEAL_LIMIT = 0.02
# stop starting passes this long after the run began, whatever --seconds says
HARD_STOP_S = 120.0


def calibrate() -> float:
    """bench.py's fixed single-core busy loop, so runs on differently
    loaded hosts can be normalized."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return time.perf_counter() - t0


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs,
    since boot (the ``steal`` field of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """VmHWM: the peak resident set of a live process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Timed:
    """The timed part of one pass. ``with timed:`` or ``with
    timed.lap(name):`` adds a lap to ``elapsed``; while a lap runs, the
    tracer (if any) records, and a named lap becomes a span."""

    def __init__(self, stats=None, tracer=None):
        self.stats = stats
        self.tracer = tracer
        self.elapsed = 0.0
        self.start = self.end = None
        self.job_lo = self.job_hi = None
        self._cm = None

    @contextmanager
    def lap(self, name: str | None = None):
        lap = Timed()
        if self.stats is not None and self.job_lo is None:
            self.job_lo = self.stats.watermark()
        tracer = self.tracer
        t0 = time.perf_counter()
        if self.start is None:
            self.start = t0
        if tracer is not None:
            tracer.active = True
        try:
            if tracer is not None and name is not None:
                with tracer.span(name):
                    yield lap
            else:
                yield lap
        finally:
            if tracer is not None:
                tracer.active = False
            self.end = time.perf_counter()
            lap.elapsed = self.end - t0
            self.elapsed += lap.elapsed
            if self.stats is not None:
                self.job_hi = self.stats.watermark()

    def __enter__(self):
        self._cm = self.lap()
        return self._cm.__enter__()

    def __exit__(self, *exc):
        return self._cm.__exit__(*exc)


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem = mem_total_bytes()
    heap_mb = min(2048, mem // 4 // (1024 * 1024))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (Spark's launcher and the driver): temp files in the run's
    # directory, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"cpus": cpus, "mem_total_bytes": mem, "driver_heap_mb": heap_mb}


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import layers
    import spans as tr
    import workloads

    from etl_from_s3_to_postgresql_template_spark.session import get_spark

    work = os.path.abspath(
        os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    )
    os.makedirs(work)
    os.chdir(work)
    t_run = time.perf_counter()
    env = pin_environment(work)
    conf = spark_conf(work)
    import pyspark

    env.update(
        spark_version=pyspark.__version__,
        python=platform.python_version(),
        loadavg_before=os.getloadavg(),
        steal_before_s=cpu_steal_s(),
        calib_loop_s=calibrate(),
    )
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "env": env}
    spark = None
    try:
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        report["generate_s"] = time.perf_counter() - t0
        attempted = failed = 0
        errors: list[str] = []

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        timed = Timed()
        for _ in range(wl.warm_up_passes):
            out = wl.run_pass(spark, timed)
            attempted += out.attempted
            failed += out.failed
            errors += out.errors
        warm_up_s = timed.elapsed

        stats = tr.JobStats(spark)
        tracer = tr.Tracer(stats.watermark)
        if args.trace:
            tr.install(tracer)
        passes = []
        t_window = time.perf_counter()
        while True:
            now = time.perf_counter()
            if now - t_run > HARD_STOP_S and passes:
                break
            if now - t_window >= args.seconds and len(passes) >= MIN_PASSES:
                calm = sum(not p["disturbed"] for p in passes)
                if calm >= 2 or now - t_window >= 2 * args.seconds:
                    break
            traced = bool(args.trace) and len(passes) % 2 == 1
            timed = Timed(stats, tracer if traced else None)
            t_pass, steal0 = time.perf_counter(), cpu_steal_s()
            if traced:
                with tracer.span("pass") as root:
                    out = wl.run_pass(spark, timed)
                if timed.start is not None:
                    root.start, root.end = timed.start, timed.end
                    root.job_lo, root.job_hi = timed.job_lo, timed.job_hi
            else:
                out = wl.run_pass(spark, timed)
            steal = cpu_steal_s() - steal0
            wall = time.perf_counter() - t_pass
            if timed.job_lo is None:
                timed.job_lo = timed.job_hi = stats.watermark()
            counters = stats.counters(timed.job_lo, timed.job_hi)
            passes.append(
                {
                    "elapsed_s": timed.elapsed,
                    "steal_s": steal,
                    "steal_share": steal / (wall * env["cpus"]),
                    "disturbed": steal > STEAL_LIMIT * wall * env["cpus"],
                    "traced": traced,
                    "root_span": root.id if traced else None,
                    "attempted": out.attempted,
                    "failed": out.failed,
                    "rows_loaded": out.rows_loaded,
                    "stored_bytes": out.stored_bytes,
                    "queries": out.queries,
                    "counters": counters.as_dict(),
                }
            )
            attempted += out.attempted
            failed += out.failed
            errors += out.errors
        tracer.uninstall()

        rss = peak_rss_mb(os.getpid())
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        if jvm is not None:
            rss += peak_rss_mb(jvm.pid)

        report.update(session_s=session_s, warm_up_s=warm_up_s, passes=passes,
                      attempted=attempted, failed=failed, errors=errors[:50],
                      input_rows=wl.input_rows, input_bytes=wl.input_bytes, peak_rss_mb=rss)
        if args.trace:
            report["spans"] = [s.as_dict() for s in tracer.spans]
            spans_by_pass = layers.group_by_pass(tracer.spans)
            report["metrics"] = layers.per_layer(
                wl, passes, spans_by_pass, stats, session_s, env["cpus"]
            )
        else:
            report["metrics"] = layers.end_to_end(wl, passes, session_s + warm_up_s, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    report["env"]["loadavg_after"] = os.getloadavg()
    report["env"]["steal_during_s"] = cpu_steal_s() - report["env"].pop("steal_before_s")
    report["run_s"] = time.perf_counter() - t_run
    return report


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest_day", "query_pack"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--report-dir", default=os.path.join(HERE, "out"))
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)

    report = run(args)
    out_dir = os.path.join(args.report_dir, args.workload)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0 and report["attempted"] > 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": report["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
