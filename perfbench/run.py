"""PPRL benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload dedup_repos --seed 42 --seconds 5 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end metrics
(medians over warm passes); ``--trace 1`` runs the same passes, then traced
passes, and prints the per-layer metrics and writes the spans to
``perfbench/_out/spans-<workload>-<seed>.json``. See perfbench/README.md.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

CORES = 2               # local[CORES]
HEAP = "2g"             # -Xms = -Xmx
SETUP_REPS = 3          # input builds per run; setup_s uses the median
WARMUP_PASSES = 1       # full-size passes before any is measured
MIN_PASSES = 2          # measured passes, even if --seconds runs out first
TRACED_PASSES = 2       # untraced, then traced passes of a traced run


def process_age_s() -> float:
    """Seconds since this process started (boot-clock ticks in /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work_dir: str, trace: bool):
    from pprl_scaling_framework_spark.sources.session import build_session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    # every file Spark, the JVM and the workers write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.memory": HEAP,
        # JVM flags and why: README.md, "Why an earlier attempt was too noisy"
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
            " -XX:+UseParallelGC",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    spark = build_session("perfbench", master=f"local[{CORES}]",
                          shuffle_partitions=4 * CORES,
                          prefer_shuffled_hash=True, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker have exited."""
    import procstat

    def gone_within(seconds: float) -> bool:
        deadline = time.monotonic() + seconds
        while procstat.descendants(os.getpid()):
            if time.monotonic() > deadline:
                return False
            time.sleep(0.1)
        return True

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if not gone_within(15):
        for pid in procstat.descendants(os.getpid()):
            os.kill(pid, signal.SIGKILL)
        gone_within(5)


class Runner:
    """Runs a workload's passes and keeps the checks' tally.

    Every pass is checked: the first against the workload's quality checks,
    every later one against the first pass's signature. A pass that raises
    or fails a check counts as failed; ``history`` keeps every pass."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.ref = None
        self.quality: dict[str, float] = {}
        self.history: list[dict] = []

    def one(self, kind: str, after=None) -> float | None:
        """One timed pass -> wall seconds, or None if it failed.

        ``after(p)`` runs once the pass is timed and checked, before its
        caches are released."""
        import procstat

        self.attempted += 1
        first = self.attempted == 1
        try:
            u0, t0 = procstat.tree_usage(os.getpid()), time.perf_counter()
            p = self.wl.run_pass(keep=first)
            wall = time.perf_counter() - t0
            u1 = procstat.tree_usage(os.getpid())
            cpu, jit = u1.work_cpu_s - u0.work_cpu_s, u1.jit_cpu_s - u0.jit_cpu_s
            try:
                if first:
                    self.ref = p.sig
                    self.quality = self.wl.quality(p)
                elif p.sig != self.ref:
                    raise AssertionError(f"pass signature {p.sig} != first pass {self.ref}")
                if after is not None:
                    after(p)
            finally:
                self.wl.end_pass(p)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.history.append({"kind": kind, "ok": False})
            return None
        print(f"perfbench: {kind} pass {self.attempted} wall {wall:.3f} s "
              f"cpu {cpu:.2f} s jit {jit:.2f} s", file=sys.stderr)
        self.history.append({"kind": kind, "ok": True, "wall_s": wall, "cpu_s": cpu,
                             "jit_cpu_s": jit})
        return wall

    def warm_up(self) -> None:
        for _ in range(WARMUP_PASSES):
            self.one("warmup")

    def measure(self, kind: str, seconds: float, min_passes: int, after=None) -> None:
        """Passes until ``seconds`` have passed and ``min_passes`` are done."""
        t_end = time.perf_counter() + seconds
        n = 0
        while n < min_passes or time.perf_counter() < t_end:
            self.one(kind, after)
            n += 1

    def stat(self, kind: str, key: str) -> float:
        return median([h[key] for h in self.history if h["kind"] == kind and h["ok"]])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def time_setups(wl, reps: int = SETUP_REPS) -> list[float]:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        wl.setup()
        times.append(time.perf_counter() - t0)
    return times


def jvm_heap_after_gc_mb(spark) -> float:
    """Heap in use after full collections: what the JVM retains.

    The first collection only queues what Spark's ContextCleaner releases
    (shuffles and broadcasts of finished jobs, held by weak references), so
    collect until two readings agree."""
    gc.collect()  # drop Python proxies that pin JVM objects
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(10):
        jvm.java.lang.System.gc()
        now = bean.getHeapMemoryUsage().getUsed() / 2**20
        if used is not None and abs(now - used) < 1.0:
            break
        used = now
        time.sleep(0.3)
    return now


def end_to_end(runner: Runner, seconds: float, t_session: float) -> dict:
    import procstat

    # Python-side peak memory covers set-up and the fixed warm-up pass, so
    # it does not drift with how many passes fit into --seconds, and its
    # sampler does not run during the measured passes
    with procstat.PeakMemory(os.getpid()) as mem:
        setups = time_setups(runner.wl)
        print(f"perfbench: session up at {t_session:.2f} s, input builds "
              + ", ".join(f"{t:.2f}" for t in setups) + " s", file=sys.stderr)
        runner.warm_up()
    heap_mb = jvm_heap_after_gc_mb(runner.wl.spark)
    print(f"perfbench: python peak {mem.peak_mb:.1f} MB, jvm heap after gc "
          f"{heap_mb:.1f} MB", file=sys.stderr)
    runner.measure("measured", seconds, MIN_PASSES)
    return {
        "wall_s": metric(runner.stat("measured", "wall_s"), "s"),
        "cpu_s": metric(runner.stat("measured", "cpu_s"), "s"),
        "peak_rss_mb": metric(mem.peak_mb + heap_mb, "MB"),
        "setup_s": metric(t_session + median(setups), "s"),
        "pair_f1": metric(runner.quality.get("pair_f1", 0.0), "ratio"),
        "ok_frac": metric((runner.attempted - runner.failed) / runner.attempted, "ratio"),
    }


def traced_passes(runner: Runner, spark, seconds: float):
    """Set up, warm up, time untraced passes, then traced ones
    -> (tracer, counts, setup times)."""
    from spans import UNTRACED_GROUP, Tracer, instrumented

    wl = runner.wl
    spark.sparkContext.setJobGroup(UNTRACED_GROUP, UNTRACED_GROUP)
    setups = time_setups(wl, 1)  # setup_s is an end-to-end metric
    runner.warm_up()
    runner.measure("untraced", seconds / 2, TRACED_PASSES)
    tracer = Tracer(spark.sparkContext, os.getpid(), wl.name)
    counts: dict = {}

    def after(p):
        done = {sp.name for sp in tracer.spans if sp.pass_no == tracer.pass_no}
        if set(wl.spans) - done:
            raise AssertionError(f"traced pass has no span for {sorted(set(wl.spans) - done)}")
        if not counts:
            counts.update(wl.layer_counts(tracer, p))
        tracer.release()
        tracer.pass_no += 1

    with instrumented(tracer, wl.targets()):
        runner.measure("traced", seconds / 2, TRACED_PASSES, after)
    return tracer, counts, setups


def layer_metrics(tracer, counts: dict, kernel: dict, overhead_s: float,
                  jit_cpu_s: float) -> dict:
    from eventlog import GroupStats
    from kernels import METRICS
    from workloads import COUNT_UNITS, SPAN_NAMES

    per_pass: dict[int, dict[str, list]] = {}
    for sp in tracer.spans:
        per_pass.setdefault(sp.pass_no, {}).setdefault(sp.name, []).append(sp)
    out = {}
    for name in SPAN_NAMES:
        rows = []
        for by_name in per_pass.values():
            sps = by_name.get(name, [])
            ev = GroupStats()
            for sp in sps:
                ev.add(sp.events)
            rows.append({
                "wall_s": (sum(sp.self_wall_s for sp in sps), "s"),
                "cpu_s": (sum(sp.self_cpu_s for sp in sps), "s"),
                "py_cpu_s": (sum(sp.self_py_cpu_s for sp in sps), "s"),
                "exec_cpu_s": (ev.exec_cpu_s, "s"),
                "jobs": (ev.jobs, "count"),
                "shuffle_mb": (ev.shuffle_write_bytes / 2**20, "MB"),
                "spill_mb": (ev.spill_disk_bytes / 2**20, "MB"),
                "task_skew": (ev.task_skew if sps else 0.0, "ratio"),
                "rows_out": (sum(sp.rows_out for sp in sps), "count"),
            })
        for key, (_, unit) in rows[0].items():
            out[f"{name}.{key}"] = metric(median([r[key][0] for r in rows]), unit)
    for key, unit in COUNT_UNITS.items():
        out[key] = metric(counts.get(key, 0), unit)
    for key in METRICS:
        out[key] = metric(kernel.get(key, 0.0), "1/s" if key.endswith("per_s") else "s")
    out["trace.overhead_s"] = metric(overhead_s, "s")
    out["jvm.jit_cpu_s"] = metric(jit_cpu_s, "s")
    return out


def main(argv=None) -> int:
    # a SIGTERM (e.g. from `timeout`) unwinds through the finally blocks,
    # so Spark, its JVM and the Python workers are still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pprl_scaling_framework_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the root of a checkout ({e})", file=sys.stderr)
        return 2
    args = parse_args(argv)
    from workloads import WORKLOADS

    out_dir = os.path.join(BENCH_DIR, "_out")
    work_dir = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        spark = start_session(work_dir, bool(args.trace))
        t_session = process_age_s()
        try:
            runner = Runner(WORKLOADS[args.workload](spark, args.seed, work_dir))
            if not args.trace:
                metrics = end_to_end(runner, args.seconds, t_session)
            else:
                import kernels
                from workloads import pprl_config

                tracer, counts, setups = traced_passes(runner, spark, args.seconds)
                kernel = (kernels.kernel_metrics(
                    kernels.batch(next(iter(runner.wl.inputs.values()))), pprl_config())
                    if runner.wl.kernels else {})
        finally:
            stop_session(spark)
        if args.trace:
            import eventlog

            groups = eventlog.group_stats(eventlog.read_events(
                eventlog.find_log(os.path.join(work_dir, "eventlog"))))
            for sp in tracer.spans:
                sp.events = groups.get(sp.group, eventlog.GroupStats())
            tracer.finish()
            overhead = runner.stat("traced", "wall_s") - runner.stat("untraced", "wall_s")
            metrics = layer_metrics(tracer, counts, kernel, overhead,
                                    runner.stat("untraced", "jit_cpu_s"))
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), {
                "seed": args.seed, "session_s": t_session, "setup_s": setups,
                "passes": runner.history})
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(f"perfbench: exit at {process_age_s():.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
