"""Benchmark CLI for woodwork_spark.

    python3 perfbench/run.py --workload ingest_profile|queries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run generates its input tables,
computes the expected outputs, starts a pinned local Spark session,
replays a fixed warm-up, then issues the workload's passes back to back,
checking every output.  The timed part is the whole number of passes
(at least one) whose nominal length comes closest to ``--seconds``: a
fixed amount of work, so a slow pass cannot change how many are timed.
Time metrics are medians over the timed passes.  The last line of stdout
is the result object; the line before it holds context (nproc, load
average, the machine's steal share, warm-up and timed pass times).  With
``--trace 1`` the session writes a Spark event log and the metrics are
the per-layer ones.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DATA_SEED = 20240101  # table contents are fixed; --seed orders the calls
WARMUP_ORDER_SEED = 0  # the warm-up passes use one call order in every run
PREPARE_REPS = 3
HEAP = "1g"
CORES = 2
PINNED_ENV = {
    "PYTHONHASHSEED": "0",
    "TZ": "UTC",
    "PYTHONDONTWRITEBYTECODE": "1",
}
CLK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36
# op_geomean_s counts an operation faster than this as this fast.  Below
# it an operation is a few py4j round trips (select, rename, validate on
# small tables), and one scheduling delay on a shared host moves it
# several-fold; unfloored, those operations set most of the metric's
# run-to-run spread.
OP_FLOOR_S = 0.02


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_profile", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment():
    """Re-exec with the pinned environment unless it is already in place:
    PYTHONHASHSEED only takes effect at interpreter start."""
    if all(os.environ.get(k) == v for k, v in PINNED_ENV.items()):
        return
    env = dict(os.environ, **PINNED_ENV)
    os.execve(sys.executable, [sys.executable] + sys.argv, env)


def check_checkout():
    for rel in ("woodwork_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; "
                     "run from the root of a woodwork_spark checkout")
    sys.path.insert(0, ROOT)
    import woodwork_spark

    if os.path.dirname(os.path.abspath(woodwork_spark.__file__)) != os.path.join(
        ROOT, "woodwork_spark",
    ):
        sys.exit(f"perfbench: woodwork_spark imported from {woodwork_spark.__file__}")


# -- child processes -------------------------------------------------------

def adopt_descendants():
    """Make this process the subreaper of everything the run starts: a
    process whose parent ends before it (the pyspark worker daemon, the
    launcher shell the JVM leaves behind) is re-parented here rather than
    to init, so the run can stop it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def stop_descendants(grace: float = 10.0):
    """Reap every ended child; send the live ones SIGTERM, and SIGKILL
    after ``grace`` seconds, until no child is left.  Descendants whose
    parents end are re-parented here and handled in the next round."""
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
            # waitpid(-1) raises ChildProcessError once no child is left
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in child_pids():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


# -- /proc accounting ------------------------------------------------------

def cpu_seconds(pid) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime, cutime, cstime (fields 14-17 of proc(5))
    return sum(int(x) for x in fields[11:15]) / CLK


def peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat:
    time the hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def jvm_live_heap_mb(sc) -> float:
    """Heap the JVM still holds after a full collection: what the program
    keeps alive (cached blocks, broadcasts, plans, status of finished
    jobs), which the fixed, pre-touched heap hides from the JVM's RSS.
    Listener events still queued would count too, so the queues drain
    first.  The first collection hands unreachable RDDs, shuffles and
    broadcasts to Spark's ContextCleaner, which frees their blocks on its
    own thread, so collections repeat a second apart until two in a row
    leave the same heap (within 1 MB), at most five.  Python's collector
    runs first: a JVM object stays reachable while an unreachable Python
    cycle still holds its py4j proxy."""
    jvm = sc._jvm
    gc.collect()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = math.inf
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if abs(used - last) < 1.0:
            break
        last = used
        time.sleep(1.0)
    return used


def jvm_pid(sc) -> int:
    """The JVM behind the py4j gateway (spark-submit execs into java)."""
    pid = sc._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway process {pid} is {comm!r}, not java")
    return pid


# -- session ---------------------------------------------------------------

def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    k = max(1, min(CORES, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{k}]").appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.default.parallelism", str(k))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.streaming.checkpointLocation", os.path.join(work, "ckpt"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.eventLog.enabled", "true" if trace else "false")
    )
    if trace:
        b = (
            b.config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.logStageExecutorMetrics", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "ckpt", "rdd"))
    return spark, k


def stop_session(spark):
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- the run ---------------------------------------------------------------

class Pass:
    def __init__(self):
        self.wall = 0.0
        self.cpu = 0.0
        self.latencies: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0


def run_pass(wl, rng, tracer, pids) -> Pass:
    p = Pass()
    ops = wl.plan(rng)
    cpu0 = sum(cpu_seconds(x) for x in pids)
    t0 = time.perf_counter()
    for op in ops:
        p.attempted += 1
        s = time.perf_counter()
        try:
            with tracer.span(op.layer, op.call, op.name):
                value = op.fn()
            p.latencies[op.name] = time.perf_counter() - s
            op.check(value)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the loop goes on
            p.latencies.setdefault(op.name, time.perf_counter() - s)
            p.failed += 1
            print(f"perfbench: {op.name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            if type(e).__name__ != "CheckFailed":
                traceback.print_exc(limit=5, file=sys.stderr)
    p.wall = time.perf_counter() - t0
    p.cpu = sum(cpu_seconds(x) for x in pids) - cpu0
    return p


def geomean(xs) -> float:
    """Geometric mean, each value raised to at least OP_FLOOR_S."""
    return math.exp(sum(math.log(max(x, OP_FLOOR_S)) for x in xs) / len(xs))


def main(argv) -> int:
    args = parse_args(argv)
    pin_environment()
    check_checkout()
    adopt_descendants()
    signal.signal(signal.SIGTERM, on_sigterm)
    sys.path.insert(0, HERE)
    import data
    import spans as tracing
    from workloads import WORKLOADS

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "out", "tmp", "ckpt", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["WW_STREAM_EPHEMERAL_CKPT"] = os.path.join(work, "ckpt")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    load_start = os.getloadavg()[0]
    spark = None
    try:
        cls = WORKLOADS[args.workload]
        tables = data.make_tables(cls.sf, DATA_SEED)
        data_dir = os.path.join(work, "data")
        data.write_tables(tables, data_dir)

        t0 = time.perf_counter()
        spark, k = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        pids = [os.getpid(), jvm_pid(sc)]
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        tracer = tracing.Tracer(sc, run_id, bool(args.trace))
        if args.trace:
            from woodwork_spark.type_sys.type_system import type_system

            tracer.wrap(type_system, "infer_logical_types", "type_sys")

        wl = cls(spark, data_dir, work, tables)
        prep = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)

        # every run replays the same warm-up: one fixed call order
        warm_rng = random.Random(WARMUP_ORDER_SEED)
        warm = []
        t = time.perf_counter()
        for _ in range(wl.warmup_passes):
            warm.append(run_pass(wl, warm_rng, tracer, pids))
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        rng = random.Random(args.seed)
        timed = []
        steal0 = cpu_jiffies()
        for i in range(max(1, round(args.seconds / wl.pass_s))):
            tracer.pass_no = i
            timed.append(run_pass(wl, rng, tracer, pids))

        steal1 = cpu_jiffies()
        attempted = sum(p.attempted for p in warm + timed)
        failed = sum(p.failed for p in warm + timed)
        run_s = statistics.median(p.wall for p in timed)
        names = sorted(timed[0].latencies)
        op_med = {n: statistics.median(p.latencies[n] for p in timed) for n in names}
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "local_cores": k,
            "loadavg_start": load_start,
            "steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "session_start_s": session_s, "prepare_s": prep,
            "warmup_pass_s": [p.wall for p in warm],
            "timed_pass_s": [p.wall for p in timed],
            "op_median_s": op_med,
        }
        rss = (peak_rss_mb(os.getpid()), peak_rss_mb(pids[1]))
        live_heap = None if args.trace else jvm_live_heap_mb(sc)
        stop_session(spark)
        spark = None
        if args.trace:
            metrics = layer_metrics(tracing, tracer, wl, timed, work)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "run_s": (run_s, "s"),
                "cpu_s": (statistics.median(p.cpu for p in timed), "s"),
                "op_geomean_s": (geomean(op_med.values()), "s"),
                "driver_rss_peak_mb": (rss[0], "MB"),
                "jvm_rss_peak_mb": (rss[1], "MB"),
                "jvm_heap_live_mb": (live_heap, "MB"),
            }
        context["loadavg_end"] = os.getloadavg()[0]
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                name: {"value": v, "unit": u} for name, (v, u) in metrics.items()
            },
        }))
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            stop_descendants()
            shutil.rmtree(work, ignore_errors=True)


def layer_metrics(tracing, tracer, wl, timed, work):
    """Per-layer metrics of the timed passes, per pass, from the spans and
    the event log the stopped session has closed."""
    jobs, stages = tracing.read_event_log(os.path.join(work, "eventlog"))
    spans = [s for s in tracer.spans if s.pass_no >= 0]
    counters = tracing.attribute(jobs, stages, spans)
    tracer.write(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "_traces", f"{tracer.run_id}.jsonl",
    ))
    n = len(timed)
    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    jobs_of: dict = {}
    for j in jobs:
        jobs_of.setdefault(j.span, []).append(j)

    def self_time(s):
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        return (s.end - s.start) - tracing.union_length(kids)

    def subtree(s):
        out = [s]
        for c in children.get(s.id, []):
            out += subtree(c)
        return out

    def per_pass(select, what):
        chosen = [s for s in spans if select(s)]
        if what == "self_s":
            return sum(self_time(s) for s in chosen) / n
        if what == "jobs":
            return sum(len(jobs_of.get(s.id, [])) for s in chosen) / n
        if what == "tree_jobs":
            return sum(len(jobs_of.get(x.id, [])) for s in chosen
                       for x in subtree(s)) / n
        raise ValueError(what)

    def call(*names):
        return lambda s: s.call in names

    def layer(name):
        return lambda s: s.layer == name

    total = tracing.Counters()
    for c in counters.values():
        total.add(c)
    top = [s for s in spans if s.parent is None]
    gap = 0.0
    for s in top:
        ivals = [(max(j.start, s.start), min(j.end, s.end))
                 for x in subtree(s) for j in jobs_of.get(x.id, [])]
        gap += (s.end - s.start) - tracing.union_length(
            [iv for iv in ivals if iv[1] > iv[0]])
    listed = total.stages_listed or 1
    m = {
        "io.read_s": (per_pass(layer("io"), "self_s"), "s"),
        "type_sys.infer_s": (per_pass(layer("type_sys"), "self_s"), "s"),
        "type_sys.infer_jobs": (per_pass(layer("type_sys"), "jobs"), "count"),
        "accessor.init_s": (per_pass(call("init"), "self_s"), "s"),
        "accessor.init_jobs": (per_pass(call("init"), "jobs"), "count"),
        "logical_types.transform_s": (per_pass(call("transform"), "self_s"), "s"),
        "accessor.validate_s": (
            per_pass(call("validate_logical_types"), "self_s"), "s"),
        "accessor.metadata_s": (
            per_pass(call("select", "set_types", "rename"), "self_s"), "s"),
        "accessor.metadata_jobs": (
            per_pass(call("select", "set_types", "rename"), "jobs"), "count"),
        "serializers.write_s": (per_pass(call("to_disk"), "self_s"), "s"),
        "serializers.read_s": (per_pass(call("from_disk"), "self_s"), "s"),
        "serializers.bytes_per_source_byte": (0.0, "ratio"),
        "statistics.describe_s": (per_pass(call("describe_dict"), "self_s"), "s"),
        "statistics.outliers_s": (per_pass(
            call("box_plot_dict", "medcouple_dict", "get_outliers"), "self_s"), "s"),
        "statistics.dependence_s": (per_pass(call("dependence"), "self_s"), "s"),
        "statistics.value_counts_s": (per_pass(call("value_counts"), "self_s"), "s"),
        "statistics.frequency_s": (
            per_pass(call("infer_temporal_frequencies"), "self_s"), "s"),
        "statistics.jobs": (per_pass(layer("statistics"), "tree_jobs"), "count"),
        "operators.build_s": (per_pass(call("build"), "self_s"), "s"),
        "operators.collect_s": (per_pass(call("collect"), "self_s"), "s"),
        "operators.build_jobs": (per_pass(call("build"), "tree_jobs"), "count"),
        "operators.collect_jobs": (per_pass(call("collect"), "tree_jobs"), "count"),
        "spark.jobs": (total.jobs / n, "count"),
        "spark.stages": (total.stages_run / n, "count"),
        "spark.tasks": (total.tasks / n, "count"),
        "spark.skipped_stage_ratio": (
            max(total.stages_listed - total.stages_run, 0) / listed, "ratio"),
        "spark.driver_gap_s": (gap / n, "s"),
        "spark.executor_run_s": (total.executor_run_s / n, "s"),
        "spark.executor_cpu_s": (total.executor_cpu_s / n, "s"),
        "spark.gc_s": (total.gc_s / n, "s"),
        "spark.shuffle_read_mb": (total.shuffle_read_mb / n, "MB"),
        "spark.shuffle_write_mb": (total.shuffle_write_mb / n, "MB"),
        "spark.spill_mb": (total.spill_mb / n, "MB"),
        "spark.result_mb": (total.result_mb / n, "MB"),
        "spark.peak_exec_mb": (total.peak_exec_mb, "MB"),
        "spark.peak_storage_mb": (total.peak_storage_mb, "MB"),
        "trace.run_s": (statistics.median(p.wall for p in timed), "s"),
    }
    m.update(wl.extra_layer_metrics())
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
