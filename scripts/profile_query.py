"""Profile one or more declared queries: split construction time (the
eager iterative rounds many fits run at build time) from execution time
(collect / noop sink), count the Spark jobs and the driver->JVM py4j
round trips each phase makes, and dump the formatted plan to
plans/<round>/<name>_<tag>.txt.

Usage:
    python scripts/profile_query.py [--sf DIR] [--cpus N] [--tag before]
        [--sink noop|collect] [--reps N] [--plans-dir plans/r12] q1 q2 ...

Prints one line per query:
    <name> build=<s> exec=<s> total=<s> jobs_build=<n> jobs_exec=<n> \
        py4j_build=<n> py4j_exec=<n>
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def count_py4j_calls():
    """Count driver->JVM round trips: a counting wrapper on py4j's
    ``ClientServerConnection.send_command`` (PySpark's pinned-thread
    gateway).  The object releases py4j sends when Python's garbage
    collector frees a JavaObject are not counted: their number depends
    on when the collector runs, not on the query.  Returns a
    one-element list holding the running count."""
    from py4j import protocol as proto
    from py4j.clientserver import ClientServerConnection

    count = [0]
    send = ClientServerConnection.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting_send(self, command):
        if not command.startswith(release):
            count[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting_send
    return count


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--tag", default=None, help="plan file suffix; no dump if unset")
    ap.add_argument("--sink", default="collect", choices=["noop", "collect"])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default="plans/r12")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("woodwork_spark_profile")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # match bench.py: AQE re-planning over persisted frames
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "32g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    # ad-hoc A/B confs: SPARK_GRAFT_EXTRA_CONF="key=val;key2=val2"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            spark.conf.set(k.strip(), v.strip())
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # JVM warmup
    try:
        qs["forecast_revenue"](spark, args.sf).collect()
    except Exception:
        pass

    tracker = sc.statusTracker()
    py4j_calls = count_py4j_calls()

    def n_jobs():
        return len(tracker.getJobIdsForGroup(None) or []) + len(
            tracker.getJobIdsForGroup("") or [])

    def job_count():
        # monotone job counter: the DAGScheduler's next job id
        nj = sc._jsc.sc().dagScheduler().nextJobId()
        return nj if isinstance(nj, int) else nj.get()

    for name in args.names:
        if name not in qs:
            print(f"{name}: NOT FOUND", file=sys.stderr)
            continue
        best = None
        for rep in range(max(args.reps, 1)):
            sc.setJobDescription(f"profile:{name}:build")
            j0 = job_count()
            p0 = py4j_calls[0]
            t0 = time.perf_counter()
            out = qs[name](spark, args.sf)
            t1 = time.perf_counter()
            p1 = py4j_calls[0]
            j1 = job_count()
            sc.setJobDescription(f"profile:{name}:exec")
            p2 = py4j_calls[0]
            if args.sink == "noop":
                out.write.format("noop").mode("overwrite").save()
            else:
                out.collect()
            t2 = time.perf_counter()
            p3 = py4j_calls[0]
            j2 = job_count()
            sc.setJobDescription(None)
            if args.tag and rep == 0:
                os.makedirs(args.plans_dir, exist_ok=True)
                plan = out._sc._jvm.PythonSQLUtils.explainString(
                    out._jdf.queryExecution(), "formatted")
                with open(os.path.join(
                        args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(plan)
            row = (t1 - t0, t2 - t1, t2 - t0, j1 - j0, j2 - j1,
                   p1 - p0, p3 - p2)
            if best is None or row[2] < best[2]:
                best = row
            try:
                from woodwork_spark.lifecycle import release

                release(out)
                spark.catalog.clearCache()
            except Exception:
                pass
        b, e, t, jb, je, pb, pe = best
        print(f"{name} build={b:.3f} exec={e:.3f} total={t:.3f} "
              f"jobs_build={jb} jobs_exec={je} "
              f"py4j_build={pb} py4j_exec={pe}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
