"""Per-query profiler for the optimization rounds: for each named suite
query, measure (a) DataFrame build time (driver-side plan construction +
any plan-time jobs like centroid collects) and the py4j commands the build
sends to the JVM, (b) noop-sink execution wall, (c) the number of Spark
jobs and stages the query submitted, and (d) the
``explain("formatted")`` physical plan — the evidence base the
spark_optimization_guide §1 asks for before touching anything.

Usage:
    PYTHONPATH=/root/repo python tools/profile_queries.py [--plans DIR]
        [--sf SF_DIR] [--repeats N] name [name ...]

Writes one JSON line per query to stdout and (with --plans) the formatted
plan to DIR/<name>.txt. Job/stage counts come from the status tracker via
per-query job groups, so plan-time jobs (collects inside the query
builder) are included.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def _counting_py4j(spark):
    """Wrap the gateway client's ``send_command`` with a counter; returns
    the one-item list the counter bumps. Handle releases are not counted:
    py4j's finalizer thread sends them late, for earlier work."""
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    return count


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--top", type=int, default=0, help="profile the N slowest from BENCH_local.json")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from graphique_spark.session import DEFAULT_CONF

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName("graphique-spark-profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "8g")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in DEFAULT_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    queries = entry.queries()
    names = list(args.names)
    if args.top:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "BENCH_local.json")) as f:
            bench = json.load(f)
        ranked = sorted(bench["queries"].items(), key=lambda kv: -kv[1])
        names += [n for n, _ in ranked[: args.top] if n not in names]

    sc = spark.sparkContext
    py4j = _counting_py4j(spark)
    # warmup: every profiled query once at sf0.001 so codegen/broadcast
    # machinery is hot before anything is timed
    for name in names:
        try:
            queries[name](spark, "/root/testdata/sf0.001").write.mode(
                "overwrite"
            ).format("noop").save()
        except Exception:  # noqa: BLE001
            pass
    spark.catalog.clearCache()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in names:
        fn = queries[name]
        best = None
        for rep in range(max(1, args.repeats)):
            group = f"{name}#{rep}"
            sc.setJobGroup(group, name)
            t0, n0 = time.perf_counter(), py4j[0]
            df = fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            build_py4j = py4j[0] - n0
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            stages = 0
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                stages += len(info.stageIds)
                for s in info.stageIds:
                    sinfo = tracker.getStageInfo(s)
                    if sinfo is not None:
                        tasks += sinfo.numTasks
            rec = {
                "query": name,
                "build_ms": round(t_build * 1000, 1),
                "build_py4j": build_py4j,
                "wall_s": round(wall, 3),
                "jobs": len(jobs),
                "stages": stages,
                "tasks": tasks,
            }
            if best is None or wall + t_build < best_total:
                best, best_total = rec, wall + t_build
            if args.plans and rep == 0:
                try:
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                except Exception:  # noqa: BLE001
                    from contextlib import redirect_stdout
                    import io

                    buf = io.StringIO()
                    with redirect_stdout(buf):
                        df.explain("formatted")
                    plan = buf.getvalue()
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(plan)
            spark.catalog.clearCache()
        print(json.dumps(best), flush=True)


if __name__ == "__main__":
    main()
