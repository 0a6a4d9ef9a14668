"""Benchmark graphique_spark as a GraphQL service.

Run from the repository root::

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 25 --trace 0

The engine starts through ``graphique_spark.get_session`` (so
``session.DEFAULT_CONF`` is measured) on ``local[min(4, nproc)]`` and is
driven only through public entry points: ``service.asgi.GraphQLApp`` called
in-process with ASGI POST messages, ``sources.read_parquet`` /
``sources.write_partitioned`` and the ``llm`` functions. Inputs are
generated from ``--seed`` under ``perfbench/.work`` and removed at exit.
Every answer is checked against DuckDB (GraphQL workloads) or a Python
reference (curation) computed before the engine starts. All loops are
closed: a client sends its next request when the previous one returns.

Workloads (README.md in this directory says why each exists):

* ``dashboard_mix`` -- min(4, nproc) clients, ten request templates over
  six roots with skewed literals, so many requests repeat exactly.
* ``analyst_scan`` -- one client, seven full-scan templates over lineitem,
  orders, events and ticks with literals from a wide domain. Not listed in
  ``BENCHMARK.json``: a short window holds too few of its slow requests.
* ``partitioned_ingest`` -- one client; each iteration writes ~100k
  lineitem rows with ``write_partitioned``, roots a fresh service on them
  and runs five partition-aware requests. Not listed in ``BENCHMARK.json``:
  a third workload leaves too short a window for steady figures.
* ``llm_curation`` -- one client; each iteration takes a document batch
  through minhash candidates, connected components and canonical pick, then
  runs an IVF top-k query. Its latency figures are means over step kinds.

With ``--trace 0`` the last line reports the end-to-end metrics; with
``--trace 1`` the run alternates untraced and traced passes (or
iterations), records spans around each layer call, reads Spark jobs from
the status store by job group, reports the per-layer metrics and writes the
spans to ``perfbench/.work/trace-<workload>-<seed>.json``. The lines before
the last one print the run record and every figure by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

import datagen
import harness
import layers
import stats
import workloads
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Root/service builds timed per run; ``setup_s`` takes their median.
BUILDS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run_record(args, clients: int, cores: int, spark_version: str) -> dict:
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": harness.nproc(), "clients": clients,
        "master": f"local[{cores}]", "spark": spark_version,
        "python": platform.python_version(), "commit": harness.git_commit(),
        "loadavg_start": list(os.getloadavg()),
    }


def end_to_end(wl, record, setup_s: float, window_s: float, rss_mb: float) -> tuple[dict, dict]:
    """The ``--trace 0`` metrics, computed from the untraced ops."""
    ms = [op["ms"] for op in record.ops if op["ok"]]
    if not ms:
        raise RuntimeError("no request succeeded: " + "; ".join(record.failures[:3]))
    if wl.by_kind:
        kinds: dict[str, list[float]] = {}
        for op in record.ops:
            if op["ok"]:
                kinds.setdefault(op["kind"], []).append(op["ms"])
        p50 = stats.mean_over_kinds(kinds, stats.median)
        tail_ms = stats.mean_over_kinds(kinds, lambda v: stats.tail(v)[1])
        tail_note = f"mean over {len(kinds)} kinds of each kind's tail, {len(ms)} samples"
        p50_note = f"mean over {len(kinds)} kinds of each kind's p50, {len(ms)} samples"
    else:
        p50 = stats.median(ms)
        tail_p, tail_ms = stats.tail(ms)
        tail_note = f"p{tail_p:g} of {len(ms)} samples"
        p50_note = f"{len(ms)} samples"
    out = {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_ms": metric(p50, "ms"),
        "latency_tail_ms": metric(tail_ms, "ms"),
        "throughput_qps": metric(len(ms) / window_s, "req/s"),
        "items_per_s": metric(wl.items_per_s(record, window_s), "items/s"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }
    notes = {"latency_tail_ms": tail_note,
             "latency_p50_ms": p50_note,
             "throughput_qps": f"{wl.clients} client(s), {window_s:.2f} s window",
             "items_per_s": "{}, in {}".format(*wl.items)}
    return out, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import duckdb
        import graphique_spark  # noqa: F401 -- the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = min(4, harness.nproc())
    wl = workloads.make(args.workload, cores)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer = Tracer()
    record = harness.Record()
    ctx = workloads.Context(args.seed, bool(args.trace), work, tracer, record, cores)
    spark = None
    try:
        # inputs and expected answers: before the engine starts, untimed
        t0 = time.perf_counter()
        data = os.path.join(work, "data")
        ctx.tables = datagen.generate(args.seed, data, wl.tables)
        ctx.paths = {name: os.path.join(data, f"{name}.parquet") for name in wl.tables}
        duck = duckdb.connect()
        for name, table in ctx.tables.items():
            duck.register(name, table)
        wl.prepare(ctx, duck)
        duck.close()
        prepare_s = time.perf_counter() - t0
        harness.reset_hwm()

        # set-up: session once, roots + service BUILDS times, then warm-up
        t0 = time.perf_counter()
        with tracer.span("session.start", root=ctx.trace):
            spark = ctx.spark = harness.start_session(work, cores)
        session_s = time.perf_counter() - t0
        info = run_record(args, wl.clients, cores, spark.version)
        builds = []
        for _ in range(BUILDS):
            t0 = time.perf_counter()
            wl.build(ctx)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(ctx)
        warm_s = time.perf_counter() - t0
        builds.sort()
        setup_s = session_s + builds[len(builds) // 2] + warm_s

        # the measured window
        ticks = harness.cpu_ticks()
        start = time.perf_counter()
        wl.measure(ctx, start + args.seconds)
        window_s = (record.last_end or time.perf_counter()) - start
        steal, total = (b - a for a, b in zip(ticks, harness.cpu_ticks()))
        info["steal_pct"] = 100.0 * steal / max(total, 1)
        harness.check_deferred(spark, ctx.deferred, record)
        leaked = harness.persisted_rdds_settled(spark)
        rss_mb = harness.hwm_mb("self") + harness.hwm_mb(harness.jvm_pid(spark))
        info["loadavg_end"] = list(os.getloadavg())
        info["setup"] = {"prepare_s": prepare_s, "session_s": session_s, "builds_s": builds, "warm_up_s": warm_s}

        attempted = len(record.ops)
        failed = sum(1 for op in record.ops if not op["ok"]) + record.deferred_failed
        if ctx.trace:
            metrics, notes = layers.per_layer(ctx, spark, leaked)
            tracer.write(os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json"),
                         {"run": info, "metrics": metrics})
        else:
            metrics, notes = end_to_end(wl, record, setup_s, window_s, rss_mb)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("run " + json.dumps(info, sort_keys=True))
    print(f"error_rate {failed / max(attempted, 1):.6f} ratio ({failed} of {attempted} failed)")
    if not ctx.trace:
        print(f"spark.persisted_rdds_after {leaked} count (after the workload, once garbage is collected)")
    for name, value in metrics.items():
        note = notes.get(name, "")
        print(f"{name} {value['value']:.6g} {value['unit']}" + (f" ({note})" if note else ""))
    if not ctx.trace:
        name, unit, meaning = wl.items
        print(f"{name} {metrics['items_per_s']['value']:.6g} {unit} ({meaning}; reported as items_per_s)")
    kinds: dict[str, list[float]] = {}
    for op in record.ops:
        if op["ok"] and not op["traced"]:
            kinds.setdefault(op["kind"], []).append(op["ms"])
    for kind, ms in sorted(kinds.items()):
        print(f"kind {kind} p50 {stats.median(ms):.6g} ms ({len(ms)} samples)")
    if wl.by_kind:
        print("ops in order " + " ".join(f"{op['kind']}:{op['ms']:.0f}" for op in record.ops))
    for why in record.failures[:10]:
        print("failure: " + why)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
