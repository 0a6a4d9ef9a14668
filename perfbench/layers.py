"""Per-layer figures of a traced run, from its spans and Spark's job list.

Every figure in :data:`UNITS` is reported on every workload; a layer the
workload does not reach reads 0. The write-path figures in
:data:`WRITE_UNITS` are reported only by a workload that writes. README.md in this directory names, for each figure, the
end-to-end metric it should move and on which workload.
"""

from __future__ import annotations

import statistics

import stats
from tracing import covered_ms, group_name, spark_jobs

UNITS = {
    "session.start_s": "s",
    "sources.read_parquet_ms": "ms",
    "service.schema_build_ms": "ms",
    "asgi.self_ms": "ms",
    "service.self_ms": "ms",
    "service.translate_ms": "ms",
    "dataset.to_sql_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.job_ms": "ms",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.zero_job_share": "ratio",
    "service.leaves_per_job": "ratio",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds_after": "count",
    "spark.persisted_rdds_max": "count",
    "llm.minhash_candidates_ms": "ms",
    "llm.candidate_pairs": "count",
    "llm.connected_components_ms": "ms",
    "llm.components_jobs": "count",
    "llm.canonical_pick_ms": "ms",
    "llm.ivf_topk_ms": "ms",
    "trace.overhead_pct": "%",
}
WRITE_UNITS = {
    "sources.write_partitioned_ms": "ms",
    "sources.files_written": "count",
    "sources.footer_walk_ms": "ms",
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(ctx, spark, leaked: int) -> tuple[dict, dict]:
    """``(metrics, notes)`` for a traced run."""
    spans = ctx.tracer.spans
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    jobs = spark_jobs(spark)

    # the requests whose Spark work is attributed: GraphQL requests, or the
    # curation steps on llm_curation
    requests = [s for s in by_name.get("asgi", []) if s.parent is None]
    if not requests:
        requests = [s for s in spans if s.parent is None and s.name.startswith("llm.")]
    leaves = {op["span"]: op["leaves"] for op in ctx.record.ops if op["span"] is not None}
    asgi_self, service_self, job_ms, n_jobs, n_tasks = [], [], [], [], []
    for req in requests:
        js = jobs.get(group_name(req.request), [])
        job_ms.append(sum(j.ms for j in js))
        n_jobs.append(len(js))
        n_tasks.append(sum(j.tasks for j in js))
        run = [c for c in children.get(req.id, []) if c.name == "service.run"]
        if run:
            asgi_self.append(req.ms - run[0].ms)
            service_self.append(run[0].ms - covered_ms(run[0], js))
    failed_tasks = sum(j.failed_tasks for group, js in jobs.items()
                       if group.startswith(group_name("")) for j in js)

    def ms_of(name):
        return _median(s.ms for s in by_name.get(name, []))

    def jobs_of(name):
        return _median(len(jobs.get(group_name(s.request), [])) for s in by_name.get(name, []))

    # traced vs untraced p50, kind by kind so the two sides have one mix
    by_kind: dict[tuple[str, bool], list[float]] = {}
    for op in ctx.record.ops:
        if op["ok"]:
            by_kind.setdefault((op["kind"], op["traced"]), []).append(op["ms"])
    ratios = [stats.median(ms) / stats.median(by_kind[(kind, False)])
              for (kind, traced), ms in by_kind.items() if traced and (kind, False) in by_kind]
    overhead = 100.0 * (stats.median(ratios) - 1.0) if ratios else 0.0
    session = by_name.get("session.start", [])
    values = {
        "session.start_s": session[0].ms / 1000.0 if session else 0.0,
        "sources.read_parquet_ms": ms_of("sources.read_parquet"),
        "service.schema_build_ms": ms_of("service.schema_build"),
        "asgi.self_ms": _median(asgi_self),
        "service.self_ms": _median(service_self),
        "service.translate_ms": ms_of("service.translate"),
        "dataset.to_sql_ms": ms_of("dataset.to_sql"),
        "spark.plan_ms": ms_of("spark.plan"),
        "spark.job_ms": _median(job_ms),
        "spark.jobs_per_request": _mean(n_jobs),
        "spark.tasks_per_request": _mean(n_tasks),
        "spark.zero_job_share": _mean(1.0 if n == 0 else 0.0 for n in n_jobs),
        "service.leaves_per_job": (sum(leaves.get(r.id, 0) for r in requests)
                                   / max(sum(n_jobs), 1)),
        "spark.failed_tasks": failed_tasks,
        "spark.persisted_rdds_after": leaked,
        "spark.persisted_rdds_max": ctx.record.persisted_max,
        "llm.minhash_candidates_ms": ms_of("llm.minhash_candidates"),
        "llm.candidate_pairs": _median(s.attrs["rows"] for s in by_name.get("llm.minhash_candidates", [])),
        "llm.connected_components_ms": ms_of("llm.connected_components"),
        "llm.components_jobs": jobs_of("llm.connected_components"),
        "llm.canonical_pick_ms": ms_of("llm.canonical_pick"),
        "llm.ivf_topk_ms": ms_of("llm.ivf_topk"),
        "trace.overhead_pct": overhead,
    }
    if "sources.write_partitioned" in by_name:
        values.update({
            "sources.write_partitioned_ms": ms_of("sources.write_partitioned"),
            "sources.files_written": _median(s.attrs["files"] for s in by_name.get("sources.footer_walk", [])),
            "sources.footer_walk_ms": ms_of("sources.footer_walk"),
        })
    units = {**UNITS, **WRITE_UNITS}
    metrics = {name: {"value": float(v), "unit": units[name]} for name, v in values.items()}
    notes = {"spark.job_ms": f"median over {len(requests)} traced requests",
             "spark.persisted_rdds_after": "after the workload, once garbage is collected",
             "spark.persisted_rdds_max": "after a traced request, other clients' requests included",
             "trace.overhead_pct": f"median over {len(ratios)} request kinds of traced p50 / untraced p50"}
    return metrics, notes
