"""The benchmark's four workloads.

Each workload names the tables it needs and has four phases, driven by
``run.py``: ``prepare`` (seeded inputs and expected answers, before the
engine starts), ``build`` (roots and service; timed three times for
``setup_s``), ``warm_up`` and ``measure`` (the closed loop until the
deadline).
"""

from __future__ import annotations

import itertools
import math
import os
import random
import shutil
import threading
import time

import numpy as np

import traffic
from harness import Client, check_response
from tracing import job_group


class Context:
    """What one run shares between the runner and its workload."""

    def __init__(self, seed, trace_on, work, tracer, record, cores):
        self.seed = seed
        self.trace = trace_on
        self.work = work
        self.tracer = tracer
        self.record = record
        self.cores = cores
        self.spark = None
        self.paths: dict[str, str] = {}
        self.tables: dict = {}
        self.deferred: list = []
        self.probes: list = []

    def read_root(self, name_or_path: str):
        from graphique_spark import sources

        path = self.paths.get(name_or_path, name_or_path)
        with self.tracer.span("sources.read_parquet", root=self.trace):
            return sources.read_parquet(self.spark, path)

    def service(self, roots):
        from graphique_spark.service import GraphQLService
        from graphique_spark.service.asgi import GraphQLApp

        import tracing

        with self.tracer.span("service.schema_build", root=self.trace):
            service = GraphQLService(roots)
        if self.trace:
            tracing.trace_service_run(self.tracer, service, self.spark)
        return service, GraphQLApp(service)

    def request(self, client: Client, app, service, req, traced: bool) -> None:
        """One timed ASGI request, checked against its expected answer."""
        record = self.record
        with self.tracer.span("asgi", root=traced, kind=req.kind) as span:
            start = time.perf_counter()
            try:
                status, body = client.post(app, req.doc)
            except Exception as exc:  # noqa: BLE001 -- an exception is a failed request
                end = time.perf_counter()
                record.add(req.kind, start, end, False, traced, why=repr(exc))
                return
            end = time.perf_counter()
        ok, why, leaves = check_response(req, status, body, self.deferred)
        record.add(req.kind, start, end, ok, traced, leaves, span.id if span else None, why)
        if traced:
            record.note_persisted(self.spark)
            self.probes.append((service, req.doc, span.id))

    def run_probes(self) -> None:
        """Per-layer spans on each traced request's own document:
        translation to a frame, SQL rendering and physical planning. They
        run after the requests, so they add no load while requests are
        timed."""
        from graphique_spark.service.translate import compile_dataset

        tracer = self.tracer
        for service, doc, request_id in self.probes:
            with tracer.span("probe", root=True, of=request_id) as probe, \
                    job_group(self.spark, probe):
                with tracer.span("service.translate"):
                    ds = compile_dataset(service, doc)
                with tracer.span("dataset.to_sql"):
                    ds.to_sql()
                with tracer.span("spark.plan"):
                    ds.df._jdf.queryExecution().executedPlan()
        self.probes.clear()


class GraphQLWorkload:
    """A pool of seeded GraphQL requests sent by ``clients`` closed-loop
    clients; the pool's order is the send order across all clients."""

    items = ("leaves_per_s", "leaves/s", "scalar leaves answered per second")
    by_kind = False
    #: Untimed passes over the templates before the window.
    warm_passes = 2

    def __init__(self, roots, templates, clients, pool_size):
        self.tables = roots
        self.templates = templates
        self.clients = clients
        self.pool_size = pool_size

    def prepare(self, ctx: Context, duck) -> None:
        self.pool = traffic.request_pool(self.templates, ctx.seed, self.name, self.pool_size)
        rng = random.Random(f"warm-{self.name}-{ctx.seed}")
        self.warm = [template(rng) for _ in range(self.warm_passes) for template in self.templates]
        traffic.answer(duck, self.pool)

    def build(self, ctx: Context) -> None:
        roots = {name: ctx.read_root(name) for name in self.tables}
        self.service, self.app = ctx.service(roots)

    def warm_up(self, ctx: Context) -> None:
        """Each warm request once, spread over ``ctx.cores`` clients."""
        pending = iter(self.warm)
        lock = threading.Lock()

        def loop():
            client = Client()
            try:
                while True:
                    with lock:
                        req = next(pending, None)
                    if req is None:
                        return
                    client.post(self.app, req.doc)
            finally:
                client.close()

        run_clients(loop, ctx.cores)

    def measure(self, ctx: Context, deadline: float) -> None:
        counter = itertools.count()

        def loop():
            client = Client()
            try:
                while time.perf_counter() < deadline:
                    k = next(counter)
                    req = self.pool[k % len(self.pool)]
                    # whole passes over the templates, so traced and
                    # untraced requests have the same mix
                    traced = traced_turn(ctx, k // len(self.templates))
                    ctx.request(client, self.app, self.service, req, traced)
            finally:
                client.close()

        run_clients(loop, self.clients)
        ctx.run_probes()

    def items_per_s(self, record, window_s: float) -> float:
        return sum(op["leaves"] for op in record.ops if op["ok"]) / window_s


def traced_turn(ctx: Context, turn: int) -> bool:
    """Whether pass or iteration ``turn`` of a traced run is traced. The
    order is untraced, traced, traced, untraced, so a warming trend over
    the window does not favour either side of ``trace.overhead_pct``."""
    return ctx.trace and turn % 4 in (1, 2)


def run_clients(loop, n: int) -> None:
    """Run ``loop`` on ``n`` threads; the first exception is re-raised."""
    errors: list[BaseException] = []

    def guarded():
        try:
            loop()
        except BaseException as exc:  # noqa: BLE001 -- handed to the caller below
            errors.append(exc)

    threads = [threading.Thread(target=guarded, name=f"client-{i}") for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=170)
        if t.is_alive():
            raise RuntimeError(f"{t.name} did not finish")
    if errors:
        raise errors[0]


class IngestWorkload:
    """Write a lineitem slice partitioned by ship year and return flag,
    root a fresh service on it, run the partition-aware requests."""

    name = "partitioned_ingest"
    tables = ["lineitem"]
    clients = 1
    by_kind = False
    slices = 8
    items = ("ingest_rows_per_s", "rows/s", "rows written per second of write_partitioned time")

    def items_per_s(self, record, window_s: float) -> float:
        return record.items / record.item_seconds

    def prepare(self, ctx: Context, duck) -> None:
        self.pool = traffic.ingest_slices(ctx.seed, self.slices)
        self.warm = traffic.ingest_slices(ctx.seed + 1_000_003, 1)[0]
        for piece in self.pool + [self.warm]:
            duck.execute(traffic.INGEST_VIEW.format(lo=piece.lo, hi=piece.hi))
            piece.rows = duck.execute("SELECT count(*) FROM s").fetchall()[0][0]
            traffic.answer(duck, piece.requests)

    def build(self, ctx: Context) -> None:
        self.base = ctx.read_root("lineitem")

    def warm_up(self, ctx: Context) -> None:
        saved, ctx.record = ctx.record, type(ctx.record)()
        try:
            self.iteration(ctx, self.warm, "warm", False)
        finally:
            ctx.record = saved

    def measure(self, ctx: Context, deadline: float) -> None:
        j = 0
        while time.perf_counter() < deadline:
            self.iteration(ctx, self.pool[j % len(self.pool)], str(j), traced_turn(ctx, j))
            j += 1

    def iteration(self, ctx: Context, piece, tag: str, traced: bool) -> None:
        from pyspark.sql import functions as F

        from graphique_spark import sources

        dest = os.path.join(ctx.work, f"ingest-{tag}")
        src = self.base.df.where(
            (F.col("l_orderkey") >= piece.lo) & (F.col("l_orderkey") < piece.hi)
        ).withColumn("l_shipyear", F.year("l_shipdate"))
        with ctx.tracer.span("sources.write_partitioned", root=traced) as span, \
                job_group(ctx.spark, span):
            start = time.perf_counter()
            sources.write_partitioned(src, dest, traffic.INGEST_KEYS,
                                      sort_within=["l_orderkey", "l_linenumber"])
            ctx.record.add_items(piece.rows, time.perf_counter() - start)
        with ctx.tracer.span("ingest.root", root=traced):
            service, app = ctx.service(ctx.read_root(dest))
        if traced:
            with ctx.tracer.span("sources.footer_walk", root=True) as walk:
                walk.attrs["files"] = len(sources.partition_file_counts(dest, traffic.INGEST_KEYS))
        client = Client()
        try:
            for req in piece.requests:
                ctx.request(client, app, service, req, traced)
        finally:
            client.close()
        ctx.run_probes()
        shutil.rmtree(dest)


class CurationWorkload:
    """Near-duplicate curation of document batches, then an IVF top-k query
    against fixed centroids; every result is checked in Python.

    An iteration is four steps of four kinds, each about a second, so a
    window holds a few samples of each kind and may end inside an
    iteration. ``by_kind`` makes the latency figures means over kinds of
    per-kind figures, which do not move with that cut."""

    name = "llm_curation"
    tables = ["documents", "embeddings"]
    clients = 1
    by_kind = True
    batch = 1200
    queries = 1
    batches = 2
    warm_iterations = 2
    min_jaccard = 0.5
    centroids = 16
    nprobe = 2
    k = 10
    items = ("docs_per_s", "docs/s", "documents curated per second of pipeline time")

    def items_per_s(self, record, window_s: float) -> float:
        return record.items / record.item_seconds

    def prepare(self, ctx: Context, duck) -> None:
        import curation

        rng = random.Random(f"curation-{ctx.seed}")
        docs = ctx.tables["documents"]
        n_docs = docs.num_rows
        self.texts = docs.column("text").to_pylist()
        self.n_chars = docs.column("n_chars").to_pylist()
        self.vectors = np.asarray(ctx.tables["embeddings"].column("embedding").to_pylist(), "float64")
        picks = rng.sample(range(len(self.vectors)), self.centroids)
        self.centroid_list = [(cid, [float(x) for x in self.vectors[i]]) for cid, i in enumerate(picks)]
        self.ivf = curation.IvfOracle(self.vectors, self.centroid_list, self.nprobe, self.k)

        def batch(size):
            lo = rng.randrange(0, n_docs - size)
            qs = [rng.choice(self.vectors) + np.array([rng.gauss(0, 0.3) for _ in range(self.vectors.shape[1])])
                  for _ in range(self.queries)]
            return lo, lo + size, [[float(x) for x in q] for q in qs]

        self.pool = [batch(self.batch) for _ in range(self.batches)]

    def build(self, ctx: Context) -> None:
        self.docs = ctx.read_root("documents")
        self.emb = ctx.read_root("embeddings")

    def warm_up(self, ctx: Context) -> None:
        """Each batch of the pool once: the cold iteration and the next,
        which is still slower than those after it."""
        saved, ctx.record = ctx.record, type(ctx.record)()
        try:
            for j in range(self.warm_iterations):
                self.iteration(ctx, self.pool[j % len(self.pool)], False)
        finally:
            ctx.record = saved

    def measure(self, ctx: Context, deadline: float) -> None:
        j = 0
        while time.perf_counter() < deadline:
            self.iteration(ctx, self.pool[j % len(self.pool)], traced_turn(ctx, j), deadline)
            j += 1

    def iteration(self, ctx: Context, batch, traced: bool, deadline: float = math.inf) -> None:
        """One batch through the pipeline, then its top-k queries. Stops
        before the next step once ``deadline`` has passed: a step takes
        about a second and an iteration several, so stopping between
        iterations would make the window, and the mix in it, jump."""
        import curation
        from pyspark.sql import functions as F

        from graphique_spark.llm import dedup, similarity

        lo, hi, queries = batch
        sub = self.docs.df.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        frames = {}

        def candidates():
            frames["pairs"] = dedup.minhash_candidates(sub, min_jaccard=self.min_jaccard)
            return frames["pairs"]

        def components():
            frames["comps"] = dedup.connected_components(frames["pairs"])
            return frames["comps"]

        def late():
            return time.perf_counter() >= deadline

        if late():
            return
        pairs, t1 = self.step(ctx, "minhash_candidates", candidates, traced,
                              lambda rows: curation.check_pairs(rows, self.texts, lo, hi, self.min_jaccard))
        if pairs is None or late():
            return
        comps, t2 = self.step(ctx, "connected_components", components, traced,
                              lambda rows: curation.check_components(rows, pairs))
        if comps is None or late():
            return
        picked, t3 = self.step(ctx, "canonical_pick", lambda: dedup.canonical_pick(frames["comps"], sub),
                               traced, lambda rows: curation.check_pick(rows, comps, self.n_chars))
        if picked is not None:
            ctx.record.add_items(hi - lo, t1 + t2 + t3)
        for q in queries:
            if late():
                return
            self.step(ctx, "ivf_topk", lambda q=q: similarity.ivf_topk(
                self.emb.df, q, k=self.k, nprobe=self.nprobe, centroids=self.centroid_list),
                traced, lambda rows, q=q: self.ivf.check(rows, q))

    def step(self, ctx: Context, kind: str, frame, traced: bool, check):
        """Build ``frame()``, collect it and check the rows; one op.
        Returns ``(rows, seconds)``, with rows None when the step failed."""
        record = ctx.record
        with ctx.tracer.span(f"llm.{kind}", root=traced) as span, job_group(ctx.spark, span):
            start = time.perf_counter()
            try:
                df = frame()
                if span is not None:
                    with ctx.tracer.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                rows = df.collect()
            except Exception as exc:  # noqa: BLE001 -- an exception is a failed step
                end = time.perf_counter()
                record.add(kind, start, end, False, traced, why=repr(exc))
                return None, end - start
            end = time.perf_counter()
        why = check(rows)
        record.add(kind, start, end, not why, traced, len(rows), span.id if span else None, why)
        if traced:
            span.attrs["rows"] = len(rows)
            record.note_persisted(ctx.spark)
        return (None if why else rows), end - start


def make(name: str, cores: int):
    if name == "dashboard_mix":
        w = GraphQLWorkload(traffic.DASHBOARD_ROOTS, traffic.DASHBOARD, cores, 400)
    elif name == "analyst_scan":
        w = GraphQLWorkload(traffic.ANALYST_ROOTS, traffic.ANALYST, 1, 42)
    elif name == "partitioned_ingest":
        return IngestWorkload()
    elif name == "llm_curation":
        return CurationWorkload()
    else:
        raise ValueError(f"unknown workload {name!r}")
    w.name = name
    return w


WORKLOADS = ["dashboard_mix", "analyst_scan", "partitioned_ingest", "llm_curation"]
