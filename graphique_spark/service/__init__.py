"""GraphQL service: execute GraphQL documents against Spark DataFrames.

The reference is a GraphQL service over columnar tables (reference
middleware.py:41-65); this is the same architecture over PySpark:

* ``GraphQLService(roots)`` derives a GraphQL schema from each root's
  ``StructType`` (one typed Table per root; single-root mode exposes the
  table's fields at the query root, like ``GraphQL(root)``).
* Each resolver builds a new *lazy* Dataset; only scalar leaves
  (``count``, ``values``, ``row``...) launch Spark jobs.
* The leaves of one table node share its Spark jobs, where the reference
  caches the table for its sub-fields (reference interface.py:83-91): one
  job answers every aggregate leaf and the ``count``, one more every
  ``values`` leaf with the same ``limit:`` (``schema.LeafBatches``). Each
  leaf resolver registers its expression with its node's job and returns
  an awaitable; the executor's own traversal calls every resolver before
  it awaits any, so a job runs, once, when its first leaf is awaited.
  Nothing is persisted.

No ASGI dependency: ``execute`` and ``run`` are synchronous and in-process;
each runs graphql-core's async executor under ``asyncio.run`` on the
calling thread. From a thread that already runs an event loop (a notebook
cell) they run it on a ``pyspark.InheritableThread`` instead, which keeps
the caller's Spark job group and local properties. Any HTTP layer can wrap
them; the engine itself stays transport-neutral.
"""

from __future__ import annotations

import asyncio
import concurrent.futures
import time
from datetime import timedelta
from inspect import isawaitable
from typing import Any, Mapping

from graphql import GraphQLSchema, graphql
from pyspark import InheritableThread
from pyspark.sql import DataFrame

from graphique_spark.dataset import Dataset
from graphique_spark.service.schema import LeafBatches, SchemaBuilder


class GraphQLError(Exception):
    pass


class GraphQLService:
    def __init__(
        self,
        roots: Mapping[str, Dataset | DataFrame] | Dataset | DataFrame,
        allow_sql: bool = False,
        keys: Mapping[str, list[str]] | None = None,
    ):
        """``keys`` marks roots as federation entities (reference
        interface.py:93-98): ``{root_name: [key column, ...]}`` enables the
        ``_entities(representations:)`` and ``_service { sdl }`` fields."""
        if isinstance(roots, (Dataset, DataFrame)):
            roots = {"table": roots}
        self.roots = {
            name: ds if isinstance(ds, Dataset) else Dataset(ds) for name, ds in roots.items()
        }
        for name, ds in self.roots.items():  # join/union targets resolve by name
            ds.roots.update(self.roots)
            if ds._source is None:
                # toSql rendering: a root with no recorded origin (a bare
                # DataFrame) renders as its root name — runnable once the
                # caller registers a matching temp view / catalog table
                from graphique_spark import sqlrender

                ds._source = sqlrender.table_ref(name)
                ds._ops = ()
        self.allow_sql = allow_sql
        self.schema: GraphQLSchema = SchemaBuilder(self.roots, keys=keys).build()

    def execute(
        self,
        query: str,
        variables: Mapping[str, Any] | None = None,
        partial: bool = False,
    ) -> dict:
        """Run a GraphQL document; raise on any error (test-client style,
        reference conftest.py:26-31). ``partial=True`` returns whatever
        resolved, with failed fields nulled — the reference's ``optional``
        partial-results behavior (reference interface.py:138-141)."""
        result, _ = self._run(query, variables)
        if result.errors and not partial:
            raise GraphQLError(result.errors) from result.errors[0].original_error
        return result.data

    def run(
        self,
        query: str,
        variables: Mapping[str, Any] | None = None,
        metrics: bool = False,
    ) -> dict:
        """HTTP-response-shaped execution: ``{data, errors?, extensions?}``
        with formatted (JSON-safe) errors. ``metrics=True`` adds per-resolver
        wall-clock timings, the reference's Apollo-tracing-derived metrics
        extension (reference middleware.py:22-38), and per table node that
        ran leaf jobs: its path, leaf count and job time."""
        middleware = [_MetricsMiddleware()] if metrics else None
        start = time.perf_counter()
        result, batches = self._run(query, variables, middleware=middleware)
        payload: dict = {"data": result.data}
        if result.errors:
            payload["errors"] = [e.formatted for e in result.errors]
        if metrics:
            payload["extensions"] = {
                "metrics": {
                    "duration": str(timedelta(seconds=time.perf_counter() - start)),
                    "execution": {
                        "resolvers": middleware[0].resolvers,
                        "batches": batches.metrics(),
                    },
                }
            }
        return payload

    def _run(self, query, variables=None, middleware=None):
        single = len(self.roots) == 1
        root_value = next(iter(self.roots.values())) if single else None
        batches = LeafBatches()
        context = {"roots": self.roots, "allow_sql": self.allow_sql, "batches": batches}
        result = _run_coroutine(
            graphql(
                self.schema,
                query,
                root_value=root_value,
                context_value=context,
                variable_values=dict(variables or {}),
                middleware=middleware,
            )
        )
        return result, batches


def _run_coroutine(coro):
    """``asyncio.run(coro)`` on this thread, or on an ``InheritableThread``
    when this thread already runs an event loop, which cannot nest."""
    try:
        asyncio.get_running_loop()
    except RuntimeError:
        return asyncio.run(coro)
    result = concurrent.futures.Future()

    def target():
        try:
            result.set_result(asyncio.run(coro))
        except BaseException as exc:  # noqa: BLE001  re-raised on the caller's thread
            result.set_exception(exc)

    thread = InheritableThread(target)
    thread.start()
    thread.join()
    return result.result()


class _MetricsMiddleware:
    """Per-resolver wall-clock timing (reference MetricsExtension,
    middleware.py:22-38) as graphql-core middleware — no tracing dependency.
    A leaf that returns an awaitable is timed until it is answered, so its
    duration covers the wait for its node's job."""

    def __init__(self):
        self.resolvers: list[dict] = []

    def resolve(self, next_, root, info, **args):
        start = time.perf_counter()
        out = next_(root, info, **args)
        if isawaitable(out):
            return self._timed(out, info, start)
        self._record(info, start)
        return out

    async def _timed(self, out, info, start):
        value = await out
        self._record(info, start)
        return value

    def _record(self, info, start):
        self.resolvers.append(
            {
                "path": list(info.path.as_list()),
                "duration": str(timedelta(seconds=time.perf_counter() - start)),
            }
        )


__all__ = ["GraphQLService", "GraphQLError"]
