"""Process, session, ASGI-client and bookkeeping helpers for the runner."""

from __future__ import annotations

import asyncio
import gc
import json
import os
import subprocess
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- process helpers ---------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_hwm() -> None:
    """Restart this process's peak-RSS count, so input generation and the
    oracle do not count toward ``peak_rss_mb``."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, timeout=30)
    return out.stdout.strip() or "unknown"


def start_session(work: str, cores: int):
    from graphique_spark import get_session

    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    """Process id of the JVM that PySpark launched for this session."""
    return spark.sparkContext._gateway.proc.pid


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def persisted_rdds_settled(spark, wait_s: float = 5.0) -> int:
    """Persistent RDDs once unreferenced frames are collected: Python and
    JVM garbage collection let Spark's ContextCleaner drop blocks whose
    owners are gone, so what remains is held by live references."""
    deadline = time.monotonic() + wait_s
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = persisted_rdds(spark)
        if left == 0 or time.monotonic() > deadline:
            return left
        time.sleep(0.2)


# -- ASGI client -------------------------------------------------------------


async def _post(app, doc: str):
    body = json.dumps({"query": doc}).encode()
    sent: list[dict] = []

    async def receive():
        return {"type": "http.request", "body": body, "more_body": False}

    async def send(message):
        sent.append(message)

    await app({"type": "http", "method": "POST", "path": "/", "headers": []}, receive, send)
    return sent[0]["status"], json.loads(sent[1]["body"])


class Client:
    """One closed-loop client: its own event loop, so ``GraphQLApp`` runs
    ``service.run`` on this client's default executor."""

    def __init__(self):
        self.loop = asyncio.new_event_loop()

    def post(self, app, doc: str):
        return self.loop.run_until_complete(_post(app, doc))

    def close(self) -> None:
        self.loop.run_until_complete(self.loop.shutdown_default_executor())
        self.loop.close()


# -- measurement record ------------------------------------------------------


class Record:
    """Per-op outcomes of the measured window, shared by client threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.last_end: float | None = None
        self.items = 0
        self.item_seconds = 0.0
        self.persisted_max = 0
        self.deferred_failed = 0

    def add(self, kind, start, end, ok, traced=False, leaves=0, span=None, why=""):
        with self.lock:
            self.ops.append({"kind": kind, "ms": (end - start) * 1000.0, "ok": ok,
                             "traced": traced, "leaves": leaves, "span": span})
            if not ok:
                self.failures.append(f"{kind}: {why}")
            self.last_end = end if self.last_end is None else max(self.last_end, end)

    def add_items(self, items: int, seconds: float) -> None:
        with self.lock:
            self.items += items
            self.item_seconds += seconds

    def note_persisted(self, spark) -> None:
        n = persisted_rdds(spark)
        with self.lock:
            self.persisted_max = max(self.persisted_max, n)


def check_response(req, status: int, body: dict, deferred: list) -> tuple[bool, str, int]:
    """``(ok, why, leaves)`` for one GraphQL response."""
    from traffic import count_leaves, matches

    if status != 200:
        return False, f"HTTP {status}", 0
    if "errors" in body:
        return False, json.dumps(body["errors"])[:300], 0
    data = body.get("data")
    leaves = count_leaves(data)
    if req.sql_text:
        text = data
        while isinstance(text, dict) and len(text) == 1:
            text = next(iter(text.values()))
        if not isinstance(text, str):
            return False, "toSql is not text", leaves
        deferred.append((req, text))
        return True, "", leaves
    if not matches(req.normalize(data), req.expected):
        return False, f"got {json.dumps(data)[:200]} want {json.dumps(req.expected)[:200]}", leaves
    return True, "", leaves


def check_deferred(spark, deferred: list, record: Record) -> None:
    """Run each distinct ``toSql`` text once on Spark; a text whose row
    count differs from DuckDB's fails every request that returned it."""
    verdicts: dict[str, bool] = {}
    for req, text in deferred:
        if text not in verdicts:
            try:
                verdicts[text] = spark.sql(text).count() == req.expected
            except Exception as exc:  # noqa: BLE001 -- a bad text is a failed answer
                verdicts[text] = False
                record.failures.append(f"toSql text failed to run: {exc}")
        if not verdicts[text]:
            record.failures.append(f"toSql text gave a wrong count: {text[:200]}")
    record.deferred_failed = sum(1 for _, text in deferred if not verdicts[text])
