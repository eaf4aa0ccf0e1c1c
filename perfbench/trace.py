"""Span tracing of one in-process server, from the benchmark's own files.

``Tracer.install`` wraps the public entry points of each layer of
metacat_spark (listed in ``Tracer.install``); every wrapper opens a
span with name, start, end, parent and request id. Each span tags the
Spark jobs its thread submits (``SparkContext.addJobTag``); when a
request has finished, ``settle`` reads the job ids per tag and the
stage and task counts of those jobs from the status tracker, outside
any timed region. The program itself is unchanged; ``uninstall``
restores every wrapped attribute.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.measure import dir_usage, self_time

DML_MUTATORS = ("declare_files", "add_files_to_dataset",
                "remove_files_from_dataset", "update_file_metadata",
                "update_file", "retire_file", "create_dataset",
                "update_dataset")


class _CountingWriter:
    """Proxy of a handler's wfile that counts the bytes written."""

    def __init__(self, raw, span):
        self._raw, self._span = raw, span

    def write(self, b):
        self._span["bytes_out"] = self._span.get("bytes_out", 0) + len(b)
        return self._raw.write(b)

    def __getattr__(self, name):
        return getattr(self._raw, name)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []         # finished, settled spans
        self._open: dict[str, list] = defaultdict(list)   # req -> spans
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.timings: dict[str, list] = defaultdict(list)

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack, self._local.py4j = [], 0
            self._local.req, self._local.quiet = None, 0
        return self._local.stack

    def _jvm(self, fn, *a):
        """A py4j call of the tracer's own, kept out of py4j counts."""
        self._stack()
        self._local.quiet += 1
        try:
            return fn(*a)
        finally:
            self._local.quiet -= 1

    def _begin(self, name: str, **attrs) -> dict:
        stack = self._stack()
        s = {"id": next(self._ids), "name": name, "req": self._local.req,
             "parent": stack[-1]["id"] if stack else None, **attrs}
        s["tag"] = f"pb{s['id']}"
        self._jvm(self.sc.addJobTag, s["tag"])
        s["py4j0"] = self._local.py4j
        s["start"] = time.perf_counter()
        return s

    def _finish(self, s: dict) -> None:
        s["end"] = time.perf_counter()
        s["py4j"] = self._local.py4j - s.pop("py4j0")
        self._jvm(self.sc.removeJobTag, s["tag"])
        with self._lock:
            self._open[s["req"]].append(s)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = self._begin(name, **attrs)
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            self._finish(s)

    def iter_span(self, name: str, start_iter):
        """Span over a lazy iterator. Its job tag stays set from
        ``start_iter`` (where Spark starts the JVM thread that submits
        the iterator's jobs and inherits the tags) to exhaustion; the
        span is on the thread's stack only inside next(), and ``busy``
        is the time spent there."""
        if not self.enabled:
            return start_iter()
        s = self._begin(name)
        s["busy"], s["rows"] = 0.0, 0
        stack = self._stack()

        def step(fn):
            stack.append(s)
            t = time.perf_counter()
            try:
                return fn()
            finally:
                s["busy"] += time.perf_counter() - t
                stack.pop()

        it = step(start_iter)

        def gen():
            try:
                while True:
                    try:
                        row = step(lambda: next(it))
                    except StopIteration:
                        return
                    s["rows"] += 1
                    yield row
            finally:
                self._finish(s)
        return gen()

    def bookkeeping(self):
        """Span around the tracer's own work inside a wrapped call, so
        it is excluded from the enclosing layer's self time."""
        return self.span("trace.bookkeeping")

    # -------------------------------------------------------- patching
    def _patch(self, owner, attr, make):
        if isinstance(owner, dict):
            orig = owner[attr]
            owner[attr] = make(orig)
        else:
            orig = (owner.__dict__[attr] if isinstance(owner, type)
                    else getattr(owner, attr))
            setattr(owner, attr, make(orig))
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap(self, name):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                with self.span(name):
                    return orig(*a, **k)
            return wrapper
        return make

    def _timer(self, name):
        """Append the duration of every call to ``timings[name]``."""
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                t = time.perf_counter()
                try:
                    return orig(*a, **k)
                finally:
                    self.timings[name].append(time.perf_counter() - t)
            return wrapper
        return make

    def install(self) -> None:
        import py4j.java_gateway as jg
        from pyspark.sql.classic.dataframe import DataFrame

        from metacat_spark import engine as ENG
        from metacat_spark import server as SRV
        from metacat_spark.client import MetaCatSparkClient
        from metacat_spark.dml import DML
        from metacat_spark.durable import DurableStore
        from metacat_spark.llm import registry as REG
        from metacat_spark.stats import CatalogStats

        tracer = self

        def count_py4j(orig):
            @functools.wraps(orig)
            def send_command(client, *a, **k):
                loc = tracer._local
                if getattr(loc, "stack", None) and not loc.quiet:
                    loc.py4j += 1
                return orig(client, *a, **k)
            return send_command
        self._patch(jg.GatewayClient, "send_command", count_py4j)

        # mql: the parser as the engine module binds it
        self._patch(ENG, "parse", self._wrap("mql.parse"))

        # engine translate, then Catalyst planning forced eagerly on the
        # same QueryExecution the later action reuses
        def engine_query(orig):
            @functools.wraps(orig)
            def query(*a, **k):
                with tracer.span("engine.translate"):
                    df = orig(*a, **k)
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                return df
            return query
        self._patch(ENG.Engine, "query", engine_query)

        # client delivery: query_iter is a generator the handler
        # consumes; its busy time excludes the handler's framing
        def client_iter(orig):
            @functools.wraps(orig)
            def query_iter(*a, **k):
                return tracer.iter_span("client.query_iter",
                                        lambda: orig(*a, **k))
            return query_iter
        self._patch(MetaCatSparkClient, "query_iter", client_iter)
        self._patch(MetaCatSparkClient, "query",
                    self._wrap("client.query"))

        # Spark execution: the two actions that bring results into
        # Python
        def to_local(orig):
            @functools.wraps(orig)
            def toLocalIterator(df, *a, **k):
                return tracer.iter_span("spark.exec",
                                        lambda: orig(df, *a, **k))
            return toLocalIterator
        self._patch(DataFrame, "toLocalIterator", to_local)
        self._patch(DataFrame, "collect", self._wrap("spark.exec"))

        for m in DML_MUTATORS:
            self._patch(DML, m, self._wrap(f"dml.{m}"))

        def commit(orig):
            @functools.wraps(orig)
            def wrapped(store, *a, **k):
                with tracer.bookkeeping():
                    b0, f0 = dir_usage(store.root)
                with tracer.span("durable.commit") as s:
                    out = orig(store, *a, **k)
                with tracer.bookkeeping():
                    b1, f1 = dir_usage(store.root)
                if s is not None:
                    s["bytes_written"] = max(0, b1 - b0)
                    s["files_written"] = max(0, f1 - f0)
                return out
            return wrapped
        self._patch(DurableStore, "commit", commit)
        # startup phases run outside any request: timed, not spanned
        self._patch(DurableStore, "attach", self._timer("durable.attach_s"))
        self._patch(CatalogStats, "refresh", self._timer("stats.populate_s"))

        for op in list(REG.CORPUS_OPS):
            self._patch(REG.CORPUS_OPS, op, self._wrap(f"llm.{op}"))

        # one root span per HTTP request, keyed by the request id the
        # load generator sends; bytes_out counts the response bytes
        def make_handler(orig):
            @functools.wraps(orig)
            def make(*a, **k):
                cls = orig(*a, **k)
                route = cls._route

                def _route(handler, body):
                    tracer._stack()
                    tracer._local.req = handler.headers.get("X-Bench-Req")
                    with tracer.span("server.request",
                                     path=handler.path) as s:
                        if s is not None:
                            handler.wfile = _CountingWriter(handler.wfile,
                                                            s)
                        return route(handler, body)
                cls._route = _route
                return cls
            return make
        self._patch(SRV, "make_handler", make_handler)

    # ---------------------------------------------------- settlement
    def settle(self, req: str, timeout: float = 10.0) -> None:
        """Attach job, stage and task counts to the finished spans of
        request ``req`` and move them to ``spans``. A response can be
        complete before the handler's root span closes, so wait for
        it."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                done = any(s["parent"] is None
                           for s in self._open.get(req, []))
                if done or time.monotonic() > deadline:
                    spans = self._open.pop(req, [])
                    break
            time.sleep(0.001)
        st = self.sc._jsc.sc().statusTracker()
        tracker = self.sc.statusTracker()
        for s in spans:
            s["jobs"] = sorted(st.getJobIdsForTag(s["tag"]))
        for s in spans:
            if s["parent"] is None:
                stages = tasks = 0
                for j in s["jobs"]:
                    info = tracker.getJobInfo(j)
                    for sid in (info.stageIds if info else []):
                        si = tracker.getStageInfo(sid)
                        if si and si.numCompletedTasks > 0:
                            stages += 1
                            tasks += si.numCompletedTasks
                s["stages"], s["tasks"] = stages, tasks
        self.spans.extend(spans)


# -------------------------------------------------------------- metrics

def _children(spans: list[dict]) -> dict:
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    return kids


def layer_table(spans: list[dict]) -> dict:
    """Per-layer self time and counts from settled spans: a dict of
    metric name -> value (means per call or per request, 0 where the
    layer did not run)."""
    kids = _children(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    roots = [s for s in spans if s["parent"] is None
             and s["name"] == "server.request"]

    def self_ms(s):
        return 1e3 * self_time(s, kids.get(s["id"], []))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def busy_ms(s):
        return 1e3 * (s["busy"] if "busy" in s else s["end"] - s["start"])

    def descendants(s):
        out, todo = [], list(kids.get(s["id"], []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(kids.get(c["id"], []))
        return out

    out = {}
    out["mql.parse_ms"] = mean(self_ms(s) for s in by_name["mql.parse"])
    tr = by_name["engine.translate"]
    out["engine.translate_ms"] = mean(self_ms(s) for s in tr)
    out["engine.translate_jobs"] = mean(len(s["jobs"]) for s in tr)
    out["engine.py4j_calls"] = mean(s["py4j"] for s in tr)
    out["catalyst.plan_ms"] = mean(self_ms(s)
                                   for s in by_name["catalyst.plan"])

    # execution per request: time inside Spark actions and every job
    # the request ran
    reads = [r for r in roots if not any(
        d["name"].startswith("dml.") for d in descendants(r))]
    out["spark.exec_ms"] = mean(
        sum(busy_ms(d) for d in descendants(r) if d["name"] == "spark.exec")
        for r in reads)
    out["spark.jobs"] = mean(len(r["jobs"]) for r in reads)
    out["spark.stages"] = mean(r["stages"] for r in reads)
    out["spark.tasks"] = mean(r["tasks"] for r in reads)

    cl = by_name["client.query_iter"] + by_name["client.query"]
    out["client.deliver_ms"] = mean(self_ms(s) for s in cl)
    out["client.deliver_jobs"] = mean(len(s["jobs"]) for s in cl)
    rows = sum(s.get("rows", 0) for s in by_name["client.query_iter"])
    jobs = sum(len(s["jobs"]) for s in by_name["client.query_iter"])
    out["client.rows_per_job"] = rows / jobs if jobs else 0.0

    out["server.self_ms"] = mean(self_ms(r) for r in roots)
    out["server.bytes_out"] = mean(r.get("bytes_out", 0) for r in roots)

    writes = [r for r in roots if r not in reads]
    out["dml.write_ms"] = mean(
        sum(self_ms(d) for d in descendants(r)
            if d["name"].startswith("dml.")) for r in writes)
    out["dml.jobs"] = mean(
        len({j for d in descendants(r) if d["name"].startswith("dml.")
             for j in d["jobs"]}) for r in writes)
    com = by_name["durable.commit"]
    out["durable.commit_ms"] = mean(self_ms(s) for s in com)
    out["durable.bytes_written"] = mean(s["bytes_written"] for s in com)
    out["durable.files_written"] = mean(s["files_written"] for s in com)

    for op in ("analyze", "dedup"):
        reqs = [r for r in roots if f"op={op}" in r.get("path", "")]
        out[f"llm.{op}.ms"] = mean(
            1e3 * (r["end"] - r["start"]) for r in reqs)
        out[f"llm.{op}.jobs"] = mean(len(r["jobs"]) for r in reqs)
        out[f"llm.{op}.tasks"] = mean(r["tasks"] for r in reqs)
    return out
