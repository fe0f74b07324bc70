"""Layer tracing from outside the package.

A ``Tracer`` wraps the public entry points of each layer (module functions
and methods of the gateway package, py4j's client send, PySpark's
``DataFrame.collect``) for the duration of a traced phase and restores
them afterwards.  It records:

- spans: (request id, name, parent, start, end, thread) kept in memory and
  written out when the benchmark ends; a layer's self time is its span
  minus the child spans inside it;
- counters at the same boundaries: py4j round trips, Spark jobs, stages
  and tasks (per-request job group + ``statusTracker``), rows the query
  handlers collect, plan-cache hits, gRPC messages and bytes.

Work is attributed to a request through a thread-local context opened by
the outermost wrapped server entry point on the serving thread, so
concurrent requests never mix their counters.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import types
from collections import defaultdict


class _Ctx:
    __slots__ = ("rid", "stack", "paused", "py4j")

    def __init__(self, rid: int):
        self.rid = rid
        self.stack: list[list] = []   # [name, start, child_time]
        self.paused = 0
        self.py4j = 0


class Tracer:
    def __init__(self):
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.spans: list[tuple] = []
        self._undo: list = []
        self._sc = None
        self._plans: dict = {}

    # ------------------------------------------------------------ spans
    def _ctx(self) -> _Ctx | None:
        return getattr(self._tl, "ctx", None)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def span(self, name: str):
        return _Span(self, name)

    def _enter(self, name: str) -> None:
        ctx = self._ctx()
        if ctx is None:
            ctx = self._tl.ctx = _Ctx(0)
        ctx.stack.append([name, time.perf_counter(), 0.0])

    def _exit(self, name: str) -> None:
        ctx = self._ctx()
        end = time.perf_counter()
        _, start, child = ctx.stack.pop()
        dur = end - start
        parent = ctx.stack[-1][0] if ctx.stack else None
        if ctx.stack:
            ctx.stack[-1][2] += dur
        with self._lock:
            self.self_s[name] += dur - child
            self.total_s[name] += dur
            self.spans.append((ctx.rid, name, parent, start, end,
                               threading.get_ident()))

    def paused(self):
        return _Paused(self)

    # --------------------------------------------------------- requests
    @contextlib.contextmanager
    def request(self):
        """A request context on this thread with its own Spark job group;
        nested requests fold into the outermost one."""
        outer = self._ctx()
        if outer is not None and outer.rid:
            yield outer
            return
        ctx = self._tl.ctx = _Ctx(next(self._ids))
        group = f"perfbench-{ctx.rid}"
        with self.paused():
            self._sc.setJobGroup(group, "perfbench request", False)
        try:
            yield ctx
        finally:
            with self.paused():
                self._count_jobs(group)
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.count("py4j_calls", ctx.py4j)
            self._tl.ctx = outer

    def _request(self, fn):
        """Wrap a server entry point in ``request``."""
        tracer = self

        def wrapped(*a, **kw):
            with tracer.request():
                return fn(*a, **kw)

        return wrapped

    def _count_jobs(self, group: str) -> None:
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
        self.count("spark_jobs", len(jobs))
        self.count("spark_stages", stages)
        self.count("spark_tasks", tasks)

    def _timed(self, name: str, fn):
        tracer = self

        def wrapped(*a, **kw):
            tracer._enter(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer._exit(name)

        return wrapped

    def _patch(self, owner, attr: str, new) -> None:
        old = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        self._undo.append((owner, attr, old))
        if isinstance(owner, dict):
            owner[attr] = new
        else:
            setattr(owner, attr, new)

    # ---------------------------------------------------------- install
    def install(self, spark) -> None:
        """Wrap every traced entry point; ``uninstall`` restores them."""
        import py4j.java_gateway as jg
        # the class local sessions hand out (pyspark.sql.DataFrame is
        # its abstract base)
        from pyspark.sql.classic.dataframe import DataFrame

        from thanos_parquet_gateway_spark.api import grpc_server, http, server
        from thanos_parquet_gateway_spark.promql import engine, parser

        self._sc = spark.sparkContext
        tracer = self

        send = jg.GatewayClient.send_command

        def counted_send(client, *a, **kw):
            ctx = tracer._ctx()
            if ctx is not None and not ctx.paused:
                ctx.py4j += 1
            return send(client, *a, **kw)

        self._patch(jg.GatewayClient, "send_command", counted_send)

        # PromQL layers
        self._patch(parser, "parse", self._timed("promql.parser",
                                                 parser.parse))
        eng = engine.PromQLEngine
        self._patch(eng, "_compile", self._timed("promql.engine.compile",
                                                 eng._compile))
        for kind in ("query_range", "query_instant"):
            self._patch(eng, kind, self._timed("promql.engine.query",
                                               getattr(eng, kind)))

        # Spark: planning forced apart from execution + result transfer
        collect = DataFrame.collect

        def traced_collect(df):
            tracer._enter("spark.execute_transfer")
            try:
                tracer._enter("spark.plan")
                try:
                    df._jdf.queryExecution().executedPlan()
                finally:
                    tracer._exit("spark.plan")
                rows = collect(df)
            finally:
                tracer._exit("spark.execute_transfer")
            ctx = tracer._ctx()
            if any(f[0] == "api.http.shape" for f in ctx.stack):
                tracer.count("api_http_rows", len(rows))
            return rows

        self._patch(DataFrame, "collect", traced_collect)

        # API: QueryAPI handlers (shaping), scan stats, JSON encoding
        api = http.QueryAPI
        for m in ("query", "query_range", "labels", "label_values"):
            self._patch(api, m, self._request(
                self._timed("api.http.shape", getattr(api, m))))
        self._patch(http, "scan_stats", self._timed("api.http.stats",
                                                    http.scan_stats))
        # the module uses json only for dumps
        self._patch(http, "json", types.SimpleNamespace(
            dumps=self._timed("api.http.encode", http.json.dumps)))

        # query server + gRPC transport
        qs = server.QueryServer
        self._patch(qs, "series_df", self._timed("api.server.series_plan",
                                                 qs.series_df))
        self._patch(qs, "series", self._request(
            self._timed("api.server.series", qs.series)))
        for path, handler in list(grpc_server._ROUTES.items()):
            self._patch(grpc_server._ROUTES, path,
                        self._grpc_handler(handler))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)

    def install_cache_probe(self) -> None:
        """Remember the DataFrame each engine query returns.  A plan-cache
        hit is a query that returns the very DataFrame object returned
        for the same arguments before; lookups and hits are counted while
        ``counting_hits`` is set.  Installed before ``install`` so the
        operations ahead of the traced ones count as "before"."""
        from thanos_parquet_gateway_spark.promql import engine
        tracer = self
        self.counting_hits = False
        for kind in ("query_range", "query_instant"):
            fn = getattr(engine.PromQLEngine, kind)

            def wrapped(eng, *a, _fn=fn, _kind=kind):
                res = _fn(eng, *a)
                key = (id(eng), _kind, a)
                with tracer._lock:
                    prev = tracer._plans.get(key)
                    tracer._plans[key] = (eng, res.df)
                if tracer.counting_hits:
                    tracer.count("plan_cache_lookups")
                    if prev is not None and prev[1] is res.df:
                        tracer.count("plan_cache_hits")
                return res

            self._patch(engine.PromQLEngine, kind, wrapped)

    def _grpc_handler(self, handler):
        tracer = self
        timed = self._timed("api.grpc.encode", handler)

        def wrapped(srv, body):
            msgs = timed(srv, body)
            tracer.count("grpc_messages", len(msgs))
            # 5-byte gRPC length prefix per message
            tracer.count("grpc_bytes", sum(len(m) + 5 for m in msgs))
            return msgs

        return self._request(wrapped)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for rid, name, parent, start, end, tid in self.spans:
                f.write(json.dumps({"request": rid, "name": name,
                                    "parent": parent, "start": start,
                                    "end": end, "thread": tid}) + "\n")


class _Span:
    __slots__ = ("t", "name")

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.t._enter(self.name)
        return self

    def __exit__(self, *exc):
        self.t._exit(self.name)


class _Paused:
    """Stop counting py4j calls made by the tracer itself."""
    __slots__ = ("t",)

    def __init__(self, tracer: Tracer):
        self.t = tracer

    def __enter__(self):
        ctx = self.t._ctx()
        if ctx is not None:
            ctx.paused += 1

    def __exit__(self, *exc):
        ctx = self.t._ctx()
        if ctx is not None:
            ctx.paused -= 1
