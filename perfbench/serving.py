"""Serving workloads: the gateway as shipped, driven over real sockets.

``Gateway`` starts the server through ``cli.main(["serve", ...])`` — the
same wiring as the ``serve`` command, over a corpus converted with
``convert_samples`` and served with its label-stats sidecar — and hands the
HTTP and gRPC ports to the clients.  Each workload is a list of per-client
operation streams; ``stream(k)`` is the k-th operation of one client, a
pure function of the seed, so every run replays the same sequence.
"""

from __future__ import annotations

import contextlib
import http.client
import io
import json
import threading
import time
from urllib.parse import urlencode

import numpy as np

from corpus import (
    CODES,
    COUNTER,
    DAY_MS,
    GAUGE,
    HIST,
    REGIONS,
    SERVICES,
    T_END_MS,
    ZONES,
    SamplesCorpus,
)

HOUR_MS = 3_600_000


class Gateway:
    """``serve --path TABLE --port 0 --grpc-port 0`` in a thread of this
    process.  The server objects are captured by subclassing the two
    server classes the command looks up at call time."""

    def __init__(self, table_dir: str):
        from thanos_parquet_gateway_spark import api, cli
        from thanos_parquet_gateway_spark.api import grpc_server

        got: dict = {}

        class _Http(api.PromHTTPServer):
            def __init__(self, *a, **kw):
                super().__init__(*a, **kw)
                got["http"] = self

        class _Grpc(grpc_server.ThanosGrpcServer):
            def start(self):
                got["grpc"] = self
                return super().start()

        saved = (api.PromHTTPServer, grpc_server.ThanosGrpcServer)
        api.PromHTTPServer, grpc_server.ThanosGrpcServer = _Http, _Grpc
        self.error: Exception | None = None

        def serve():
            try:
                cli.main(["serve", "--path", table_dir, "--port", "0",
                          "--grpc-port", "0"])
            except Exception as e:  # noqa: BLE001 — reported below
                self.error = e

        try:
            with contextlib.redirect_stdout(io.StringIO()):
                self.thread = threading.Thread(target=serve, daemon=True)
                self.thread.start()
                deadline = time.time() + 120
                while not self._ready(got):
                    if self.error or not self.thread.is_alive() \
                            or time.time() > deadline:
                        raise RuntimeError(f"gateway did not start: "
                                           f"{self.error!r}")
                    time.sleep(0.02)
        finally:
            api.PromHTTPServer, grpc_server.ThanosGrpcServer = saved
        self.http, self.grpc = got["http"], got["grpc"]
        self.http_port, self.grpc_port = self.http.port, self.grpc.port

    @staticmethod
    def _ready(got: dict) -> bool:
        if "http" not in got or "grpc" not in got:
            return False
        try:
            status, _ = http_get(got["http"].port, "/-/ready")
        except OSError:
            return False
        return status == 200

    def stop(self) -> None:
        self.http.server.shutdown()
        self.http.server.server_close()
        self.grpc.stop()
        self.thread.join(timeout=30)


def http_get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Op:
    """One request.  ``verify`` (optional) gets the decoded response and
    returns whether it equals the closed-form answer."""
    __slots__ = ("name", "kind", "target", "body", "verify")

    def __init__(self, name, kind, target, body=b"", verify=None):
        self.name, self.kind, self.target = name, kind, target
        self.body, self.verify = body, verify


class Outcome:
    __slots__ = ("latency_s", "ok", "nbytes", "stats")

    def __init__(self, latency_s, ok, nbytes, stats=None):
        self.latency_s, self.ok, self.nbytes = latency_s, ok, nbytes
        self.stats = stats


_SUCCESS = b'{"status": "success"'


class Client:
    """One closed-loop caller: an HTTP client (a connection per request,
    as the server speaks HTTP/1.0) or one gRPC connection."""

    def __init__(self, gw: Gateway, kind: str):
        self.gw = gw
        self.grpc = None
        if kind == "grpc":
            from thanos_parquet_gateway_spark.api.grpc_client import (
                ThanosGrpcClient,
            )
            self.grpc = ThanosGrpcClient("127.0.0.1", gw.grpc_port)

    def close(self) -> None:
        if self.grpc is not None:
            self.grpc.close()

    def run(self, op: Op, want_stats: bool = False) -> Outcome:
        if op.kind == "http":
            t0 = time.perf_counter()
            status, body = http_get(self.gw.http_port, op.target)
            dt = time.perf_counter() - t0
            ok = status == 200 and body.startswith(_SUCCESS)
            stats = None
            if ok and (op.verify is not None or want_stats):
                doc = json.loads(body)
                if op.verify is not None:
                    ok = bool(op.verify(doc["data"]))
                data = doc["data"]
                if isinstance(data, dict):
                    stats = data.get("stats", {}).get("samples")
            return Outcome(dt, ok, len(body), stats)
        from thanos_parquet_gateway_spark.api.grpc_client import GrpcError
        t0 = time.perf_counter()
        try:
            msgs = self.grpc.call(op.target, op.body)
        except GrpcError:
            return Outcome(time.perf_counter() - t0, False, 0)
        dt = time.perf_counter() - t0
        ok = True
        if op.verify is not None:
            ok = bool(op.verify(msgs))
        stats = None
        if want_stats and op.target.endswith("QueryRange"):
            from thanos_parquet_gateway_spark.api import grpc_pb as pb
            for m in msgs:
                d = pb.decode_query_response(m)
                if "stats" in d:
                    stats = {"totalQueried": d["stats"]["samples_total"]}
        return Outcome(dt, ok, sum(len(m) + 5 for m in msgs), stats)


# ------------------------------------------------------------ closed forms
def _steps(start_ms: int, end_ms: int, step_ms: int) -> range:
    return range(start_ms, end_ms + 1, step_ms)


def _matrix_equals(data: dict, expected: dict) -> bool:
    """``expected``: frozenset(labels) -> [(t_ms, value)]."""
    if data.get("resultType") != "matrix":
        return False
    got = {}
    for s in data["result"]:
        got[frozenset(s["metric"].items())] = [
            (int(round(t * 1000)), float(v)) for t, v in s.get("values", [])]
    return got == {k: v for k, v in expected.items() if v}


def raw_matrix(corpus: SamplesCorpus, matchers: dict, start_ms: int,
               end_ms: int, step_ms: int) -> dict:
    out = {}
    for lbl, ts, vals in corpus.select(**matchers):
        pts = []
        for t in _steps(start_ms, end_ms, step_ms):
            v = corpus.value_at(ts, vals, t)
            if v is not None:
                pts.append((t, v))
        out[frozenset(lbl.items())] = pts
    return out


def count_by_matrix(corpus: SamplesCorpus, matchers: dict, by: str | None,
                    start_ms: int, end_ms: int, step_ms: int) -> dict:
    groups: dict = {}
    for lbl, ts, vals in corpus.select(**matchers):
        key = frozenset({by: lbl[by]}.items()) if by else frozenset()
        for t in _steps(start_ms, end_ms, step_ms):
            if corpus.value_at(ts, vals, t) is not None:
                groups.setdefault(key, {}).setdefault(t, 0)
                groups[key][t] += 1
    return {k: sorted((t, float(c)) for t, c in v.items())
            for k, v in groups.items()}


def _sel(name: str, **matchers) -> str:
    inner = ",".join(f'{k}="{v}"' for k, v in matchers.items())
    return f"{name}{{{inner}}}"


def _range_url(q: str, start_ms: int, end_ms: int, step_ms: int) -> str:
    return "/api/v1/query_range?" + urlencode({
        "query": q, "start": start_ms // 1000, "end": end_ms // 1000,
        "step": step_ms // 1000})


# ---------------------------------------------------------------- workloads
class Workload:
    """Per-client operation streams.  Every client's stream is a cycle of
    an odd number of requests, so the median latency falls inside one
    request type's band instead of between two."""
    kind = "http"
    clients = 2
    #: cycles per client a measured run completes at least
    min_cycles = 1

    def __init__(self, corpus: SamplesCorpus, seed: int):
        self.corpus = corpus
        self.seed = seed
        self.rng = np.random.default_rng(seed + 7919)

    def stream(self, client: int, k: int) -> Op:
        raise NotImplementedError

    def warm_stream(self, k: int) -> Op:
        """Warm-up operations, sent once by one client."""
        return self.stream(0, k)

    def cycle_len(self) -> int:
        raise NotImplementedError


class DashboardHttp(Workload):
    """Two users refreshing one Grafana-style board: the template-variable
    calls plus three ``/query_range`` panels whose windows are aligned to
    the step.  The board's three plans fit the plan cache, so after
    warm-up every panel is a hit and execution, Row transfer and JSON
    encoding (the raw panel returns a large matrix) do the work.  The
    second user runs two requests behind the first."""
    min_cycles = 6

    def __init__(self, corpus, seed):
        super().__init__(corpus, seed)
        c = corpus
        end = T_END_MS
        start = end - DAY_MS
        region = str(self.rng.choice(REGIONS))
        window = {"start": start // 1000, "end": end // 1000}
        gauge = {"__name__": GAUGE, "region": region}
        self.cycle = [
            Op("labels", "http", "/api/v1/labels?" + urlencode(window),
               verify=lambda d: d == c.label_names()),
            Op("label_values", "http",
               "/api/v1/label/service/values?" + urlencode(window),
               verify=lambda d: d == sorted(SERVICES)),
            Op("panel_raw", "http",
               _range_url(_sel(GAUGE, region=region), start, end, 60_000),
               verify=lambda d, e=raw_matrix(c, gauge, start, end, 60_000):
               _matrix_equals(d, e)),
            Op("panel_rate", "http", _range_url(
                f"sum by (service, code) (rate("
                f"{_sel(COUNTER, region=region)}[15m]))", start, end,
                300_000)),
            Op("panel_count", "http", _range_url(
                f"count by (zone) ({_sel(GAUGE, region=region)})", start,
                end, 300_000),
               verify=lambda d, e=count_by_matrix(c, gauge, "zone", start,
                                                  end, 300_000):
               _matrix_equals(d, e)),
        ]

    def stream(self, client, k):
        return self.cycle[(k + 2 * client) % len(self.cycle)]

    def cycle_len(self):
        return len(self.cycle)


class QuerierGrpc(Workload):
    """Two Thanos Querier connections over gRPC.  Each cycle sends a
    LabelNames and a LabelValues call, three Series exports (raw samples
    as XOR chunks, no PromQL) and two one-off PromQL requests (a Query and
    a QueryRange) whose text, matchers and unaligned "now" are never
    repeated, so they always miss the plan cache and parse, compile,
    Catalyst planning and py4j round trips do their work.  The label calls
    are the fastest requests and the one-off queries the slowest, so the
    median lands in the middle of the Series exports.  Warm-up draws "now"
    from odd seconds and the measured stream from even seconds, so their
    keys are disjoint."""
    kind = "grpc"
    min_cycles = 2

    def __init__(self, corpus, seed):
        super().__init__(corpus, seed)
        from thanos_parquet_gateway_spark.api import grpc_pb as pb
        self.pb = pb
        end = T_END_MS
        w2, w6, w12 = (end - h * HOUR_MS for h in (2, 6, 12))
        names = self.corpus.label_names()
        self.labels = [
            Op("label_names", "grpc", "/thanos.Store/LabelNames",
               pb.encode_label_names_request(w2, end),
               verify=lambda msgs: _label_strings(msgs) == names),
            Op("label_values", "grpc", "/thanos.Store/LabelValues",
               pb.encode_label_values_request("zone", w2, end),
               verify=lambda msgs: _label_strings(msgs) == sorted(ZONES)),
        ]
        self.series = []
        for region, service in zip(self.rng.permutation(REGIONS),
                                   self.rng.permutation(SERVICES)):
            region, service = str(region), str(service)
            self.series.append([
                self._series("series_gauge", {"__name__": GAUGE,
                                              "region": region}, w6, end),
                self._series("series_counter", {"__name__": COUNTER,
                                                "service": service},
                             w12, end),
                self._series("series_hist", {"__name__": HIST + "_bucket",
                                             "region": region}, w6, end),
            ])

    def _series(self, name, matchers, lo, hi) -> Op:
        req = self.pb.encode_series_request(
            lo, hi, [("=", k, v) for k, v in matchers.items()])
        exp = {}
        for lbl, ts, v in self.corpus.select(**matchers):
            keep = (ts >= lo) & (ts <= hi)
            exp[frozenset(lbl.items())] = list(
                zip(ts[keep].tolist(), v[keep].tolist()))
        return Op(name, "grpc", "/thanos.Store/Series", req,
                  verify=lambda msgs: _series_equal(msgs, exp))

    def _oneoff(self, client: int, k: int, parity: int) -> Op:
        """Slot ``k % 7`` of the cycle fixes the query shape; the seed,
        client and ``k`` draw its parameters."""
        pb, c = self.pb, self.corpus
        rng = np.random.default_rng([self.seed, client, k, parity])
        # "now" in the last two days, a whole second of the requested
        # parity, off the minute grid
        now_s = (T_END_MS // 1000) - int(rng.integers(60, 2 * 86_400))
        if now_s % 2 != parity:
            now_s -= 1
        if now_s % 60 == 0:
            now_s -= 2
        now = now_s * 1000
        region = str(rng.choice(REGIONS))
        zone = str(rng.choice(ZONES))
        service = str(rng.choice(SERVICES))
        code = str(rng.choice(CODES))
        w = int(rng.integers(6, 90))
        if k % 7 == 2:
            return Op("query_rate", "grpc", "/thanos.Query/Query",
                      pb.encode_query_request(
                          f"sum by (zone) (rate("
                          f"{_sel(COUNTER, service=service, code=code)}"
                          f"[{w}m]))", now_s))
        start_s = now_s - 30 * 60
        m = {"__name__": GAUGE, "region": region, "zone": zone}
        return Op("query_range_count", "grpc", "/thanos.Query/QueryRange",
                  pb.encode_query_range_request(
                      f"count({_sel(GAUGE, region=region, zone=zone)})",
                      start_s, now_s, 60),
                  verify=lambda msgs, e=count_by_matrix(
                      c, m, None, start_s * 1000, now, 60_000):
                  _query_matrix_equal(msgs, e))

    def _op(self, client: int, k: int, parity: int) -> Op:
        slot = k % 7
        if slot in (0, 6):
            return self.labels[slot // 6]
        if slot % 2:
            return self.series[client][slot // 2]
        return self._oneoff(client, k, parity)

    def stream(self, client, k):
        return self._op(client, k, 0)

    def warm_stream(self, k):
        return self._op(0, k, 1)

    def cycle_len(self):
        return 7


def _series_equal(msgs: list[bytes], expected: dict) -> bool:
    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    from thanos_parquet_gateway_spark.api.chunkenc import decode_xor_chunk
    got = {}
    for m in msgs:
        d = pb.decode_series_response(m)
        if "series" not in d:
            return False
        s = d["series"]
        samples = []
        for ch in s["chunks"]:
            if ch["type"] != pb.CHUNK_XOR:
                return False
            samples += [(int(t), float(v))
                        for t, v in decode_xor_chunk(ch["data"])]
        got[frozenset(s["labels"].items())] = samples
    return got == expected


def _label_strings(msgs: list[bytes]) -> list[str]:
    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    return pb.decode_label_strings_response(msgs[0])["values"]


def _query_matrix_equal(msgs: list[bytes], expected: dict) -> bool:
    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    got = {}
    for m in msgs:
        d = pb.decode_query_response(m)
        if "timeseries" in d:
            ts = d["timeseries"]
            got[frozenset(ts["labels"].items())] = [
                (int(t), float(v)) for t, v in ts["samples"]]
    return got == {k: v for k, v in expected.items() if v}


WORKLOADS = {
    "dashboard_http": DashboardHttp,
    "querier_grpc": QuerierGrpc,
}
