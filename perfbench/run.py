"""Serving-path benchmark for the gateway.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Builds its inputs from ``--seed``, sets up
the system (Spark session, corpus, conversion, server, warm-up), then

- ``--trace 0``: drives the workload as a closed loop for ``--seconds``
  seconds (whole cycles, at least the workload's minimum) and reports the
  end-to-end metrics;
- ``--trace 1``: runs a fixed list of operations untraced, a same-shaped
  list with every layer wrapped, and an untraced list again, and reports
  the per-layer metrics plus the tracing overhead.

Every operation's output is checked; a wrong answer counts as failed.  The
last line of standard output is the result object; the line before it is
a report with the host context and the figures that are not metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dashboard_http", "querier_grpc", "dedup_pipeline")
# pipeline corpus: a pass of the four jobs takes a few seconds on 4 cores
PIPELINE_DOCS = 300
PIPELINE_VECS = 150
# passes measured at least: the JIT is still warming after the warm-up
# pass, and a single pass is a sample of one
PIPELINE_PASSES = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of this process plus the JVM and its descendants."""
    def hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    pids = {os.getpid(), jvm_pid}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    todo = [jvm_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in pids:
                pids.add(c)
                todo.append(c)
    return sum(hwm(p) for p in pids) / 1024.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.spark = None
        self.gateway = None
        self.wl = None
        self.setup_s = 0.0
        #: set-up layer timings and conversion figures
        self.layers: dict[str, float] = {}
        self.cpu_start = cpu_times()
        self.host = {"nproc": nproc(), "spark_graft_cpus": nproc(),
                     "loadavg_start": list(os.getloadavg()),
                     "python": sys.version.split()[0]}

    def _timed(self, name: str, fn):
        t = time.perf_counter()
        out = fn()
        self.layers[name] = time.perf_counter() - t
        return out

    # ----------------------------------------------------------- setup
    def setup(self) -> None:
        """From process start until the server is warm."""
        from thanos_parquet_gateway_spark import get_spark
        # the JVM's temporary files stay inside the work directory
        java_opts = f'-XX:-UsePerfData "-Djava.io.tmpdir={self.tmp}"'
        self.spark = self._timed("session.start_s", lambda: get_spark(
            "perfbench", {"spark.ui.showConsoleProgress": "false",
                          "spark.driver.extraJavaOptions": java_opts}))
        if self.args.workload == "dedup_pipeline":
            self._setup_pipeline()
        else:
            self._setup_serving()
        self.setup_s = time.perf_counter() - PROCESS_START
        if self.args.workload == "dedup_pipeline":
            # the oracle is the benchmark's own work, not set-up
            from pipeline import oracle_hashes
            self.pipe.expected = oracle_hashes(self.pipe.corpus_dir)

    def _setup_serving(self) -> None:
        from corpus import SamplesCorpus
        from serving import WORKLOADS as SERVING
        from serving import Gateway

        from thanos_parquet_gateway_spark.convert import convert_samples

        raw_dir = os.path.join(self.work, "raw")
        table = os.path.join(self.work, "table")
        self.corpus = SamplesCorpus(self.args.seed)
        raw_bytes = self.corpus.write_raw(os.path.join(raw_dir, "raw.parquet"))
        self._timed("convert.wall_s", lambda: convert_samples(
            self.spark.read.parquet(raw_dir), table))
        data_files = [os.path.join(d, f) for d, _, fs in os.walk(table)
                      for f in fs if f.endswith(".parquet") and "date=" in d]
        self.layers["convert.samples_per_s"] = \
            self.corpus.n_samples / self.layers["convert.wall_s"]
        self.layers["convert.bytes_out_per_byte_in"] = \
            sum(os.path.getsize(f) for f in data_files) / raw_bytes
        self.layers["convert.files_written"] = len(data_files)
        self.gateway = self._timed("gateway.start_s", lambda: Gateway(table))
        self.wl = SERVING[self.args.workload](self.corpus, self.args.seed)
        self._timed("warmup_s", self._warm_up)

    def _warm_up(self) -> None:
        from serving import Client
        cl = Client(self.gateway, self.wl.kind)
        try:
            for k in range(self.wl.cycle_len()):
                cl.run(self.wl.warm_stream(k))
        finally:
            cl.close()

    def _setup_pipeline(self) -> None:
        from corpus import write_pipeline_corpus
        from pipeline import DedupPipeline

        corpus_dir = os.path.join(self.work, "docs")
        write_pipeline_corpus(corpus_dir, self.args.seed, PIPELINE_DOCS,
                              PIPELINE_VECS)
        self.pipe = DedupPipeline(corpus_dir, os.path.join(self.work, "out"))
        self._timed("warmup_s", lambda: self.pipe.run_pass(self.spark))

    # --------------------------------------------------------- measure
    def closed_loop(self, seconds: float) -> tuple[list, float]:
        """Every client sends its next operation as soon as the previous
        one completes, in whole cycles of its sequence, until ``seconds``
        have passed and it has run at least the workload's minimum number
        of cycles.  The minimum fixes the work of a slow run, which
        otherwise does fewer cycles and so measures a colder JVM.  Returns
        per client a list of (op name, Outcome, end time), and the start
        time."""
        from serving import Client, Outcome
        n = self.wl.clients if self.wl else 1
        cycle = self.wl.cycle_len() if self.wl else 1
        least = cycle * (self.wl.min_cycles if self.wl else PIPELINE_PASSES)
        results: list[list] = [[] for _ in range(n)]
        go = threading.Barrier(n + 1)
        clock: dict = {}

        def serve_client(i: int) -> None:
            cl = Client(self.gateway, self.wl.kind) if self.wl else None
            try:
                go.wait()
                k = 0
                while k % cycle or k < least \
                        or time.perf_counter() < clock["deadline"]:
                    name, out = self._one(cl, i, k)
                    results[i].append((name, out, time.perf_counter()))
                    k += 1
            except Exception:  # noqa: BLE001 — counted as a failed op
                traceback.print_exc(file=sys.stderr)
                results[i].append(("error", Outcome(0.0, False, 0),
                                   time.perf_counter()))
            finally:
                if cl is not None:
                    cl.close()

        threads = [threading.Thread(target=serve_client, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        clock["start"] = time.perf_counter()
        clock["deadline"] = clock["start"] + seconds
        go.wait()
        for t in threads:
            t.join()
        return results, clock["start"]

    def _one(self, cl, client: int, k: int, want_stats: bool = False,
             tracer=None):
        from serving import Outcome
        if self.args.workload == "dedup_pipeline":
            t0 = time.perf_counter()
            frames = self.pipe.run_pass(self.spark, tracer)
            dt = time.perf_counter() - t0
            self.frames = frames
            return "pipeline_pass", Outcome(dt, self.pipe.verify(), 0)
        op = self.wl.stream(client, k)
        return op.name, cl.run(op, want_stats)

    def fixed_list(self, offset: int, tracer=None) -> tuple[list, float]:
        """One client at a time, sequentially, a fixed number of
        operations: the counters of a traced pass then repeat exactly."""
        from serving import Client
        outs = []
        t0 = time.perf_counter()
        if self.args.workload == "dedup_pipeline":
            if tracer is None:
                outs.append(self._one(None, 0, 0)[1])
            else:
                with tracer.request():
                    outs.append(self._one(None, 0, 0, tracer=tracer)[1])
            return outs, time.perf_counter() - t0
        for c in range(self.wl.clients):
            cl = Client(self.gateway, self.wl.kind)
            try:
                for k in range(offset, offset + self.wl.cycle_len()):
                    outs.append(self._one(cl, c, k, want_stats=True)[1])
            finally:
                cl.close()
        return outs, time.perf_counter() - t0

    # ------------------------------------------------------------ runs
    def run_e2e(self) -> dict:
        per_client, start = self.closed_loop(self.args.seconds)
        ops = [r for rs in per_client for r in rs]
        lat = sorted(o.latency_s for _, o, _ in ops)
        failed = sum(not o.ok for _, o, _ in ops)
        # each closed-loop client's own rate, summed: a client that ends
        # its last cycle early does not idle in the denominator
        rate = sum(len(rs) / (rs[-1][2] - start) for rs in per_client if rs)
        report = {"ops": len(ops), "error_ratio": failed / len(ops),
                  "elapsed_s": max(t for _, _, t in ops) - start,
                  "peak_rss_mb": peak_rss_mb(self._jvm_pid()),
                  "per_type": {}}
        if len(lat) >= 100:
            report["latency_p90_ms"] = \
                lat[math.ceil(0.9 * len(lat)) - 1] * 1000
        for name in sorted({n for n, _, _ in ops}):
            ls = [o.latency_s for n, o, _ in ops if n == name]
            report["per_type"][name] = {
                "n": len(ls), "p50_ms": statistics.median(ls) * 1000}
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "throughput_ops_per_s": (rate, "1/s"),
            "latency_p50_ms": (statistics.median(lat) * 1000, "ms"),
        }
        return self._result(metrics, len(ops), failed, report)

    def run_traced(self) -> dict:
        from pipeline import pair_counts
        from tracing import Tracer

        # untraced, traced, untraced again: the JVM is still warming, so
        # the overhead compares the traced list with the mean of the two
        # untraced ones around it
        step = self.wl.cycle_len() if self.wl else 0
        tracer = Tracer()
        tracer.install_cache_probe()
        try:
            before, t_before = self.fixed_list(0)
            tracer.install(self.spark)
            tracer.counting_hits = True
            traced, t_traced = self.fixed_list(step, tracer)
        finally:
            tracer.uninstall()
        after, t_after = self.fixed_list(2 * step)
        t_plain = (t_before + t_after) / 2
        n = len(traced)
        outs = before + traced + after
        failed = sum(not o.ok for o in outs)
        s, tot, c = tracer.self_s, tracer.total_s, tracer.counts

        def per_op(x: float) -> float:
            return x / n

        lay = self.layers
        m = {
            "session.start_s": (lay["session.start_s"], "s"),
            "convert.wall_s": (lay.get("convert.wall_s", 0.0), "s"),
            "convert.samples_per_s": (lay.get("convert.samples_per_s", 0.0),
                                      "1/s"),
            "convert.bytes_out_per_byte_in": (
                lay.get("convert.bytes_out_per_byte_in", 0.0), "ratio"),
            "convert.files_written": (lay.get("convert.files_written", 0),
                                      "count"),
            "promql.parser.self_s": (per_op(s["promql.parser"]), "s"),
            "promql.engine.compile_s": (per_op(
                s["promql.engine.compile"] + s["promql.engine.query"]), "s"),
            "promql.engine.py4j_calls_per_op": (per_op(c["py4j_calls"]),
                                                "count"),
            "promql.engine.plan_cache_hit_ratio": (
                c["plan_cache_hits"] / c["plan_cache_lookups"]
                if c["plan_cache_lookups"] else 0.0, "ratio"),
            "spark.plan_s": (per_op(s["spark.plan"]), "s"),
            "spark.execute_transfer_s": (
                per_op(s["spark.execute_transfer"]), "s"),
            "spark.jobs_per_op": (per_op(c["spark_jobs"]), "count"),
            "spark.stages_per_op": (per_op(c["spark_stages"]), "count"),
            "spark.tasks_per_op": (per_op(c["spark_tasks"]), "count"),
            "sources.rows_scanned_per_op": (per_op(sum(
                (o.stats or {}).get("totalQueried", 0) for o in traced)),
                "count"),
            "sources.files_scanned_per_op": (per_op(sum(
                (o.stats or {}).get("filesScanned", 0) for o in traced)),
                "count"),
            "sources.bytes_scanned_per_op": (per_op(sum(
                (o.stats or {}).get("bytesScanned", 0) for o in traced)),
                "B"),
            "api.http.rows_per_op": (per_op(c["api_http_rows"]), "count"),
            "api.http.shape_s": (per_op(s["api.http.shape"]), "s"),
            "api.http.stats_s": (per_op(s["api.http.stats"]), "s"),
            "api.http.encode_s": (per_op(s["api.http.encode"]), "s"),
            "api.http.response_bytes_per_op": (per_op(
                sum(o.nbytes for o in traced)
                if self.wl and self.wl.kind == "http" else 0), "B"),
            "api.server.series_plan_s": (per_op(s["api.server.series_plan"]),
                                         "s"),
            "api.server.series_shape_s": (per_op(s["api.server.series"]),
                                          "s"),
            "api.grpc.encode_s": (per_op(s["api.grpc.encode"]), "s"),
            "api.grpc.messages_per_op": (per_op(c["grpc_messages"]),
                                         "count"),
            "api.grpc.response_bytes_per_op": (per_op(c["grpc_bytes"]), "B"),
            "operators.dedup.lsh_s": (per_op(tot["operators.dedup.lsh"]),
                                      "s"),
            "operators.dedup.jaccard_s": (
                per_op(tot["operators.dedup.jaccard"]), "s"),
            "operators.similarity.near_dup_s": (
                per_op(tot["operators.similarity.near_dup"]), "s"),
            "operators.similarity.semantic_dedup_s": (
                per_op(tot["operators.similarity.semantic_dedup"]), "s"),
            "trace.overhead_ratio": (t_traced / t_plain - 1.0, "ratio"),
        }
        cand = res = 0
        if self.args.workload == "dedup_pipeline":
            cand, res = pair_counts(self.frames)
        m["operators.candidate_pairs"] = (cand, "count")
        m["operators.result_pairs"] = (res, "count")
        m["operators.pair_yield"] = (res / cand if cand else 0.0, "ratio")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write_spans(os.path.join(
            out_dir, f"spans-{self.args.workload}-seed{self.args.seed}.jsonl"))
        report = {"ops": len(outs), "traced_ops": n,
                  "untraced_s": [t_before, t_after], "traced_s": t_traced,
                  "error_ratio": failed / len(outs)}
        return self._result(m, len(outs), failed, report)

    def _jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def _result(self, metrics: dict, attempted: int, failed: int,
                report: dict) -> dict:
        report["setup_layers"] = self.layers
        report["host"] = self.host
        report["host"]["loadavg_end"] = list(os.getloadavg())
        # time the hypervisor ran someone else on our CPUs during the run
        d = [b - a for a, b in zip(self.cpu_start, cpu_times())]
        report["host"]["cpu_steal_ratio"] = d[7] / max(sum(d[:8]), 1)
        report["workload"] = self.args.workload
        report["seed"] = self.args.seed
        print(json.dumps({"report": report}))
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def close(self) -> None:
        if self.gateway is not None:
            self.gateway.stop()
        if self.spark is not None:
            sc = self.spark.sparkContext
            gw, proc = sc._gateway, sc._gateway.proc
            self.spark.stop()
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — make sure it is gone
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import thanos_parquet_gateway_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the gateway package from {ROOT}: "
              f"{e}", file=sys.stderr)
        return 2

    bench = Bench(args)
    os.makedirs(bench.tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    os.environ["TMPDIR"] = bench.tmp
    tempfile.tempdir = None  # re-read TMPDIR
    bench.host["pyspark"] = pyspark.__version__
    try:
        bench.setup()
        bench.host["java"] = bench.spark._jvm.System.getProperty(
            "java.version")
        result = bench.run_traced() if args.trace else bench.run_e2e()
    finally:
        bench.close()
        print(f"perfbench: {args.workload} seed {args.seed} took "
              f"{time.perf_counter() - PROCESS_START:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
