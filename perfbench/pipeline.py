"""The dedup/similarity batch workload.

One operation is one pass of the pipeline over a seeded documents /
embeddings corpus: LSH candidate pairs plus connected components
(``dedup_clusters``), exact n-gram Jaccard (``dedup_jaccard``), embedding
near-duplicate pairs (``sim_near_dup``) and semantic dedup
(``sim_semantic_dedup``).  Each job is the registry entry of that name and
writes its result as parquet, the pipeline's real sink.  Every output is
hash-compared with the registry's DuckDB oracle SQL over the same corpus.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os

#: (span name, registry entry, the output's pair-id columns or None)
JOBS = (
    ("operators.dedup.lsh", "dedup_clusters", None),
    ("operators.dedup.jaccard", "dedup_jaccard", ("doc_a", "doc_b")),
    ("operators.similarity.near_dup", "sim_near_dup", ("id_a", "id_b")),
    ("operators.similarity.semantic_dedup", "sim_semantic_dedup", None),
)


def rows_hash(cols: list[str], rows) -> str:
    """Order-free digest: columns sorted by name, then rows sorted, as the
    registry's differential check compares them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple("NaN" if isinstance(r[i], float) and math.isnan(
        r[i]) else r[i] for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t))
    return hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()


def oracle_hashes(corpus_dir: str) -> dict[str, str]:
    import duckdb

    from thanos_parquet_gateway_spark.plans import entry_queries as EQ
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(corpus_dir, t + '.parquet')}'")
        out = {}
        for _, name, _ in JOBS:
            res = con.execute(EQ.ORACLES[name])
            out[name] = rows_hash([d[0] for d in res.description],
                                  res.fetchall())
        return out
    finally:
        con.close()


def output_hash(path: str) -> str:
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    data = t.to_pydict()
    return rows_hash(t.column_names,
                     list(zip(*(data[c] for c in t.column_names))))


class DedupPipeline:
    def __init__(self, corpus_dir: str, out_dir: str):
        self.corpus_dir, self.out_dir = corpus_dir, out_dir
        self.expected: dict[str, str] = {}

    def run_pass(self, spark, tracer=None) -> dict:
        """Run every job once, each writing its output; returns the jobs'
        DataFrames by registry name."""
        from thanos_parquet_gateway_spark.plans import entry_queries as EQ
        frames = {}
        for span, name, _ in JOBS:
            with tracer.span(span) if tracer else contextlib.nullcontext():
                df = EQ.QUERIES[name](spark, self.corpus_dir)
                df.write.mode("overwrite").parquet(
                    os.path.join(self.out_dir, name))
            frames[name] = df
        return frames

    def verify(self) -> bool:
        """Every written output equals its oracle."""
        return all(output_hash(os.path.join(self.out_dir, name))
                   == self.expected[name] for _, name, _ in JOBS)


def pair_counts(frames: dict) -> tuple[int, int]:
    """(candidate pairs, result pairs) of the pair-producing jobs, read
    from their executed plans: candidates are the distinct pairs the
    final pair aggregate produced before exact scoring, results the rows
    the job returned.  Runs one collect per job."""
    cand = res = 0
    for _, name, ids in JOBS:
        if ids is None:
            continue
        df = frames[name]
        rows = df.collect()
        res += len(rows)
        nodes: list = []
        _walk(df._jdf.queryExecution().executedPlan(), nodes)
        best = None
        for node in nodes:
            cls = node.getClass().getSimpleName()
            if "Aggregate" not in cls:
                continue
            names = {a.name() for a in _seq(node.output())}
            if not set(ids) <= names:
                continue
            m = node.metrics()
            if m.contains("numOutputRows"):
                v = int(m.apply("numOutputRows").value())
                best = v if best is None else min(best, v)
        cand += best or 0
    return cand, res


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _walk(node, out: list) -> None:
    """Every physical-plan node, through AQE and query-stage wrappers."""
    cls = node.getClass().getSimpleName()
    if cls.startswith("AdaptiveSparkPlan"):
        _walk(node.executedPlan(), out)
        return
    if "QueryStage" in cls:
        _walk(node.plan(), out)
        return
    if cls.startswith("ReusedExchange"):
        _walk(node.child(), out)
        return
    out.append(node)
    for child in _seq(node.children()):
        _walk(child, out)
