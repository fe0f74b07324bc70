"""Seeded input corpora for the benchmark, plus the closed-form answers the
benchmark checks responses against.

Two corpora:

- ``SamplesCorpus``: a Prometheus-shaped samples table (counters with
  resets, gauges, classic ``_bucket{le}`` histograms) over several UTC
  days.  Its label dimensions follow the reference's realistic Select
  corpus (metric x instance x region x zone x service x env), scaled down
  so the set-up conversion takes seconds on a few cores.  The label sets
  are the same for every seed; the seed moves sample values, per-series
  scrape offsets, counter reset points and which label values a workload
  picks, so every seed costs the same work.
- ``write_pipeline_corpus``: a documents/embeddings pair with the schema of
  the registry's ``documents``/``embeddings`` tables and planted near
  duplicates, for the dedup and similarity jobs.
"""

from __future__ import annotations

import os

import numpy as np

DAY_MS = 86_400_000
T0_MS = 1_709_251_200_000          # 2024-03-01T00:00:00Z
DAYS = 3
SCRAPE_MS = 300_000                # 5 min; equals the served lookback
LOOKBACK_MS = 300_000              # cmd_serve's --lookback-ms default
T_END_MS = T0_MS + DAYS * DAY_MS

REGIONS = ("eu", "us")
ZONES = ("a", "b")
SERVICES = ("api", "db")
CODES = ("200", "500")
LES = ("0.05", "0.25", "1", "+Inf")

COUNTER = "http_requests_total"
GAUGE = "process_resident_memory_bytes"
HIST = "http_request_duration_seconds"


class SamplesCorpus:
    """Every series as (labels, ts array, value array), generated from a
    seed.  Each series is scraped every ``SCRAPE_MS`` with a per-series
    offset and no gaps, so any lookback window of ``LOOKBACK_MS`` holds
    exactly one sample once the series has started."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        self.series: list[tuple[dict, np.ndarray, np.ndarray]] = []
        n = DAYS * DAY_MS // SCRAPE_MS
        k = np.arange(n, dtype=np.int64)
        envs = ("prod", "staging")
        for region in REGIONS:
            for zone in ZONES:
                for si, service in enumerate(SERVICES):
                    target = {
                        "job": service, "region": region, "zone": zone,
                        "service": service,
                        "env": envs[int(rng.integers(2))] if si else "prod",
                        "instance": f"{service}-{region}-{zone}-0:9100"}

                    def ts_grid():
                        off = int(rng.integers(1, SCRAPE_MS // 1000)) * 1000
                        return T0_MS + off + k * SCRAPE_MS

                    for code in CODES:
                        ts = ts_grid()
                        inc = rng.poisson(40 if code == "200" else 2, n)
                        val = np.cumsum(inc).astype(np.float64)
                        for r in np.sort(rng.choice(np.arange(10, n - 10),
                                                    2, replace=False)):
                            # counter reset: the process restarted
                            val[r:] -= val[r - 1] + float(rng.integers(0, 3))
                            val[r:] = np.maximum(val[r:], 0.0)
                        self.series.append(
                            (dict(target, __name__=COUNTER, code=code), ts,
                             val))
                    ts = ts_grid()
                    walk = np.cumsum(rng.integers(-4096, 4097, n)) * 1024
                    val = (2 ** 28 + walk - walk.min()).astype(np.float64)
                    self.series.append((dict(target, __name__=GAUGE), ts,
                                        val))
                    ts = ts_grid()
                    # observations per scrape, placed into buckets; sums are
                    # multiples of 1/64 so every value is exact in float64
                    obs = rng.poisson(6, n)
                    split = np.stack([rng.binomial(obs, p) for p in
                                      (0.4, 0.4, 0.15)], axis=1)
                    split = np.minimum(np.cumsum(split, axis=1),
                                       obs[:, None])
                    cum_le = np.concatenate([split, obs[:, None]], axis=1)
                    buckets = np.cumsum(cum_le, axis=0).astype(np.float64)
                    ssum = np.cumsum(rng.integers(0, 64 * 3, n)) / 64.0
                    for j, le in enumerate(LES):
                        self.series.append(
                            (dict(target, __name__=f"{HIST}_bucket", le=le),
                             ts, buckets[:, j].copy()))
                    self.series.append((dict(target, __name__=f"{HIST}_sum"),
                                        ts, ssum))
                    self.series.append(
                        (dict(target, __name__=f"{HIST}_count"), ts,
                         buckets[:, -1].copy()))

    @property
    def n_samples(self) -> int:
        return sum(len(ts) for _, ts, _ in self.series)

    def write_raw(self, path: str) -> int:
        """Write the raw (unconverted) samples as one parquet file of
        (labels map, ts, value); returns its size in bytes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        label_lists = [sorted(lbl.items()) for lbl, _, _ in self.series]
        lengths = [len(ts) for _, ts, _ in self.series]
        idx = np.repeat(np.arange(len(self.series)), lengths)
        labels = pa.array(label_lists,
                          type=pa.map_(pa.string(), pa.string())).take(idx)
        table = pa.table({
            "labels": labels,
            "ts": np.concatenate([ts for _, ts, _ in self.series]),
            "value": np.concatenate([v for _, _, v in self.series])})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return os.path.getsize(path)

    # ----------------------------------------------------- closed forms
    def select(self, **matchers) -> list[tuple[dict, np.ndarray, np.ndarray]]:
        """Series whose labels equal every ``name=value`` matcher."""
        return [s for s in self.series
                if all(s[0].get(k) == v for k, v in matchers.items())]

    @staticmethod
    def value_at(ts: np.ndarray, vals: np.ndarray, t_ms: int):
        """PromQL instant-selector value at ``t_ms``: the latest sample in
        (t - lookback, t], or None."""
        i = int(np.searchsorted(ts, t_ms, side="right")) - 1
        if i < 0 or ts[i] <= t_ms - LOOKBACK_MS:
            return None
        return float(vals[i])

    def label_names(self) -> list[str]:
        return sorted({k for lbl, _, _ in self.series for k in lbl})


# --------------------------------------------------------------- pipeline
_VOCAB = ("spark batch stream table column row value key hash sort merge "
          "scan filter group join window query plan index page chunk "
          "block label series sample metric shard store cache fetch "
          "write read fast slow small big part line order data agg "
          "vector token merge split range bloom").split()
# the registry's oracles compare cosine >= 0.35; planted duplicates sit
# far above it and independent vectors far below, so LSH banding keeps
# recall 1 on every seed and no pair straddles the threshold
_DIM = 128
_NEAR_MIN_COS = 0.85
_FAR_MAX_COS = 0.25


def write_pipeline_corpus(out_dir: str, seed: int, n_docs: int,
                          n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (registry
    schemas) to ``out_dir``.  Every fifth row is a planted near duplicate
    of an earlier original row, so each seed plants the same number of
    duplicate clusters, all of them stars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def source(i: int) -> int | None:
        """The original row that row ``i`` duplicates, or None."""
        if i < 5 or i % 5 != 4:
            return None
        j = int(rng.integers(0, i))
        return j - (j % 5 == 4)

    texts: list[str] = []
    for i in range(n_docs):
        src = source(i)
        if src is not None:
            words = texts[src].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(len(words)))] = \
                    _VOCAB[int(rng.integers(len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in
                     rng.integers(0, len(_VOCAB), int(rng.integers(20, 60)))]
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([("en", "de", "zh")[i % 3] for i in range(n_docs)]),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    vecs = np.zeros((n_vecs, _DIM), dtype=np.float32)
    labels = np.zeros(n_vecs, dtype=np.int32)
    for i in range(n_vecs):
        src = source(i)
        while True:
            if src is not None:
                v = vecs[src] + rng.normal(0, 0.02, _DIM)
                labels[i] = labels[src]
            else:
                v = rng.normal(0, 1, _DIM)
                labels[i] = int(rng.integers(0, 8))
            v = (v / np.linalg.norm(v)).astype(np.float32)
            cos = vecs[:i] @ v
            if not ((cos > _FAR_MAX_COS) & (cos < _NEAR_MIN_COS)).any():
                break
        vecs[i] = v
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
