"""Runtime value types of the PromQL→DataFrame compiler.

PromQL's value taxonomy (scalar / instant vector / range vector / string) is
represented as DataFrames with fixed column layouts; Spark's lazy evaluation
plays the role of the reference's lazy series sets (db/seriesset.go:58-111).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame


@dataclass
class EvalParams:
    start_ms: int
    end_ms: int
    step_ms: int
    lookback_ms: int = 300_000  # reference default (api/http/query.go:160)
    # order-stable sequential folds wherever a native float sum would
    # reassociate (oracle comparison); exact functions run native either way
    deterministic: bool = False
    subquery_step_ms: int = 60_000
    # @ start()/end() anchors: upstream PREPROCESSES these against the
    # top-level query range (promql engine.go setOffsetForAtModifier path),
    # so a subquery's inner compiler must resolve them against the OUTER
    # query, not its own inner grid.  None = this IS the top-level query
    # (anchors are start_ms/end_ms themselves).
    at_start_ms: int | None = None
    at_end_ms: int | None = None

    @property
    def anchor_start_ms(self) -> int:
        return self.start_ms if self.at_start_ms is None else self.at_start_ms

    @property
    def anchor_end_ms(self) -> int:
        return self.end_ms if self.at_end_ms is None else self.at_end_ms


@dataclass
class InstantVector:
    """df: (t long, sig string, labels map<string,string>,
            sample_ts long nullable, value double)"""

    df: DataFrame


class RangeVector:
    """df: (t long, sig string, labels map<string,string>, ts long, value double)
    — all samples in (t - range, t] per step t.

    ``prev``: ``df`` with two extra columns per sample — ``__pv`` /
    ``__pts``, the value/ts of the series' PREVIOUS sample (lag over
    (sig, ts), computed BEFORE the step grid explode so the samples are
    shuffled once, un-replicated); histogram-carrying vectors add the
    predecessor histogram ``__ph`` and the successor ts ``__nts``.  With
    the predecessor attached, the window math of the rate family,
    irate/idelta and resets/changes (counter resets, first/last samples,
    transitions) is plain native aggregation instead of a collect_list
    fold.  Every range vector carries it: matrix selectors and subqueries,
    plain and @-anchored, in both evaluation modes.

    ``df`` and ``prev`` are zero-arg thunks: each consumer uses exactly one
    of the two variants, and building the unused one is pure driver
    latency (every classic-mode DataFrame op eagerly re-analyzes the whole
    accumulated plan on the JVM).  The thunk is forced and cached on first
    attribute access; ``columns`` lets hist-dispatch checks run without
    forcing anything."""

    def __init__(self, df: Callable[[], DataFrame], range_ms: int,
                 prev: Callable[[], DataFrame], columns: list[str]):
        self._df = df
        self.range_ms = range_ms
        self._prev = prev
        self.columns = columns

    @property
    def df(self) -> DataFrame:
        if callable(self._df):
            self._df = self._df()
        return self._df

    @property
    def prev(self) -> DataFrame:
        if callable(self._prev):
            self._prev = self._prev()
        return self._prev


@dataclass
class ScalarV:
    """Time-dependent scalar: df (t long, value double); literal scalars are
    kept as plain Python floats until they must materialize."""

    df: DataFrame


@dataclass
class StringV:
    value: str
