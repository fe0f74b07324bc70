from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from thanos_parquet_gateway_spark import get_spark
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def spark_jobs(spark, fn, *a, **kw):
    """Run ``fn(*a, **kw)`` on this thread under a fresh Spark job group;
    return (its result, the number of Spark jobs it ran)."""
    import uuid
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe", False)
    try:
        out = fn(*a, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def make_samples(spark, rows):
    """rows: list of (labels: dict, ts_ms: int, value) → samples df.
    value=None is the staleness marker (schema.py); a dict
    {"hist": (count, sum, [(le, c), ...][, schema])} is a native-histogram
    sample (value NaN + hist struct, histograms.py; schema defaults to
    None ≡ custom/NHCB bounds, exponential literals pass their schema) —
    the hist column is only added when at least one row carries one."""
    from pyspark.sql import types as T
    has_hist = any(isinstance(v, dict) for _, _, v in rows)
    fields = [
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
    if not has_hist:
        return spark.createDataFrame(
            [(labels, ts, None if v is None else float(v))
             for labels, ts, v in rows],
            T.StructType(fields))
    from thanos_parquet_gateway_spark.promql.histograms import HIST_TYPE
    data = []
    for labels, ts, v in rows:
        if isinstance(v, dict):
            c, s, bks, *rest = v["hist"]
            sch = rest[0] if rest else None
            data.append((labels, ts, float("nan"),
                         (float(c), float(s),
                          [(float(le), float(bc)) for le, bc in bks],
                          None if sch is None else int(sch))))
        else:
            data.append((labels, ts, None if v is None else float(v), None))
    return spark.createDataFrame(
        data, T.StructType(fields + [T.StructField("hist", HIST_TYPE, True)]))
