"""KMV sketch (operators/sketch.py) + cascade rollup (operators/rollup.py).

Sketch claims: deterministic under repartitioning, mergeable (disjoint
sub-corpora sketches merge to the union's sketch), unsaturated == exact,
saturated estimate within KMV error bounds and equal to the pure-python
reference.  Rollup claims: cascade == direct per level, divisibility
guard, single raw scan, partitioning-free rounding of exact ties."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from featherstore_spark.operators.rollup import EXACT_SUM, cascade_rollup
from featherstore_spark.operators.sketch import (
    kmv_distinct,
    kmv_estimate_py,
    kmv_merge,
    kmv_sketch,
)


def _h(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


@pytest.fixture()
def users(spark):
    # 3 event types; type 'a' has 500 distinct users (saturates k=64),
    # type 'b' has 10 (exact path), type 'c' has duplicates only
    rows = [("a", i) for i in range(500)]
    rows += [("b", i) for i in range(10)] * 3
    rows += [("c", 7)] * 20
    return spark.createDataFrame(rows, "event_type: string, user_id: long")


def test_kmv_exact_when_unsaturated(spark, users):
    out = {r["event_type"]: r for r in kmv_distinct(users, "event_type", "user_id", k=64).collect()}
    assert out["b"]["sketch_size"] == 10 and out["b"]["est_distinct"] == 10.0
    assert out["c"]["sketch_size"] == 1 and out["c"]["est_distinct"] == 1.0


def test_kmv_saturated_matches_python_reference_and_bounds(spark, users):
    out = {r["event_type"]: r for r in kmv_distinct(users, "event_type", "user_id", k=64).collect()}
    ref = kmv_estimate_py([_h(i) for i in range(500)], k=64)
    assert out["a"]["sketch_size"] == 64
    assert out["a"]["est_distinct"] == ref
    # KMV relative error ~1/sqrt(k-2) ≈ 0.127; allow 4 sigma
    assert abs(out["a"]["est_distinct"] - 500) / 500 < 0.51


def test_kmv_partitioning_independent(spark, users):
    a = sorted(map(tuple, kmv_distinct(users.repartition(13), "event_type", "user_id", k=64).collect()))
    b = sorted(map(tuple, kmv_distinct(users.coalesce(1), "event_type", "user_id", k=64).collect()))
    assert a == b


def test_kmv_merge_equals_union_sketch(spark, users):
    lo = users.where(F.col("user_id") < 200)
    hi = users.where(F.col("user_id") >= 200)
    merged = kmv_merge(
        kmv_sketch(lo, "event_type", "user_id", k=64).unionByName(
            kmv_sketch(hi, "event_type", "user_id", k=64)
        ),
        "event_type",
        k=64,
    )
    direct = kmv_sketch(users, "event_type", "user_id", k=64)
    m = {r["event_type"]: list(r["sketch"]) for r in merged.collect()}
    d = {r["event_type"]: list(r["sketch"]) for r in direct.collect()}
    assert m == d


def test_kmv_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2)], "event_type: string, user_id: long"
    )
    out = kmv_distinct(df, "event_type", "user_id", k=8).collect()[0]
    assert out["sketch_size"] == 2


def test_cascade_equals_direct_per_level(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = cascade_rollup(ev, keys=["event_type"], levels=("1 minute", "1 hour"))
    hour = out.where(F.col("resolution") == "1 hour")
    direct = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(EXACT_SUM)).alias("s"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .withColumn("sum_v", F.round("s", 4).cast("double"))
        .withColumn("avg_v", F.round(F.col("s") / F.col("n"), 6).cast("double"))
        .select("event_type", F.col("w.start").alias("bucket_start"), "n", "sum_v", "min_v", "max_v", "avg_v")
    )
    got = sorted(map(tuple, hour.drop("resolution").collect()))
    exp = sorted(map(tuple, direct.collect()))
    assert got == exp


def test_cascade_tie_rounds_the_same_under_any_partitioning(spark):
    """1114.23 / 32 = 34.8196875 sits exactly on a 7th-decimal tie.  A
    double sum lands an ulp either side of 1114.23 depending on summation
    order, so avg_v flipped with the partition count; the exact decimal
    sum rounds HALF_UP to 34.819688 under any partitioning, and the
    DuckDB oracle agrees."""
    from datetime import datetime, timedelta

    import duckdb

    from __spark_entry__ import _build_cascade_rollup_oracle

    t0 = datetime(2026, 1, 1)
    rows = [("click", t0 + timedelta(seconds=i), 34.81) for i in range(31)]
    rows.append(("click", t0 + timedelta(seconds=31), 35.12))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    levels = ("1 minute", "1 hour")
    want = {lvl: (1114.23, 34.819688) for lvl in levels}
    for n in (1, 7):
        out = cascade_rollup(ev.repartition(n), keys=["event_type"], levels=levels)
        assert {r["resolution"]: (r["sum_v"], r["avg_v"]) for r in out.collect()} == want, n
    events = ev.toPandas()  # noqa: F841 — read by name in the DuckDB query
    oracle = duckdb.connect().execute(_build_cascade_rollup_oracle(levels)).fetchall()
    assert {r[0]: (r[4], r[7]) for r in oracle} == want


def test_cascade_divisibility_guard(spark):
    ev = spark.createDataFrame([], "ts: timestamp, value: double")
    with pytest.raises(ValueError, match="evenly divide"):
        cascade_rollup(ev, keys=[], levels=("7 minutes", "1 hour"))


def test_cascade_scans_raw_once(spark):
    """Raw rows are scanned exactly once — during the eager finest-level
    checkpoint.  The returned union plan must read ONLY checkpointed
    partials: zero parquet scans at query time (without the checkpoint,
    every union branch re-derives from raw: 3 scans + 3 raw shuffles)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = (
        cascade_rollup(ev, keys=["event_type"], levels=("1 minute", "1 hour", "1 day"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan") == 0
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or "Scan" in plan


# ---------------------------- histogram quantiles ---------------------------

from featherstore_spark.operators.sketch import histogram_quantiles


def test_hist_quantiles_golden(spark):
    """0..9 in 10 bins: every value gets its own bin, median = upper
    edge of the 5th bin = 4.5 — exactly the true median."""
    df = spark.createDataFrame([("a", float(i)) for i in range(10)], "k: string, v: double")
    out = histogram_quantiles(df, "k", "v", qs=(0.5,), bins=10).collect()[0]
    assert out["n"] == 10
    assert out["q50"] == 4.5


def test_hist_quantiles_constant_column(spark):
    df = spark.createDataFrame([("a", 7.0)] * 5, "k: string, v: double")
    out = histogram_quantiles(df, "k", "v", qs=(0.5, 0.99), bins=16).collect()[0]
    assert out["q50"] == 7.0 and out["q99"] == 7.0


def test_hist_quantiles_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0)], "k: string, v: double"
    )
    out = histogram_quantiles(df, "k", "v", qs=(0.5,), bins=4).collect()[0]
    assert out["n"] == 2


def test_hist_quantiles_error_bounded_by_bin_width(spark):
    """The estimate is the upper edge of the bin holding the
    ceil(q*n)-th order statistic, so est ∈ [stat, stat + w] — the
    sketch's exact guarantee (vs the DISCRETE order stat; interpolated
    percentiles can sit bins away in sparse tails of small groups)."""
    import math

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    bins = 128
    stats = ev.where(F.col("value").isNotNull()).agg(
        F.min("value"), F.max("value")
    ).collect()[0]
    w = (float(stats[1]) - float(stats[0])) / bins
    est = {
        r["event_type"]: r
        for r in histogram_quantiles(ev, "event_type", "value", qs=(0.5, 0.95), bins=bins).collect()
    }
    vals = {}
    for r in ev.where(F.col("value").isNotNull()).select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(float(r["value"]))
    for et, r in est.items():
        xs = sorted(vals[et])
        for q, col in ((0.5, "q50"), (0.95, "q95")):
            stat = xs[math.ceil(q * len(xs)) - 1]
            assert stat - 1e-6 <= r[col] <= stat + w + 1e-6, (et, col)
