"""Multi-resolution time rollup (hypertable continuous-aggregate
cascade).

The TimescaleDB/Druid pattern: aggregate raw rows ONCE at the finest
resolution, then build every coarser level from the finer level's
MERGEABLE PARTIALS (count = sum of counts, sum = sum of sums, min = min
of mins, max = max of maxes; avg is derived sum/count at read time, never
averaged-of-averages).  At 100 TB this is the difference between one
raw scan + tiny cascades (each level has ~width-ratio fewer rows) and
re-scanning the raw table once per resolution; it is also exactly the
shape a streaming refresh needs — new finest-level partials fold into
coarser levels without touching history.

The reference has no aggregation tier at all (SURVEY §2.4); this is the
'+' hypertable-rollup family for event/transcript analytics.

Correctness is externally checked the strong way: the contract oracle
computes every level DIRECTLY from raw rows in DuckDB, so the driver's
hash compare proves cascade == direct."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featherstore_spark.functions.time import interval_to_us

#: Type of the exact per-bucket value sum (the DuckDB oracle sums the same).
EXACT_SUM = "decimal(38,6)"


def cascade_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    value_col: str = "value",
    levels: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
) -> DataFrame:
    """Cascaded tumbling rollups at ``levels`` (finest first; each level
    must evenly divide the next — validated loudly, because a 7-minute →
    1-hour cascade silently mis-buckets).  Returns the UNION of all
    levels: (resolution, *keys, bucket_start, n, sum_v, min_v, max_v,
    avg_v).  ``value_col`` is summed as an exact ``DECIMAL(38, 6)``
    (:data:`EXACT_SUM`), so the sum does not depend on summation order or
    partitioning; sum_v/avg_v are rounded HALF_UP (4/6 dp) from that exact
    sum and cast back to double.  A double sum would flip a 7th-decimal
    tie (e.g. 1114.23 / 32 = 34.8196875) with the core count.

    Buckets come from ``F.window`` (epoch-aligned; minute/hour/day all
    align identically to DuckDB's ``time_bucket``).  Coarser levels
    group the finer level's partial rows by the window of their
    ``bucket_start`` — never the raw table."""
    keys = list(keys or [])
    widths = [interval_to_us(w) for w in levels]
    for fine, coarse, fs, cs in zip(widths, widths[1:], levels, levels[1:]):
        if coarse % fine != 0:
            raise ValueError(
                f"cascade_rollup: {fs!r} does not evenly divide {cs!r} — "
                "coarser buckets would straddle finer ones"
            )

    def _finish(level_df: DataFrame, resolution: str) -> DataFrame:
        return level_df.select(
            F.lit(resolution).alias("resolution"),
            *keys,
            "bucket_start",
            "n",
            F.round("sum_raw", 4).cast("double").alias("sum_v"),
            F.col("min_v"),
            F.col("max_v"),
            F.round(F.col("sum_raw") / F.col("n"), 6).cast("double").alias("avg_v"),
        )

    base = (
        df.groupBy(*keys, F.window(ts_col, levels[0]).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast(EXACT_SUM)).alias("sum_raw"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
        # Each level feeds TWO consumers (its own output branch + the next
        # level); without materialization every union branch re-derives
        # its inputs from raw — 3 scans + 3 raw shuffles for 3 levels,
        # strictly worse than direct computation.  Eager localCheckpoint
        # (the repo's winnow-pairs discipline) computes each level once;
        # the materialized rows are the PARTIALS — ~width-ratio smaller
        # per level — so this is cheap at any scale, and it is exactly
        # the artifact a continuous-aggregate store would persist anyway.
        .localCheckpoint(eager=True)
    )
    out = _finish(base, levels[0])
    finer = base
    for lvl in levels[1:]:
        finer = (
            finer.groupBy(*keys, F.window("bucket_start", lvl).alias("w"))
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_raw").alias("sum_raw"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
            .withColumn("bucket_start", F.col("w.start"))
            .drop("w")
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(_finish(finer, lvl))
    return out
