"""Point-in-time as-of join (SURVEY.md §2.3 J3).

The reference's only "join" is latest-per-entity at t=now
(/root/reference/pkg/storage/duckdb/duckdb.go:617-625); this module
generalizes it: for every spine row (conv_id, ts) find the latest feature
row with ``feature.ts <= spine.ts`` (inclusive, SURVEY C3), breaking equal
timestamps by caller-supplied columns DESC (deterministic, fixes C2).

Two strategies (:data:`STRATEGIES`), both pure JVM — one window kernel,
no Python node in any as-of plan:

- ``window`` (union-marker): union spine+features, one window pass with
  ``last(feature_struct, ignorenulls)`` over
  ``rowsBetween(unboundedPreceding, current)`` partitioned by entity.
  Whole-stage codegen.  Default; its weakness is a single window
  partition per entity (a mega-conversation = one task).
- ``bucketed``: the same window kernel partitioned by (entity, time
  bucket), so a mega-conversation splits into (time-range) many
  independent tasks (key x time-range partitioning, as in Waterwheel).
  Each bucket's boundary row — the latest feature row from any strictly
  earlier bucket — is carried forward by a bucket-granularity union-marker
  window, so as-of stays correct across bucket edges (SURVEY §7.4).

Measured on a 4-vCPU host, ``local[4]``, noop sink, seed-1 skewed inputs
(one conversation holds ~50% of turns), median wall:

  =====================  ========  ===========================
  turns                  window    bucketed (window per bucket)
  =====================  ========  ===========================
  100k                   0.86 s    1.75 s
  1M                     2.44 s    3.23 s
  5M (hot entity 2.5M)   9.34 s    11.67 s
  =====================  ========  ===========================

``window`` never lost in these runs; ``bucketed`` is kept for clusters
where one entity's rows outgrow a single task.  ``bucketed`` with a
pandas ``merge_asof`` per group in place of the window was slower still
(1.94 s / 4.71 s / 15.72 s): the Arrow round trip and per-group frame
construction cost more than the merge saves.

Leakage guarantee: both strategies only ever read feature rows with
``ts <= spine.ts`` — enforced structurally (the window frame ends at the
current row; a carried boundary row comes from a strictly earlier
bucket) — tested adversarially with poisoned future values
(tests/test_leakage.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featherstore_spark.functions.time import epoch_us, interval_to_us as _interval_to_us

DEFAULT_PREFIX = "f_"

#: Every valid ``strategy`` of :func:`asof_join`.
STRATEGIES = ("window", "bucketed")


def _value_cols(features: DataFrame, on: str, ts: str) -> list[str]:
    return [c for c in features.columns if c not in (on, ts)]


#: Candidate bucket widths for ``bucket="auto"`` (µs), finest → coarsest.
#: A fixed grid keeps the choice deterministic and cache-friendly: the
#: same corpus stats always select the same width.
AUTO_BUCKET_GRID_US = (
    60_000_000,  # 1 minute
    300_000_000,  # 5 minutes
    900_000_000,  # 15 minutes
    3_600_000_000,  # 1 hour
    21_600_000_000,  # 6 hours
    86_400_000_000,  # 1 day
    604_800_000_000,  # 7 days
)
_DAY_US = 86_400_000_000
#: Above this optimizer size estimate the auto-width stats pass samples.
_AUTO_SAMPLE_BYTES = 4 << 30


def auto_bucket_width_us(
    features: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    target_rows: int = 50_000,
    sample_fraction: float | None = None,
) -> int:
    """Data-driven as-of bucket width: the COARSEST grid width whose
    hottest (entity, bucket) window partition stays under ``target_rows``.

    The binding constraint of the bucketed strategy is the single densest
    entity's rows inside one time bucket (they form ONE window partition,
    sorted and scanned by one task).  Statistic:
    max per-(entity, day) row count — one map-side-combinable aggregation
    whose shuffle carries only (entity x day) partial counts, or a sampled
    estimate via ``sample_fraction`` (scaled back up; sampling UNDER-
    estimates the max, so sampled runs keep a 2x safety margin).

    ``sample_fraction=None`` auto-samples when the input's optimizer size
    estimate exceeds ~4 GiB (driver-side plan stat, zero jobs): at corpus
    scale the stats pass reads a bounded sample instead of every row.
    Callers that already know the width should pass it straight to
    ``asof_join(bucket=<µs>)`` — no stats job runs at all (and the
    checkpoint CLI caches the resolved width in the manifest).
    """
    if sample_fraction is None:
        # Catalyst's sizeInBytes estimate for the plan: free to read, and
        # only the ORDER of magnitude matters for choosing to sample.
        # Plans without real stats (LogicalRDD, some local relations)
        # report the defaultSizeInBytes sentinel (~Long.MaxValue) — treat
        # anything implausibly huge as unknown and do NOT sample: the
        # scale case (parquet/Iceberg scans) always carries a real size.
        est = int(features._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if _AUTO_SAMPLE_BYTES < est < (1 << 60):
            sample_fraction = max(0.01, min(1.0, _AUTO_SAMPLE_BYTES / est))
    df = features.sample(fraction=sample_fraction, seed=42) if sample_fraction else features
    hot = (
        df.groupBy(F.col(on), F.floor(epoch_us(ts) / F.lit(_DAY_US)).alias("__d"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    if not hot:  # empty input: any width works, pick 1 day
        return _DAY_US
    hot = int(hot / sample_fraction * 2) if sample_fraction else int(hot)
    density_per_us = hot / _DAY_US  # rows/µs of the hottest entity-day
    for width in reversed(AUTO_BUCKET_GRID_US):
        if density_per_us * width <= target_rows:
            return width
    return AUTO_BUCKET_GRID_US[0]


def asof_join(
    spine: DataFrame,
    features: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    tiebreaks: Sequence[str] = (),
    prefix: str = DEFAULT_PREFIX,
    strategy: str = "window",
    bucket: str | int = "1 day",
    target_rows: int = 50_000,
    tolerance: str | int | None = None,
) -> DataFrame:
    """Enrich every spine row with the latest preceding feature row.

    Output = spine columns + ``{prefix}{ts}`` (matched feature timestamp,
    null when no feature precedes the spine point) + ``{prefix}{col}`` for
    every feature value column.  ``strategy`` is one of :data:`STRATEGIES`.

    ``bucket`` (bucketed strategy): an interval string, a width in µs, or
    ``"auto"`` — sized from the corpus's hottest entity-day density so the
    largest (entity, bucket) window partition stays under ``target_rows``
    (SURVEY §7.4's knob, now data-driven).

    ``tolerance`` (feature TTL): an interval string or µs width; a match
    older than ``spine.ts − tolerance`` is nulled out (INCLUSIVE at the
    boundary: staleness == tolerance still matches, like pandas
    merge_asof).  Expired features serving as fresh is the online-store
    staleness bug; the filter is one post-match codegen projection —
    the latest match older than the TTL proves no in-window feature
    exists, so no strategy needs a second scan.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown as-of strategy {strategy!r}; expected one of {STRATEGIES}")
    tiebreaks = [c for c in tiebreaks if c in features.columns]
    val_cols = _value_cols(features, on, ts)
    if strategy == "window":
        out = _asof_window(spine, features, on, ts, tiebreaks, prefix, val_cols)
    else:
        if bucket == "auto":
            bucket = auto_bucket_width_us(features, on, ts, target_rows)
        out = _asof_bucketed(spine, features, on, ts, tiebreaks, prefix, val_cols, bucket)
    if tolerance is None:
        return out
    tol_us = _interval_to_us(tolerance) if isinstance(tolerance, str) else int(tolerance)
    if tol_us < 0:
        raise ValueError(f"tolerance must be non-negative, got {tolerance!r}")
    fresh = epoch_us(prefix + ts) >= epoch_us(ts) - F.lit(tol_us)
    return out.select(
        *spine.columns,
        *[
            F.when(fresh, F.col(prefix + c)).otherwise(F.lit(None)).alias(prefix + c)
            for c in [ts, *val_cols]
        ],
    )


# ---------------------------------------------------------------- window --

def _asof_window(spine, features, on, ts, tiebreaks, prefix, val_cols, by=()):
    """The one as-of kernel: a running ``last`` per (``on``, ``*by``)
    window partition.  ``by`` columns must exist on both sides; they are
    dropped from the output."""
    # Feature payload rides in one struct so last(..., ignorenulls) picks a
    # whole ROW atomically — a null VALUE inside a later feature row must
    # still shadow earlier rows.
    keys = [on, *by]
    feat_struct = F.struct(F.col(ts).alias(ts), *[F.col(c).alias(c) for c in val_cols])
    spine_cols = [c for c in spine.columns if c not in by]
    spine_extra = [c for c in spine_cols if c not in (on, ts)]

    f_side = features.select(
        *keys,
        F.col(ts),
        F.lit(0).alias("__is_spine"),
        *[F.col(c).alias(f"__tb_{c}") for c in tiebreaks],
        feat_struct.alias("__feat"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c) for c in spine_extra],
    )
    s_side = spine.select(
        *keys,
        F.col(ts),
        F.lit(1).alias("__is_spine"),
        *[F.lit(None).cast(features.schema[c].dataType).alias(f"__tb_{c}") for c in tiebreaks],
        F.lit(None).cast(f_side.schema["__feat"].dataType).alias("__feat"),
        *spine_extra,
    )
    unioned = f_side.unionByName(s_side)

    # Ordering: (ts, is_spine, tiebreaks): at equal ts all feature rows sort
    # BEFORE the spine row (inclusive as-of), and among equal-ts features
    # the max-tiebreak row is last — exactly the row last() returns.
    order = [F.col(ts).asc(), F.col("__is_spine").asc()] + [F.col(f"__tb_{c}").asc_nulls_first() for c in tiebreaks]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    matched = unioned.withColumn("__m", F.last("__feat", ignorenulls=True).over(w)).where(F.col("__is_spine") == 1)

    return matched.select(
        *spine_cols,
        F.col(f"__m.{ts}").alias(prefix + ts),
        *[F.col(f"__m.{c}").alias(prefix + c) for c in val_cols],
    )


# -------------------------------------------------------------- bucketed --

def _asof_bucketed(spine, features, on, ts, tiebreaks, prefix, val_cols, bucket):
    width_us = bucket if isinstance(bucket, int) else _interval_to_us(bucket)
    b_of = lambda c: F.floor(epoch_us(c) / F.lit(width_us))  # noqa: E731

    fb = features.withColumn("__b", b_of(ts))
    sb = spine.withColumn("__b", b_of(ts))

    # Boundary carry (bucket-granularity union-marker): for every spine
    # bucket, the single latest feature row from any STRICTLY earlier
    # bucket.  Rows here are one-per-(entity,bucket) — tiny — so the window
    # over `on` cannot skew even when raw data does.
    last_order = [F.col(ts).desc()] + [F.col(c).desc() for c in tiebreaks]
    wlast = Window.partitionBy(on, "__b").orderBy(*last_order)
    feat_struct = F.struct(F.col(ts).alias(ts), *[F.col(c).alias(c) for c in val_cols])
    boundary = (
        fb.withColumn("__rn", F.row_number().over(wlast))
        .where(F.col("__rn") == 1)
        .select(on, "__b", F.lit(1).alias("__is_boundary"), feat_struct.alias("__feat"))
    )
    probes = sb.select(on, "__b").distinct().select(
        on, "__b", F.lit(0).alias("__is_boundary"),
        F.lit(None).cast(boundary.schema["__feat"].dataType).alias("__feat"),
    )
    wcarry = (
        Window.partitionBy(on)
        .orderBy(F.col("__b").asc(), F.col("__is_boundary").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        boundary.unionByName(probes)
        .withColumn("__c", F.last("__feat", ignorenulls=True).over(wcarry))
        .where((F.col("__is_boundary") == 0) & F.col("__c").isNotNull())
        .select(
            F.col(on),
            F.col("__b"),
            F.col(f"__c.{ts}").alias(ts),
            *[F.col(f"__c.{c}").alias(c) for c in val_cols],
        )
    )
    # A carried row is older than every in-bucket row, so it sorts first in
    # its (entity, bucket) partition and only answers spine rows that no
    # in-bucket feature precedes.
    fb_aug = fb.select(on, "__b", ts, *val_cols).unionByName(carried)
    return _asof_window(sb, fb_aug, on, ts, tiebreaks, prefix, val_cols, by=("__b",))
