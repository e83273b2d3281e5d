"""As-of join correctness: every strategy vs the pandas oracle,
boundary inclusivity, tie-breaks, unknown entities (SURVEY.md §5.2)."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from featherstore_spark.datagen import generate_spine, generate_transcripts
from featherstore_spark.operators.asof import STRATEGIES, asof_join
from featherstore_spark.operators.windows import turn_features
from featherstore_spark.oracle import asof_join_pd


def _dt(s: str) -> datetime:
    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in s else ("%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d")
    return datetime.strptime(s, fmt)


@pytest.fixture(scope="module")
def feature_log(transcripts):
    # per-turn feature log: (conv_id, ts, turn_idx, text_len, cum_turns...)
    f = turn_features(transcripts).select(
        "conv_id", "ts", "turn_idx", "text_len", "cum_turns", "cum_tool_calls"
    ).cache()
    f.count()
    return f


@pytest.fixture(scope="module")
def spine(transcripts):
    s = generate_spine(transcripts, seed=42).cache()
    s.count()
    return s


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in ("ts", "f_ts"):
        out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
    out = out.sort_values(["conv_id", "ts", "f_ts"], kind="mergesort", na_position="first")
    return out.reset_index(drop=True)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_matches_oracle(spark, spine, feature_log, strategy, transcripts_pd):
    got = asof_join(
        spine, feature_log, on="conv_id", ts="ts", tiebreaks=("turn_idx",),
        strategy=strategy, bucket="2 hours",
    ).toPandas()
    exp = asof_join_pd(
        spine.toPandas(), feature_log.toPandas(), on="conv_id", ts="ts", tiebreaks=("turn_idx",)
    )
    got, exp = _normalize(got), _normalize(exp)
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    assert got["f_ts"].equals(exp["f_ts"])
    for c in ["f_turn_idx", "f_text_len", "f_cum_turns", "f_cum_tool_calls"]:
        pd.testing.assert_series_equal(
            got[c].astype("float64"), exp[c].astype("float64"), check_names=False
        )


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_exact_timestamp_is_inclusive(spark, strategy):
    feats = spark.createDataFrame(
        [("c", _dt("2026-01-01 00:00:00"), 1, 10.0)],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    spine = spark.createDataFrame(
        [("c", _dt("2026-01-01 00:00:00"))], "conv_id string, ts timestamp"
    )
    out = asof_join(spine, feats, tiebreaks=("turn_idx",), strategy=strategy, bucket="1 hour").toPandas()
    assert out["f_v"].iloc[0] == 10.0  # feature AT spine ts is visible (C3)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_one_microsecond_after_is_excluded(spark, strategy):
    feats = spark.createDataFrame(
        [("c", _dt("2026-01-01 00:00:00.000001"), 1, 10.0)],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    spine = spark.createDataFrame(
        [("c", _dt("2026-01-01 00:00:00"))], "conv_id string, ts timestamp"
    )
    out = asof_join(spine, feats, tiebreaks=("turn_idx",), strategy=strategy, bucket="1 hour").toPandas()
    assert pd.isna(out["f_v"].iloc[0])


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_tie_break_max_turn_idx_wins(spark, strategy):
    t0 = _dt("2026-01-01 00:00:00")
    feats = spark.createDataFrame(
        [("c", t0, 1, 1.0), ("c", t0, 3, 3.0), ("c", t0, 2, 2.0)],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    spine = spark.createDataFrame([("c", t0)], "conv_id string, ts timestamp")
    out = asof_join(spine, feats, tiebreaks=("turn_idx",), strategy=strategy, bucket="1 hour").toPandas()
    assert out["f_v"].iloc[0] == 3.0  # C2: deterministic max-tiebreak


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_unknown_entity_yields_nulls(spark, strategy):
    feats = spark.createDataFrame(
        [("c", _dt("2026-01-01"), 1, 10.0)],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    spine = spark.createDataFrame(
        [("ghost", _dt("2026-06-01"))], "conv_id string, ts timestamp"
    )
    out = asof_join(spine, feats, tiebreaks=("turn_idx",), strategy=strategy, bucket="1 hour").toPandas()
    assert len(out) == 1 and pd.isna(out["f_v"].iloc[0])


def test_bucketed_crosses_bucket_boundary(spark):
    # feature in bucket 0, spine in bucket N (empty buckets between):
    # the boundary carry must bridge arbitrarily many empty buckets.
    feats = spark.createDataFrame(
        [("c", _dt("2026-01-01 00:00:00"), 1, 42.0)],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    spine = spark.createDataFrame(
        [("c", _dt("2026-01-09 13:00:00"))], "conv_id string, ts timestamp"
    )
    out = asof_join(spine, feats, tiebreaks=("turn_idx",), strategy="bucketed", bucket="1 hour").toPandas()
    assert out["f_v"].iloc[0] == 42.0


def test_skewed_corpus_all_strategies_agree(spark):
    t = generate_transcripts(spark, n_convs=30, mean_turns=30, seed=7, skew=True)
    f = turn_features(t).select("conv_id", "ts", "turn_idx", "text_len")
    s = generate_spine(t, seed=7)
    outs = {
        st: _normalize(
            asof_join(s, f, tiebreaks=("turn_idx",), strategy=st, bucket="6 hours").toPandas()
        )
        for st in STRATEGIES
    }
    base, got = outs["window"], outs["bucketed"]
    assert len(got) == len(base)
    assert got["f_ts"].equals(base["f_ts"])
    pd.testing.assert_series_equal(
        got["f_text_len"].astype("float64"),
        base["f_text_len"].astype("float64"),
        check_names=False,
    )


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_tolerance_ttl(spark, strategy):
    """Feature TTL: a match older than spine.ts - tolerance is nulled out,
    INCLUSIVE at the boundary (staleness == tolerance still matches), on
    every strategy."""
    feats = spark.createDataFrame(
        [("c", _dt("2026-01-01 10:00:00"), 1.0)], "conv_id string, ts timestamp, v double"
    )
    spine = spark.createDataFrame(
        [
            ("c", _dt("2026-01-01 10:30:00")),  # 30 min stale -> fresh
            ("c", _dt("2026-01-01 11:00:00")),  # exactly 1h -> boundary keeps
            ("c", _dt("2026-01-01 11:00:00.000001")),  # 1h + 1us -> expired
        ],
        "conv_id string, ts timestamp",
    )
    got = {
        r["ts"]: (r["f_ts"], r["f_v"])
        for r in asof_join(spine, feats, strategy=strategy, tolerance="1 hour").collect()
    }
    assert got[_dt("2026-01-01 10:30:00")][1] == 1.0
    assert got[_dt("2026-01-01 11:00:00")][1] == 1.0
    assert got[_dt("2026-01-01 11:00:00.000001")] == (None, None)

    with pytest.raises(ValueError, match="non-negative"):
        asof_join(spine, feats, tolerance=-1)
