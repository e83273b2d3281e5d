"""Zero temporal leakage — adversarial property (SURVEY.md §5.2 item 2).

Poison every feature value at ts' > each spine point's ts with a sentinel;
the as-of output must be byte-identical to the clean run. If any strategy
ever read a future row, the sentinel would surface.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from featherstore_spark.datagen import generate_spine, generate_transcripts
from featherstore_spark.operators.asof import STRATEGIES, asof_join
from featherstore_spark.operators.windows import turn_features

POISON = 1e18


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_poisoned_future_never_leaks(spark, transcripts, strategy):
    feats = turn_features(transcripts).select(
        "conv_id", "ts", "turn_idx", F.col("text_len").cast("double").alias("text_len")
    )
    spine = generate_spine(transcripts, seed=42)

    # Global cutoff: poison everything after the median spine ts, then
    # evaluate only spine points at or before the cutoff.
    cutoff = spine.selectExpr("percentile_approx(ts, 0.5) as c").collect()[0]["c"]
    spine_past = spine.where(F.col("ts") <= F.lit(cutoff)).cache()

    clean = asof_join(spine_past, feats, tiebreaks=("turn_idx",), strategy=strategy, bucket="2 hours")
    poisoned_feats = feats.withColumn(
        "text_len", F.when(F.col("ts") > F.lit(cutoff), F.lit(POISON)).otherwise(F.col("text_len"))
    )
    dirty = asof_join(spine_past, poisoned_feats, tiebreaks=("turn_idx",), strategy=strategy, bucket="2 hours")

    c = clean.toPandas().sort_values(["conv_id", "ts", "f_ts"], na_position="first").reset_index(drop=True)
    d = dirty.toPandas().sort_values(["conv_id", "ts", "f_ts"], na_position="first").reset_index(drop=True)
    assert len(c) == len(d) and len(c) > 0
    assert not (d["f_text_len"] == POISON).any(), "future value leaked into past spine point"
    pd.testing.assert_frame_equal(c, d)
