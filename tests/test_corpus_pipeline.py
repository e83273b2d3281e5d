"""End-to-end corpus pipeline (plans/corpus.py + `corpus` CLI).

A crafted corpus where every stage has a known victim: the funnel
counts, the survivor set, the redacted bytes and the split partitioning
are all asserted exactly."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from featherstore_spark.plans.corpus import corpus_pipeline

GOOD = (
    "The quick brown fox jumps over the lazy dog near the river bank today.\n"
    "Maple trees shed their bright red leaves when autumn winds arrive early.\n"
    "Seven sailors carried heavy wooden crates across the narrow harbor bridge.\n"
    "Quiet mornings reward patient readers with long uninterrupted thinking time."
)


@pytest.fixture()
def corpus(spark):
    rep_line = "This exact sentence repeats itself in the document body again today.\n"
    rows = [
        (1, GOOD),                                  # survives everything
        (2, GOOD),                                  # exact dup of 1 -> dropped
        (3, GOOD + " Contact me at jane.doe@example.com for more details soon."),
        # near-dup of 1 (one extra sentence) -> dropped by minhash at 0.6
        (4, "short no punct"),                      # C4 kills (no terminal-punct 5-word line)
        (5, rep_line * 8),                          # repetition filter kills
        (6, None),                                  # null text -> C4 kills
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_funnel_and_survivors(spark, corpus):
    out, stats = corpus_pipeline(
        corpus, minhash_threshold=0.6, quality_threshold=-1.0
    )
    assert stats["input"] == 6
    assert stats["after_c4"] == 4          # 4 (no sentence line), 6 (null) die
    assert stats["after_repetition"] == 3  # 5 dies
    assert stats["after_quality"] == 3     # threshold -1: none die
    assert stats["after_exact_dedup"] == 2  # 2 is a byte-dup of 1
    assert stats["after_near_dedup"] == 1   # 3 is a near-dup of 1; min id 1 kept
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1]


def test_pipeline_runs_input_once_and_write_reruns_nothing(spark, corpus, tmp_path):
    """Every stage executes once per call: the input lineage is evaluated
    by ONE pass of the flag plan (it scans the input twice: the raw
    columns and the C4 cleaner), not again by dedup or the funnel.  The
    returned corpus is materialized, so the caller's write re-runs
    neither the input nor the spans/PII/split lineage.  Counted by a
    Python UDF accumulator placed in the input lineage."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(x):
        acc.add(1)
        return x

    counted = corpus.withColumn("text", tick.asNondeterministic()(F.col("text")))
    out, stats = corpus_pipeline(
        counted, minhash_threshold=0.6, quality_threshold=-1.0, substring_dedup=True
    )
    n = corpus.count()
    assert acc.value == 2 * n
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    out.write.parquet(str(tmp_path / "corpus"))
    assert acc.value == 2 * n
    ref, ref_stats = corpus_pipeline(
        corpus, minhash_threshold=0.6, quality_threshold=-1.0, substring_dedup=True
    )
    assert stats == ref_stats
    assert stats["after_near_dedup"] == 1
    written = spark.read.parquet(str(tmp_path / "corpus"))
    cols = sorted(ref.columns)
    assert sorted(written.select(*cols).collect()) == sorted(ref.select(*cols).collect())


def test_pii_redaction_and_passthrough(spark, corpus):
    out, stats = corpus_pipeline(
        corpus.withColumn("lang", F.lit("en")),
        near_dup="none",
        minhash_threshold=0.6,
        quality_threshold=-1.0,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # near_dup='none': doc 3 survives and its email is redacted
    assert 3 in rows
    assert "<EMAIL>" in rows[3]["text"] and "@example.com" not in rows[3]["text"]
    assert rows[3]["n_email"] == 1 and rows[3]["has_pii"]
    assert stats["pii_redactions"] >= 1
    assert rows[1]["lang"] == "en"  # passthrough column preserved


def test_stage_toggles(spark, corpus):
    out, stats = corpus_pipeline(corpus, stages=(), near_dup="none")
    # no heuristic filters: only the null-text doc still flows through
    # (clean_text '' is not an exact dup of anything non-empty) and
    # exact dedup still removes the byte-dup
    assert stats["after_c4"] == stats["input"] == 6
    assert stats["after_exact_dedup"] == 5  # doc 2 still deduped
    with pytest.raises(ValueError, match="unknown stages"):
        corpus_pipeline(corpus, stages=("c4", "qualty"))


def test_split_is_deterministic_and_partitioned(spark, corpus, tmp_path):
    out, _ = corpus_pipeline(corpus, stages=(), near_dup="none")
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in corpus_pipeline(corpus, stages=(), near_dup="none")[0].collect()}
    assert a == b


def test_cli_corpus_roundtrip(spark, tmp_path):
    from featherstore_spark import cli

    src = str(tmp_path / "docs")
    dst = str(tmp_path / "clean")
    spark.createDataFrame(
        [(i, GOOD + f" Unique closing sentence number {i} ends the document here.")
         for i in range(8)],
        "doc_id: long, text: string",
    ).write.parquet(src)
    rc = cli.main([
        "corpus", "--input", src, "--output", dst,
        "--near-dup", "none", "--quality-threshold", "-1.0",
        "--split-weights", "0.5,0.25,0.25",
    ])
    assert rc == 0
    back = spark.read.parquet(dst)
    assert back.count() == 8
    assert "split" in back.columns
    # split is a physical partition directory (pruned reads)
    import os

    assert any(d.startswith("split=") for d in os.listdir(dst))


def test_minhash_path_with_no_near_dups(spark):
    """Unique docs: the minhash stage finds zero pairs and the empty
    edge set must flow through connected components without error."""
    texts = [
        "Granite cliffs overlook the silver bay where fishing boats gather at dawn.\n"
        "Lighthouse keepers trade stories about storms that never reached the shore.\n"
        "Salt spray paints the harbor railings white before the tide turns again.",
        "Desert caravans follow ancient star maps across the endless rolling dunes.\n"
        "Merchants barter copper lanterns for sweet dates beneath the canvas tents.\n"
        "Night winds carry distant drum songs over the moonlit caravan camp.",
        "Mountain railways climb through pine forests toward the snowcapped summit.\n"
        "Engineers inspect every wooden trestle before the morning passenger run.\n"
        "Steam whistles echo down the valley as the first carriages depart.",
        "River otters build their dens beneath the roots of flooded willow trees.\n"
        "Biologists count the playful pups during the quiet weeks of early spring.\n"
        "Field notebooks fill with sketches of webbed tracks along the muddy bank.",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id: long, text: string"
    )
    out, stats = corpus_pipeline(docs, quality_threshold=-1.0)
    assert stats["after_near_dedup"] == stats["after_exact_dedup"] == 4
    assert out.count() == 4


def test_all_docs_filtered_is_shape_stable(spark):
    """Every doc dies at C4: the pipeline must return an EMPTY frame
    with the full output schema, zero redactions, no stage crashing on
    the empty survivor set."""
    docs = spark.createDataFrame(
        [(1, "no punct here"), (2, None)], "doc_id: long, text: string"
    )
    out, stats = corpus_pipeline(docs)
    assert stats["after_c4"] == 0 and stats["after_near_dedup"] == 0
    assert out.count() == 0
    assert {"text", "split", "q_score", "n_email"} <= set(out.columns)


def test_language_gate(spark):
    """target_langs keeps only docs whose stopword vote lands in the
    set; the gate runs on RAW text and leads the funnel."""
    en = ("The ship and the crew wait for the tide that is low today.\n"
          "It is a long day for the men and the gulls in the harbor.\n"
          "That is the way of the sea and it is not for everyone.")
    de = ("Der Kapitän und die Mannschaft sind nicht mit dem Wetter zufrieden.\n"
          "Das Schiff ist ein alter Kahn und die Reise ist nicht leicht.\n"
          "Die Möwen fliegen mit dem Wind und das Meer ist nicht ruhig.")
    docs = spark.createDataFrame([(1, en), (2, de)], "doc_id: long, text: string")
    out, stats = corpus_pipeline(
        docs, stages=(), near_dup="none", target_langs=("en",)
    )
    assert stats["input"] == 2 and stats["after_lang"] == 1
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_corpus_pipeline_substring_stage(spark):
    """substring_dedup=True cuts duplicated boilerplate runs from kept
    docs (canonical copy survives), records the cut total in the funnel,
    and leaves every other stage's behavior untouched."""
    from featherstore_spark.plans.corpus import corpus_pipeline

    boiler = "All rights reserved. This material may not be republished without permission. "
    rows = [
        (1, "A perfectly ordinary first document talking about gardens. "
            "It has several proper sentences ending with punctuation. "
            "The prose is long enough to pass every heuristic filter easily. " + boiler),
        (2, "A different second document about sailing across the ocean. "
            "Nothing here repeats the first one except the legal line below. "
            "These sentences also pass the heuristic filters comfortably. " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, stats = corpus_pipeline(
        df, stages=(), near_dup="none", substring_dedup=True,
    )
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert len(texts) == 2
    assert stats["substring_cut_chars"] >= len(boiler) - 2
    # canonical (doc 1) keeps the boilerplate; doc 2 loses it
    assert "republished" in texts[1]
    assert "republished" not in texts[2]
    assert "sailing across the ocean" in texts[2]

    # default off: no cutting, stat present and zero
    out2, stats2 = corpus_pipeline(df, stages=(), near_dup="none")
    assert stats2["substring_cut_chars"] == 0
    t2 = {r["doc_id"]: r["text"] for r in out2.collect()}
    assert "republished" in t2[1] and "republished" in t2[2]
