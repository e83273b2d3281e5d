"""End-to-end training-corpus pipeline: clean → filter → dedup →
quality → redact → split, with a single-pass funnel report.

Composes the r5 operator families in the order production pipelines run
them (C4 §2.2 / Gopher A1 / RefinedWeb): structural line cleaning first
(cheap, shrinks everything downstream), repetition and quality filters
next (pure per-row exprs), exact dedup before near-dup (the md5 groupBy
removes byte-dups so the MinHash stage never wastes candidates on
them), PII redaction LAST (redaction tokens must not perturb dedup
fingerprints), split assignment on the way out (leakage-safe hash
ranges, stable across corpus versions).

Shape notes for 100 TB:
- Every filter is a boolean COLUMN, not an eager subset: the funnel
  report is ONE aggregation of conjunction counts instead of one
  ``count()`` job per stage.
- The dedup stages run only on rows surviving the cheap filters, and
  their loser lists come back as id-keyed left joins (shuffle on id,
  broadcast only when Spark's own threshold says so).
- The near-dup stage is the transitive-group variant
  (minhash pairs → connected components → min-id representative);
  pass ``near_dup='none'`` to skip it for quick passes.
- Every stage executes once per call.  Exactly the intermediates with
  several consumers are materialized (eager ``localCheckpoint``):
  ``base`` right after the flag columns (read by exact dedup, MinHash,
  the funnel aggregate and the kept lineage); the distinct MinHash pairs
  inside ``connected_components`` (read by its node and edge sets); and
  the returned corpus (read by the PII/cut sum and the caller's write).
  The exact-dedup winners stay lazy: they are one md5 groupBy over the
  materialized ``base``, cheaper to run twice than to write out.
- Checkpoint blocks are executor-local with no lineage behind them:
  losing an executor fails the job, and the returned corpus too.  On a
  cluster with executor churn, swap ``localCheckpoint`` for reliable
  ``.checkpoint()`` (``spark.checkpoint.dir``) at these points — same
  plan shape, durable blocks.

The CLI front-end is ``featherstore_spark corpus`` (cli.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stages: tuple[str, ...] = ("c4", "repetition", "quality"),
    target_langs: tuple[str, ...] | None = None,
    near_dup: str = "minhash",
    substring_dedup: bool = False,
    substring_min_len: int = 40,
    minhash_threshold: float = 0.9,
    quality_threshold: float = -0.2,
    split_weights: tuple[float, ...] = (0.98, 0.01, 0.01),
    split_names: tuple[str, ...] = ("train", "val", "test"),
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """Returns (clean_corpus, funnel_stats).

    clean_corpus columns: (id_col, passthrough columns…, text = scrubbed
    clean text, q_score, split, n_email/n_ssn/n_ipv4/n_phone).
    funnel_stats: rows surviving each successive stage plus total PII
    redactions — computed in one aggregation job over the flag columns.

    ``stages`` toggles the heuristic FILTERS ('c4', 'repetition',
    'quality'); a disabled stage passes every row (its flag is still
    emitted in the funnel as all-true).  Exact dedup, PII redaction and
    split assignment always run — they are correctness/compliance
    stages, not heuristics.  C4's line-level cleaning only applies when
    its stage is on (the cleaner and its doc filter are one semantic —
    a corpus that isn't sentence-shaped, e.g. code, should skip both).

    ``target_langs``: when set, keep only docs whose n-gram ``lang_id``
    (stopword argmax over the RAW text — redaction/cleaning must not
    bias the vote) is in the set; applied as the first funnel stage.

    ``substring_dedup``: when on, duplicated ``substring_min_len``+-char
    runs are CUT from the surviving docs (dedup.drop_duplicate_spans —
    the ExactSubstr pass production pipelines run after doc-level dedup:
    doc near-dups are already gone, this removes shared boilerplate
    inside kept docs).  Runs after near-dup, before PII (redaction
    tokens must not perturb the gram lattice); adds
    ``substring_cut_chars`` to the funnel stats.
    """
    from featherstore_spark.functions.text import (
        c4_line_clean,
        hashed_linear_score,
        lang_id,
        pii_scrub,
        repetition_stats,
    )
    from featherstore_spark.operators.dedup import (
        drop_near_duplicate_groups,
        exact_duplicates,
        minhash_near_duplicates,
    )
    from featherstore_spark.operators.sampling import split_assign

    if near_dup not in ("minhash", "none"):
        raise ValueError(f"near_dup={near_dup!r}: expected 'minhash' or 'none'")
    unknown = set(stages) - {"c4", "repetition", "quality"}
    if unknown:
        raise ValueError(f"unknown stages {sorted(unknown)} (a typo would "
                         "silently skip a filter)")
    if target_langs is not None:
        from featherstore_spark.functions.text import STOPWORDS

        target_langs = tuple(str(l).strip() for l in target_langs if str(l).strip())
        if not target_langs:
            raise ValueError(
                "target_langs was provided but normalizes to empty — the "
                "caller asked for language filtering and would silently get "
                "none"
            )
        known = set(STOPWORDS) | {"und"}
        bad = set(target_langs) - known
        if bad:
            raise ValueError(
                f"unknown target_langs {sorted(bad)}: lang_id only emits "
                f"{sorted(known)} — a typo would silently drop a language"
            )

    passthrough = [c for c in df.columns if c not in (id_col, text_col)]

    # 0. language gate on the RAW text (cleaning/redaction must not
    #    bias the stopword vote); lang_keep joins the funnel conjunction
    if target_langs:
        df = df.withColumn(
            "__lang_keep", lang_id(F.col(text_col)).isin(*[str(l) for l in target_langs])
        )
    else:
        df = df.withColumn("__lang_keep", F.lit(True))

    # 1. structural clean + doc-level C4 flag
    if "c4" in stages:
        c4 = c4_line_clean(df, id_col=id_col, text_col=text_col).select(
            id_col, "clean_text", "c4_keep"
        )
        base = df.select(id_col, *passthrough, "__lang_keep").join(c4, id_col)
    else:
        base = df.select(
            id_col, *passthrough, "__lang_keep",
            F.coalesce(F.col(text_col), F.lit("")).alias("clean_text"),
            F.lit(True).alias("c4_keep"),
        )

    # 2. repetition filter on the CLEANED text
    if "repetition" in stages:
        rep = repetition_stats(
            base.select(id_col, F.col("clean_text").alias("text")), id_col=id_col
        ).select(id_col, "repetition_ok")
        base = base.join(rep, id_col)
    else:
        base = base.withColumn("repetition_ok", F.lit(True))

    # 3. quality score — pure expr, no join (score always emitted;
    #    only the FILTER is stage-gated)
    score, _ntok = hashed_linear_score(F.col("clean_text"), seed=seed)
    base = base.withColumn("q_score", score).withColumn(
        "quality_keep",
        (F.col("q_score") >= F.lit(float(quality_threshold)))
        if "quality" in stages
        else F.lit(True),
    )
    # base feeds exact dedup, MinHash (via surv), the funnel aggregate and
    # the kept -> spans -> scrub lineage: materialize it once, here, so
    # c4/repetition/quality never re-execute per consumer
    base = base.localCheckpoint(eager=True)

    surv = base.where("__lang_keep AND c4_keep AND repetition_ok AND quality_keep")

    # 4. exact dedup among survivors (md5 fingerprint groupBy; min-id kept)
    winners = exact_duplicates(
        surv.select(id_col, F.col("clean_text").alias("text")), id_col=id_col
    ).select(F.col("kept_id").alias(id_col), F.lit(True).alias("exact_rep"))
    base = base.join(winners, id_col, "left").withColumn(
        "exact_keep", F.coalesce("exact_rep", F.lit(False))
    ).drop("exact_rep")

    # 5. near-dup groups among exact winners
    if near_dup == "minhash":
        exact_surv = surv.join(winners.select(id_col), id_col, "left_semi").select(
            id_col, F.col("clean_text").alias("text")
        )
        pairs = minhash_near_duplicates(
            exact_surv, id_col=id_col, threshold=minhash_threshold
        )
        near_kept = drop_near_duplicate_groups(
            exact_surv.select(id_col), pairs.select("id_a", "id_b"), id_col=id_col
        ).withColumn("near_rep", F.lit(True))
        base = base.join(near_kept, id_col, "left").withColumn(
            "near_keep", F.coalesce("near_rep", F.lit(False))
        ).drop("near_rep")
    else:
        base = base.withColumn("near_keep", F.col("exact_keep"))

    # funnel report: ONE aggregation over the flags
    def _cnt(cond):
        return F.sum(F.expr(cond).cast("long"))

    stats_row = base.agg(
        F.count(F.lit(1)).alias("input"),
        _cnt("__lang_keep").alias("after_lang"),
        _cnt("__lang_keep AND c4_keep").alias("after_c4"),
        _cnt("__lang_keep AND c4_keep AND repetition_ok").alias("after_repetition"),
        _cnt("__lang_keep AND c4_keep AND repetition_ok AND quality_keep").alias("after_quality"),
        _cnt("exact_keep").alias("after_exact_dedup"),
        _cnt("near_keep").alias("after_near_dedup"),
    ).collect()[0]

    # 6. optional exact-substring dedup over the SURVIVORS (boilerplate
    #    runs shared by kept docs), then PII redaction LAST (tokens must
    #    not perturb dedup fingerprints), then leakage-safe split
    kept = base.where("near_keep").select(id_col, *passthrough, "q_score", "clean_text")
    if substring_dedup:
        from featherstore_spark.operators.dedup import drop_duplicate_spans

        # drop_duplicate_spans' small-input rebalance never fires here:
        # without CBO a join's size estimate is the product of its inputs'
        # and a localCheckpoint keeps it, so this input (joins over the
        # checkpointed base) is estimated at ~7e60 bytes for 1.5k docs and
        # the lattice runs as two 1-task jobs (1.3 s, 1.6 s).  An ungated
        # round-robin of this input made them 4-task
        # jobs (0.49 s, 0.45 s) but did not pay end to end: near_dup
        # rows_per_s median 145.0 vs 143.4 without it, winning 1 of 6
        # interleaved pairs (local[4], seeds 1-6).  Not applied.
        spans = drop_duplicate_spans(
            kept.select(id_col, F.col("clean_text").alias("text")),
            id_col=id_col, min_len=substring_min_len,
        )
        kept = kept.drop("clean_text").join(
            spans.select(id_col, "clean_text", F.col("cut_chars").alias("__cut")),
            id_col,
        )
    else:
        kept = kept.withColumn("__cut", F.lit(0).cast("long"))
    scrubbed = pii_scrub(
        kept.select(id_col, F.col("clean_text").alias("text")), id_col=id_col
    )  # -> (id, clean_text = scrubbed bytes, n_<type>…, has_pii)
    out = (
        kept.drop("clean_text")
        .join(scrubbed, id_col)
        .withColumnRenamed("clean_text", "text")
    )
    # out feeds the PII/cut sum below AND the caller's write: one pass
    # over the span lattice, PII regexes and split, not two
    out = split_assign(out, key_col=id_col, weights=split_weights,
                       names=split_names, seed=seed).localCheckpoint(eager=True)

    pii_row = out.agg(
        F.sum(
            F.col("n_email") + F.col("n_ssn") + F.col("n_ipv4") + F.col("n_phone")
        ).alias("p"),
        F.sum("__cut").alias("c"),
    ).collect()[0]
    out = out.drop("__cut")
    stats = {k: int(stats_row[k]) for k in stats_row.asDict()}
    stats["pii_redactions"] = int(pii_row["p"] or 0)
    stats["substring_cut_chars"] = int(pii_row["c"] or 0)
    return out, stats
