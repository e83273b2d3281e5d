"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship materialization pipeline on sf0.001.
``queries()`` exposes one named query per implemented operator from
SURVEY.md §2 (+ the training-data operator families); ``oracle_sql()``
gives the DuckDB-checkable ANSI SQL twin for every SQL-expressible one.

Column-name and rounding discipline: every computed column is aliased
identically on both sides; every double that crosses an aggregation is
``round(x, 4..6)`` on both sides so value-hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


# --------------------------------------------------------------- helpers --

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_as_transcripts(events: DataFrame) -> DataFrame:
    """Deterministic transcript-shaped view of the events table: user ≙
    conversation, events ordered by (ts, event_id) ≙ turns.  Lets the full
    transcript pipeline be oracle-checked on driver-provided data."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    role = (
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type") == "purchase", "assistant")
        .when(F.col("event_type") == "signup", "system")
        .otherwise("tool")
    )
    return events.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "purchase", F.lit("checkout")).alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )


_TRANSCRIPT_MAP_SQL = """
    SELECT 'u' || user_id AS conv_id,
           (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)::INTEGER AS turn_idx,
           CASE WHEN event_type IN ('click','view') THEN 'user'
                WHEN event_type = 'purchase' THEN 'assistant'
                WHEN event_type = 'signup' THEN 'system'
                ELSE 'tool' END AS role,
           props AS text,
           CASE WHEN event_type = 'purchase' THEN 'checkout' END AS tool,
           ts
    FROM events
"""


# Shared SQL twin of plans.materialize.build_feature_log over the
# transcript-mapped events — used by BOTH the materialize_pipeline and the
# materialize_with_spine oracles so the two can never drift apart.
_FEATLOG_CTES = f"""
            t AS ({_TRANSCRIPT_MAP_SQL}),
            feat0 AS (
              SELECT conv_id, turn_idx, role, ts,
                     LAG(role) OVER w AS prev_role,
                     LEAD(role) OVER w AS next_role,
                     ROUND((epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1e6, 6) AS gap_s,
                     LENGTH(COALESCE(text, '')) AS text_len,
                     CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS is_tool_call,
                     COUNT(*) OVER cum AS cum_turns,
                     (SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER cum)::BIGINT AS cum_tool_calls,
                     COUNT(*) OVER r AS w_turns,
                     (SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER r)::BIGINT AS w_tool_calls,
                     CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM t
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
                     cum AS (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     r AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
            ),
            featlog AS (
              SELECT conv_id, turn_idx, role, ts, prev_role, next_role, gap_s,
                     text_len, is_tool_call, cum_turns, cum_tool_calls,
                     w_turns, w_tool_calls,
                     ROUND(w_tool_calls::DOUBLE / w_turns, 6) AS w_tool_rate,
                     (SUM(new_sess) OVER (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
              FROM feat0
            )
"""


# --------------------------------------------------------------- entry ----

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full engine end to end — per-turn feature log
    (lag/lead + trailing windows + sessionization) AS-OF JOINED onto an
    entity spine (every assistant turn = one query point), returning
    point-in-time feature vectors (f_*) — the engine's reason to exist
    (north rule J3).  Oracle-gated as ``materialize_with_spine``."""
    return _materialize_with_spine(spark, SF0001)


def _materialize_with_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from featherstore_spark.plans.materialize import materialize

    t = _events_as_transcripts(_t(spark, sf_dir, "events"))
    spine = t.where(F.col("role") == "assistant").select("conv_id", "ts").distinct()
    out = materialize(t, spine, trailing="10 minutes", session_gap="30 minutes")
    return out.select(
        "conv_id", "ts", "f_ts", "f_turn_idx",
        "f_prev_role", "f_next_role",
        F.round("f_gap_s", 6).alias("f_gap_s"),
        "f_text_len", "f_is_tool_call", "f_cum_turns", "f_cum_tool_calls",
        "f_w_turns", "f_w_tool_calls",
        F.round("f_w_tool_rate", 6).alias("f_w_tool_rate"),
        "f_session_id",
    )


# -------------------------------------------------------------- queries ---
# Feature-engine operators over `events` (user_id ≙ entity, ts ≙ event time)

def q_latest_per_entity(spark, sf_dir):
    from featherstore_spark.operators.latest import latest_per_entity

    ev = _t(spark, sf_dir, "events")
    return latest_per_entity(ev, entity_col="user_id", ts_col="ts", tiebreak_cols=("event_id",))


def _asof_clicks_purchases(spark, sf_dir, strategy):
    from featherstore_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    feats = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id", "value")
    # bucket width sized so per-(entity, bucket) groups stay large enough
    # to amortize the Arrow/pandas per-group overhead (~150 users over ~1
    # month -> 7-day buckets ≈ 5 groups/user); correctness is width-
    # independent (boundary carry), only group granularity changes.
    # strategy="auto" exercises the data-driven width instead (measures the
    # hottest entity-day density and picks from a fixed grid).
    kw = {"strategy": "bucketed", "bucket": "auto"} if strategy == "auto" else {
        "strategy": strategy, "bucket": "7 days"}
    out = asof_join(spine, feats, on="user_id", ts="ts", tiebreaks=("event_id",), **kw)
    return out.select(
        "user_id", "ts", "event_id", "f_ts", "f_event_id",
        F.round("f_value", 4).alias("f_value"),
    )


def q_asof_join(spark, sf_dir):
    return _asof_clicks_purchases(spark, sf_dir, "window")


def q_asof_join_bucketed(spark, sf_dir):
    return _asof_clicks_purchases(spark, sf_dir, "bucketed")


def q_asof_join_auto(spark, sf_dir):
    """Bucketed as-of with the data-driven bucket width (auto-sized from
    the hottest entity-day density, featherstore_spark/operators/asof.py
    auto_bucket_width_us) — same oracle as the fixed-width strategies:
    the result is width-independent by construction."""
    return _asof_clicks_purchases(spark, sf_dir, "auto")


def q_asof_join_ttl(spark, sf_dir):
    """As-of with a feature TTL (operators/asof.py tolerance): a match
    staler than 3 days is nulled out, inclusive at the boundary — the
    online-store staleness rule, one post-match codegen projection.  The
    oracle restricts each correlated subquery to f.ts >= s.ts - 3 days."""
    from featherstore_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    feats = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        spine, feats, on="user_id", ts="ts", tiebreaks=("event_id",),
        tolerance="3 days",
    )
    return out.select(
        "user_id", "ts", "event_id", "f_ts", "f_event_id",
        F.round("f_value", 4).alias("f_value"),
    )


def q_history_scan(spark, sf_dir):
    from featherstore_spark.operators.latest import history

    ev = _t(spark, sf_dir, "events")
    return history(
        ev, 7, "2024-01-05 00:00:00", "2024-01-20 00:00:00",
        entity_col="user_id", ts_col="ts",
    )


def q_semi_join_entities(spark, sf_dir):
    from featherstore_spark.operators.latest import filter_entities

    ev = _t(spark, sf_dir, "events")
    error_users = ev.where(F.col("event_type") == "error").select("user_id")
    signups = ev.where(F.col("event_type") == "signup")
    return filter_entities(signups, error_users, "user_id")


def q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    from featherstore_spark.functions.time import epoch_us

    return ev.select(
        "user_id", "event_id", "event_type",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.round((epoch_us("ts") - epoch_us(F.lag("ts", 1).over(w))) / 1e6, 6).alias("gap_s"),
    )


def q_rolling_window(spark, sf_dir):
    from featherstore_spark.functions.time import epoch_us

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_us("ts")).rangeBetween(-3_600_000_000, 0)
    return ev.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("w_cnt"),
        F.round(F.sum("value").over(w), 4).alias("w_sum"),
    )


def q_tumbling_agg(spark, sf_dir):
    # deliberately NOT rebalanced (r6): the countDistinct Expand doubles
    # the rows a rebalance exchange would carry — measured 1.57 s without
    # vs 2.27 s with at sf1.0 (sliding_agg, without the Expand, keeps its
    # rebalance)
    ev = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return ev.groupBy(F.col("user_id"), win.start.alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("event_type").alias("n_types"),
    )


def q_sliding_agg(spark, sf_dir):
    from featherstore_spark.functions.text import balance_small_input

    # every event expands into width/slide = 4 windows before the partial
    # aggregate — map-side scan-stage work (estimate-gated rebalance,
    # no-op at scale)
    ev = balance_small_input(_t(spark, sf_dir, "events"))
    win = F.window(F.col("ts"), "1 hour", "15 minutes")
    return ev.groupBy(F.col("user_id"), win.start.alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def q_sessionize(spark, sf_dir):
    from featherstore_spark.operators.sessionize import sessionize
    from featherstore_spark.functions.time import epoch_us

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, entity_col="user_id", ts_col="ts", order_col=("ts", "event_id"), gap="2 hours")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round((epoch_us(F.max("ts")) - epoch_us(F.min("ts"))) / 1e6, 6).alias("duration_s"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_transition_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type", 1).over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("user_id", F.concat_ws("->", "prev_type", "event_type").alias("transition"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_event_type_pivot(spark, sf_dir):
    """A3 pivot form: per-user event-type histogram as fixed columns
    (explicit category list keeps the schema deterministic at any scale —
    never let pivot() infer categories from data)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


def q_materialize_pipeline(spark, sf_dir):
    """Full transcript pipeline, oracle-checked end-to-end."""
    from featherstore_spark.plans.materialize import build_feature_log

    t = _events_as_transcripts(_t(spark, sf_dir, "events"))
    log = build_feature_log(t, trailing="10 minutes", session_gap="30 minutes")
    return log.select(
        "conv_id", "turn_idx", "role", "prev_role", "next_role",
        F.round("gap_s", 6).alias("gap_s"),
        "text_len", "is_tool_call", "cum_turns", "cum_tool_calls",
        "w_turns", "w_tool_calls",
        F.round("w_tool_rate", 6).alias("w_tool_rate"),
        "session_id",
    )


def q_materialize_with_spine(spark, sf_dir):
    """Flagship shape: feature log as-of joined to an entity spine —
    point-in-time vectors at every assistant turn (north rule J3 + the
    leakage guarantee, oracle-checked end to end)."""
    return _materialize_with_spine(spark, sf_dir)


# ------------------------------------------------------------ TPC-H core --

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1997-01-01"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1997-01-01"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_revenue_forecast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )
    return out


def q_top_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
        .limit(10)
    )


def q_nation_rollup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


def q_anti_join_entities(spark, sf_dir):
    """U-family: EXCEPT semantics via left_anti — signups of users who
    never errored (SURVEY §2.7: absent in reference, built-in in Spark)."""
    ev = _t(spark, sf_dir, "events")
    error_users = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    return (
        ev.where(F.col("event_type") == "signup")
        .join(F.broadcast(error_users), "user_id", "left_anti")
    )


def q_intersect_entities(spark, sf_dir):
    """INTERSECT: users who both clicked and purchased."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(buyers)


def q_rollup_aggregates(spark, sf_dir):
    """Hierarchical rollup (grouping sets) — subtotals + grand total in one
    pass; Catalyst expands to a single shuffle with partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_union_sources(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", F.lit("clickstream").alias("src")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", F.lit("errorlog").alias("src")
    )
    return clicks.unionByName(errors)


# ----------------------------------------------------- text / documents ---

def q_text_stats(spark, sf_dir):
    from featherstore_spark.functions.text import text_stats, fingerprint

    docs = _t(spark, sf_dir, "documents")
    return text_stats(docs).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "n_punct", "n_stopwords",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        fingerprint("text").alias("fp"),
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 table A1, adapted):
    duplicate-line fractions + top/duplicated word-n-gram char fractions
    per document — the repetition dimension of corpus quality scoring
    that length/punctuation heuristics (q_text_stats) cannot see."""
    from featherstore_spark.functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", top_n=2, dup_n=3)


def q_chunk_documents(spark, sf_dir):
    """Fixed-size overlapping chunking (text.chunk_documents) — the
    RAG/context-window prep step: 120-char chunks, 20-char overlap, every
    chunk byte-checked against the DuckDB twin (pure sequence+substring
    arithmetic, zero shuffle)."""
    from featherstore_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_chars=120, overlap=20)


def q_c4_line_clean(spark, sf_dir):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2, adapted): keep
    ≥5-word terminal-punctuated lines, drop javascript lines, flag docs
    hitting the boilerplate blocklist or left with <3 lines."""
    from featherstore_spark.functions.text import c4_line_clean

    docs = _t(spark, sf_dir, "documents")
    return c4_line_clean(docs, "doc_id", "text")


def q_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixing sample: per-language keep rates over a
    pure (doc_id, seed) md5 coin — the same rows on every run, every
    partitioning, and in the DuckDB twin."""
    from featherstore_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, SAMPLE_RATES, key_col="doc_id", strata_col="lang", seed=42
    ).select("doc_id", "lang")


def q_dataset_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment by md5 hash range — a key
    lands in the same split across corpus versions by construction."""
    from featherstore_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents")
    return split_assign(
        docs, key_col="doc_id", weights=SPLIT_WEIGHTS, names=SPLIT_NAMES, seed=7
    ).select("doc_id", "split")


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (GPT-style pretraining batch
    assembly): documents laid head-to-tail into fixed-size windows over
    hash-disjoint parallel streams — one window cumsum per stream, no
    UDF, deterministic (stream, bin, offset) for every doc."""
    from featherstore_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(
        docs, size_col="n_chars", capacity=PACK_CAPACITY, key_col="doc_id",
        n_streams=PACK_STREAMS, seed=11,
    ).select("doc_id", "stream", "bin_id", "bin_offset", "n_bins")


PACK_CAPACITY = 4096
PACK_STREAMS = 8

SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.0625}
SPLIT_WEIGHTS = (0.8, 0.1, 0.1)
SPLIT_NAMES = ("train", "val", "test")


def q_top_ngrams(spark, sf_dir):
    """Corpus-wide top word bigrams (vocabulary induction / boilerplate
    discovery): one map-combinable gram aggregate + distributed top-k."""
    from featherstore_spark.functions.text import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, "text", n=2, top_k=50, min_count=2)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination summary: per training doc that shares
    ≥ DECON_MIN_SHARED winnowing fingerprints with any 'benchmark' doc
    (source 'src0' plays the eval set), how many benchmark docs it hits
    and how hard — the report a decontamination pass acts on."""
    from featherstore_spark.operators.dedup import cross_corpus_overlap

    docs = _t(spark, sf_dir, "documents")
    pairs = cross_corpus_overlap(
        docs.where(F.col("source") != DECON_BENCH_SOURCE),
        docs.where(F.col("source") == DECON_BENCH_SOURCE),
        min_shared=DECON_MIN_SHARED,
        max_fp_docs=DECON_MAX_FP_DOCS,
    )
    return pairs.groupBy(F.col("corpus_id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_docs"),
        F.max("shared_fps").cast("long").alias("max_shared"),
        F.sum("shared_fps").cast("long").alias("total_shared"),
    )


DECON_BENCH_SOURCE = "src0"
DECON_MIN_SHARED = 10
DECON_MAX_FP_DOCS = 50


def q_bloom_decontaminate(spark, sf_dir):
    """Broadcast-Bloom decontamination prefilter (operators/dedup.
    bloom_decontaminate_candidates): the benchmark side's winnowing
    fingerprints compress into an 8 KiB md5-derived Bloom filter inlined
    as a literal; the training side is one zero-shuffle fingerprint pass
    + a codegen probe + a map-combinable per-doc hit count — the corpus
    never shuffles on account of the benchmark.  No false negatives
    (every exact-overlap doc is in the candidate set; tested), and the
    filter words + probe verdicts are bit-identical in the DuckDB twin."""
    from featherstore_spark.operators.dedup import bloom_decontaminate_candidates

    docs = _t(spark, sf_dir, "documents")
    return bloom_decontaminate_candidates(
        docs.where(F.col("source") != DECON_BENCH_SOURCE),
        docs.where(F.col("source") == DECON_BENCH_SOURCE),
        min_hits=DECON_MIN_SHARED,
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails/SSNs/IPv4/phones → <TYPE> tokens) with
    per-type counts — precedence-ordered replace chain, codegen only."""
    from featherstore_spark.functions.text import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    return pii_scrub(docs, "doc_id", "text")


def q_lang_id(spark, sf_dir):
    from featherstore_spark.functions.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_interval_join(spark, sf_dir):
    """Range join expressed as an equi-join: each purchase opens a
    30-minute promo window; clicks land in windows via bucket-explode +
    (user, bucket) equi-join + exact range filter — no nested loop, no
    cartesian (operators/interval.py; plan-asserted)."""
    from featherstore_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    iv = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        F.col("event_id").alias("promo_id"),
    )
    pts = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = interval_join(pts, iv, on="user_id", width="1 hour")
    return out.select(
        "user_id", "ts", "event_id",
        F.round("value", 4).alias("value"),
        "start_ts", "end_ts", "promo_id",
    )


def q_cascade_rollup(spark, sf_dir):
    """Hypertable continuous-aggregate cascade: 1m partials from ONE raw
    scan, 1h from the 1m partials, 1d from the 1h partials (mergeable
    count/sum/min/max; avg derived at read).  The oracle computes every
    level DIRECTLY from raw rows, so the hash compare proves
    cascade == direct (operators/rollup.py)."""
    from featherstore_spark.operators.rollup import cascade_rollup

    ev = _t(spark, sf_dir, "events")
    return cascade_rollup(
        ev, ts_col="ts", keys=["event_type"], value_col="value",
        levels=("1 minute", "1 hour", "1 day"),
    )


def q_profile_table(spark, sf_dir):
    """Data-card profiler (plans/profile.py): per-column row counts,
    null counts, KMV distinct estimates, engine-stable min/max
    renderings and integer means over events — TWO linear map-combinable
    passes total (one wide agg + one Arrow KMV pass), no per-column
    jobs, no count-distinct Expand blow-up.  Float mean/distinct are
    NULL by design (not value-checkable cross-engine; the histogram
    sketch covers numeric distributions)."""
    from featherstore_spark.plans.profile import profile_table

    ev = _t(spark, sf_dir, "events")
    return profile_table(ev, k=128)


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch (deterministic alternative to HLL —
    value-checkable across engines): distinct users per event_type via
    the k=64 smallest md5 hashes; bounded O(k) state per key end to end
    (operators/sketch.py)."""
    from featherstore_spark.operators.sketch import kmv_distinct

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return kmv_distinct(ev, keys="event_type", col="user_id", k=64)


def q_temperature_resample(spark, sf_dir):
    """Temperature-based domain mixing (sampling.temperature_resample):
    per-language share moves p^(1/T)/Z with T=2, realized
    deterministically as floor(m) copies + md5-coin fractional copy.
    Full SQL twin recomputes counts, pow and integer thresholds."""
    from featherstore_spark.operators.sampling import temperature_resample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_resample(docs, "lang", temperature=2.0)
    return out.select("doc_id", "lang", "rep_idx")


def q_tokenize_ids(spark, sf_dir):
    """Corpus-induced vocab encoding (text.tokenize_ids): BPE-ish lexer
    → top-V vocab by (count DESC, token ASC) → per-doc id arrays via
    posexplode + broadcast join + ordered reassembly; OOV encodes as V.
    The twin recomputes the identical vocab and arrays."""
    from featherstore_spark.functions.text import tokenize_ids

    docs = _t(spark, sf_dir, "documents")
    return tokenize_ids(docs, vocab_size=512)


def q_histogram_quantiles(spark, sf_dir):
    """Deterministic fixed-bin histogram quantiles (the value-checkable
    stand-in for KLL/t-digest/percentile_approx, none of which agree
    across engines): global exact bin edges, map-combinable bin counts,
    per-key cumsum over <= bins rows (operators/sketch.py)."""
    from featherstore_spark.operators.sketch import histogram_quantiles

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(ev, keys="event_type", col="value", qs=(0.5, 0.95, 0.99), bins=128)


def q_quality_classifier(spark, sf_dir):
    """fastText-shaped hashed-unigram linear quality scorer — the
    inference plumbing of a learned classifier (tokenize → hash →
    weight → mean → threshold) with md5-derived deterministic weights;
    zero shuffle, full SQL twin."""
    from featherstore_spark.functions.text import quality_classifier

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier(docs, threshold=0.0)


def q_char_lm_ppl(spark, sf_dir):
    """CCNet-style perplexity quality signal: char-bigram LM trained on
    the corpus in one map-combinable pass, docs scored by explode →
    broadcast vocab join → map-combinable doc groupBy.  The twin
    recomputes vocab + formula from the same integers."""
    from featherstore_spark.functions.text import char_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    return char_bigram_lm(docs, vocab_size=256)


def q_exact_dedup(spark, sf_dir):
    from featherstore_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs)


def q_exact_substring_dedup(spark, sf_dir):
    """Exact duplicated-substring removal (Lee et al. 2021 ExactSubstr,
    dedup.drop_duplicate_spans): every 40+-char run occurring more than
    once in the corpus is cut from all but its canonical occurrence —
    the boilerplate/template scrub doc-level dedup cannot do.  The full
    rebuilt clean_text is hash-verified against the DuckDB twin, so the
    span arithmetic (gram lattice → island merge → complement
    reconstruction) is value-checked byte for byte."""
    from featherstore_spark.operators.dedup import drop_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return drop_duplicate_spans(docs, min_len=40)


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprints (winnowing, SIGMOD'03) — the
    partial-copy detection primitive exact/minhash dedup both lack.
    ZERO-shuffle scale path (functions/text.winnow_fingerprint_set):
    fingerprint sets come out of one vectorized pandas UDF computed where
    the text lives (numpy sliding-window minimum; no explode, no window
    exchange, no groupBy — the digest reads the sorted array directly).
    The per-doc digest (count, min, max, xor) pins the ENTIRE selected
    set value-wise against the SQL twin, order-independently."""
    from featherstore_spark.functions.text import (
        balance_small_input,
        winnow_fingerprint_set,
    )

    docs = balance_small_input(_t(spark, sf_dir, "documents"))
    fps = docs.select(
        "doc_id", winnow_fingerprint_set("text", k=8, w=4).alias("fps")
    )
    # `fps` is an ArrowEvalPython output attribute: referencing it four
    # times below evaluates the UDF ONCE (unlike plain expressions, which
    # CollapseProject would re-inline per reference).
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("fp_min"),
        F.array_max("fps").alias("fp_max"),
        F.aggregate(
            "fps", F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x)
        ).alias("fp_xor"),
    )


def q_dedup_groups(spark, sf_dir):
    """Near-dup GROUPS: minhash pairs (threshold 0.9) collapsed to
    connected components, one (doc_id, group_id=min id in component) row
    per paired doc (operators/dedup.connected_components — alternating
    large-star/small-star contraction, O(log diameter) rounds,
    localCheckpoint lineage truncation per round).  Transitive closure
    is the point: chained near-dups (A~B~C without A~C) must share one
    group.  Oracle: DuckDB WITH RECURSIVE transitive closure over the
    same pairs SQL."""
    from featherstore_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.9)
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "group_id"
    )


def q_char_ngram_jaccard(spark, sf_dir):
    """Character-3-gram Jaccard near-dup pairs (dedup.char_ngram_jaccard
    _pairs): token-free similarity — robust to whitespace damage and
    unsegmented languages — blocked on the lang column to bound the pair
    space.  Gram sets ride the zero-shuffle winnowing pandas kernel with
    w=1 (every distinct gram hash); the 8-byte int sets keep the pair
    join narrow."""
    from featherstore_spark.operators.dedup import char_ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return char_ngram_jaccard_pairs(docs, n=3, threshold=0.6, block_col="lang")


def q_winnow_near_dups(spark, sf_dir):
    """Partial-copy pair detection over winnowing fingerprints
    (operators/dedup.winnow_near_duplicates): docs sharing >= 20 selected
    k-gram hashes, after the map-combinable hot-fp cap drops boilerplate
    fingerprints present in > 50 docs.  Scale shape: zero-shuffle pandas
    fingerprint sets -> partial-aggregated frequency cap (broadcast
    anti-join, never a key-partitioned window) -> 8-byte-fp equi-join."""
    from featherstore_spark.operators.dedup import winnow_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return winnow_near_duplicates(docs, min_shared=20, max_fp_docs=50)


#: the "today's ingest" shard for the incremental-dedup contract query
INCR_NEW_SOURCE = "src19"


def q_incremental_dedup(spark, sf_dir):
    """Incremental near-dup detection (operators/dedup.
    incremental_near_duplicates): docs from source 'src19' play the
    newly-ingested batch, every other source the already-indexed corpus
    (dedup.build_fingerprint_index).  The corpus side contributes ONE
    map-side probe of its (8-byte fp, id) index rows — broadcast
    left_semi on the new batch's fingerprints, never a corpus shuffle or
    re-fingerprint — and the hot-fp cap sums doc frequencies across BOTH
    sides, so the result is bit-identical to re-running
    winnow_near_duplicates on the full corpus and keeping pairs that
    touch the batch (the oracle computes it exactly that way)."""
    from featherstore_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("source") == INCR_NEW_SOURCE)
    idx_rows, idx_stats = build_fingerprint_index(
        docs.where(F.col("source") != INCR_NEW_SOURCE)
    )
    return incremental_near_duplicates(
        new, idx_rows, idx_stats, min_shared=20, max_fp_docs=50
    )


def q_jaccard_pairs(spark, sf_dir):
    """Exact-Jaccard verification fed by MinHash-LSH candidates — the
    100 TB shape (two equi-joins, no crossJoin; plan asserted in
    tests/test_plan_quality.py).  The oracle recomputes the identical
    candidate set in SQL (md5-based minhash, functions/hashing.py)."""
    from featherstore_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=32, shingle_n=3)
    cands = lsh_candidate_pairs(sigs, bands=8, rows_per_band=4)
    return jaccard_pairs(docs, threshold=0.8, candidates=cands)


def q_corpus_clean_pipeline(spark, sf_dir):
    """Composite training-data pipeline: exact-dedup -> quality filter ->
    per-doc stats (the shape of a C4/Gopher-style cleaning pass)."""
    from featherstore_spark.functions.text import text_stats
    from featherstore_spark.operators.dedup import drop_exact_duplicates

    docs = drop_exact_duplicates(_t(spark, sf_dir, "documents"))
    return (
        text_stats(docs)
        .where(F.col("quality_score") >= 0.8)
        .select("doc_id", "lang", "n_tokens", "quality_score")
    )


def q_media_byte_stats(spark, sf_dir):
    from featherstore_spark.functions.multimodal import decode_media, documents_as_media

    docs = _t(spark, sf_dir, "documents")
    return decode_media(documents_as_media(docs), decoder="fake").select(
        "media_id", "byte_len", "payload_md5"
    )


def q_media_decode_dims(spark, sf_dir):
    """REAL image decode under the value-checked contract: each
    document's utf-8 bytes are wrapped JVM-side into a valid one-row
    binary PGM payload (``P5 <w> 1 255\\n`` + bytes), then decoded by
    the REAL netpbm parser through mapInPandas
    (functions/multimodal.decode_media, decoder='ppm').  The oracle
    recomputes every output as a pure function of octet_length — the
    decoder must report width=n_bytes, height=1, channels=1, and NULL
    dims for empty/null texts (a zero-width header is malformed), so a
    parser regression breaks the hash."""
    from featherstore_spark.functions.multimodal import decode_media

    docs = _t(spark, sf_dir, "documents")
    body = F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
    n = F.length(body)
    header = F.encode(
        F.concat(F.lit("P5 "), n.cast("string"), F.lit(" 1 255\n")), "utf-8"
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(header, body).alias("payload"),
        F.lit("image/x-portable-graymap").alias("mime"),
        F.lit(None).cast("string").alias("source_uri"),
    )
    return decode_media(media, decoder="ppm").select(
        "media_id", "byte_len", "width", "height", "channels"
    )


# ------------------------------------------------------------ embeddings --

def q_cosine_topk(spark, sf_dir):
    from featherstore_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    out = cosine_topk(queries_df, emb, k=3)
    # the operator already rounds to 6; NEVER re-round a rounded value —
    # a second rounding lands on exact decimal half-way points where
    # engines resolve the binary tie differently
    return out.select("query_id", "neighbor_id", "cosine")


def q_embedding_near_dups(spark, sf_dir):
    """Cosine near-dups blocked on a single-table LSH sign bucket — the
    pair space is bounded per bucket (no crossJoin; plan asserted).  The
    oracle recomputes the identical Rademacher buckets in SQL."""
    from featherstore_spark.operators.dedup import embedding_near_duplicates
    from featherstore_spark.operators.similarity import lsh_bucket_ids

    emb = _t(spark, sf_dir, "embeddings")
    blocked = lsh_bucket_ids(emb, n_planes=6, n_tables=1, dim=64).withColumn(
        "blk", F.element_at("bucket", 1)
    )
    out = embedding_near_duplicates(blocked, threshold=0.35, block_col="blk")
    return out.select("id_a", "id_b", "cosine")  # single round-6, see cosine_topk note


# ------------------- hash-pipeline queries (md5-based => full SQL oracles) --

def q_minhash_near_dups(spark, sf_dir):
    from featherstore_spark.operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.9)


def q_simhash_near_dups(spark, sf_dir):
    from featherstore_spark.operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, max_hamming=3)


def q_ivf_ann_topk(spark, sf_dir):
    from featherstore_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_ann_topk(emb.where(F.col("vec_id") < 5), emb, k=3, n_centroids=16, n_probes=6)


def q_lsh_ann_topk(spark, sf_dir):
    from featherstore_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb.where(F.col("vec_id") < 5), emb, k=3, n_planes=4, n_tables=12)


def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/similarity.pq_ann_topk):
    per-subspace fixed-point k-means codebooks (md5-rank seeds, exact
    integer Lloyd rounds), corpus compressed to m=4 codes, per-query
    integer distance tables, scoring = m lookups+adds over the CODES
    table only — the raw vectors never enter the scan.  All-integer
    output, so the unrolled per-subspace DuckDB twin matches
    bit-for-bit — a value-checked distributed PQ index, not rows-only."""
    from featherstore_spark.operators.similarity import pq_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_ann_topk(emb.where(F.col("vec_id") < 5), emb, k=3, m=4, ks=8, iters=2)


def q_kmeans_clusters(spark, sf_dir):
    """Deterministic fixed-point k-means (operators/clustering.py):
    md5-rank seeds, 2 exact integer Lloyd rounds, argmin assignment with
    (distance, cid) tie-break.  All-integer output, so the unrolled-
    iteration DuckDB twin matches bit-for-bit — a value-checked
    distributed k-means, not a rows-only one."""
    from featherstore_spark.operators.clustering import kmeans_fit_assign

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_fit_assign(emb, k=8, iters=2)
    return assigned.select("vec_id", "cluster_id")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means clusters as the blocking
    structure, then drop any vector with a >= 0.35 rounded-cosine
    lower-id neighbor in the SAME cluster (min-id representative).  The
    within-cluster self-join is an equi-join on cluster_id — no
    crossJoin, no corpus broadcast."""
    from featherstore_spark.operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iters=2, threshold=0.35)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # feature engine (SURVEY §2: J1/J3/J4, P1/P3, W1-W4, A1-A4, O1/O2, U1)
        "latest_per_entity": q_latest_per_entity,
        "asof_join": q_asof_join,
        "asof_join_bucketed": q_asof_join_bucketed,
        "asof_join_auto": q_asof_join_auto,
        "asof_join_ttl": q_asof_join_ttl,
        "history_scan": q_history_scan,
        "semi_join_entities": q_semi_join_entities,
        "lag_lead": q_lag_lead,
        "rolling_window": q_rolling_window,
        "tumbling_agg": q_tumbling_agg,
        "sliding_agg": q_sliding_agg,
        "sessionize": q_sessionize,
        "transition_counts": q_transition_counts,
        "event_type_pivot": q_event_type_pivot,
        "materialize_pipeline": q_materialize_pipeline,
        "materialize_with_spine": q_materialize_with_spine,
        # joins/aggregates breadth (TPC-H-ish)
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
        "revenue_forecast": q_revenue_forecast,
        "top_customers": q_top_customers,
        "nation_rollup": q_nation_rollup,
        "union_sources": q_union_sources,
        "rollup_aggregates": q_rollup_aggregates,
        "anti_join_entities": q_anti_join_entities,
        "intersect_entities": q_intersect_entities,
        # training-data ops
        "text_stats": q_text_stats,
        "gopher_repetition": q_gopher_repetition,
        "c4_line_clean": q_c4_line_clean,
        "chunk_documents": q_chunk_documents,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "bloom_decontaminate": q_bloom_decontaminate,
        "top_ngrams": q_top_ngrams,
        "stratified_sample": q_stratified_sample,
        "dataset_split": q_dataset_split,
        "pack_sequences": q_pack_sequences,
        "lang_id": q_lang_id,
        "quality_classifier": q_quality_classifier,
        "char_lm_ppl": q_char_lm_ppl,
        "interval_join": q_interval_join,
        "cascade_rollup": q_cascade_rollup,
        "kmv_distinct": q_kmv_distinct,
        "profile_table": q_profile_table,
        "histogram_quantiles": q_histogram_quantiles,
        "tokenize_ids": q_tokenize_ids,
        "temperature_resample": q_temperature_resample,
        "exact_dedup": q_exact_dedup,
        "exact_substring_dedup": q_exact_substring_dedup,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_near_dups": q_winnow_near_dups,
        "incremental_dedup": q_incremental_dedup,
        "char_ngram_jaccard": q_char_ngram_jaccard,
        "dedup_groups": q_dedup_groups,
        "jaccard_pairs": q_jaccard_pairs,
        "corpus_clean_pipeline": q_corpus_clean_pipeline,
        "media_byte_stats": q_media_byte_stats,
        "media_decode_dims": q_media_decode_dims,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dups": q_embedding_near_dups,
        # scale-path approximations — md5-based hashing (functions/
        # hashing.py) makes the full pipelines recomputable in DuckDB,
        # so these are value-checked end to end, not rows-only
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "pq_ann_topk": q_pq_ann_topk,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "latest_per_entity": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "asof_join": _ASOF_ORACLE,
        "asof_join_bucketed": _ASOF_ORACLE,
        "asof_join_auto": _ASOF_ORACLE,
        "asof_join_ttl": """
            SELECT s.user_id, s.ts, s.event_id,
              (SELECT f.ts FROM events f
                WHERE f.user_id = s.user_id AND f.event_type = 'purchase'
                  AND f.ts <= s.ts AND f.ts >= s.ts - INTERVAL 3 DAY
                ORDER BY f.ts DESC, f.event_id DESC LIMIT 1) AS f_ts,
              (SELECT f.event_id FROM events f
                WHERE f.user_id = s.user_id AND f.event_type = 'purchase'
                  AND f.ts <= s.ts AND f.ts >= s.ts - INTERVAL 3 DAY
                ORDER BY f.ts DESC, f.event_id DESC LIMIT 1) AS f_event_id,
              (SELECT ROUND(f.value, 4) FROM events f
                WHERE f.user_id = s.user_id AND f.event_type = 'purchase'
                  AND f.ts <= s.ts AND f.ts >= s.ts - INTERVAL 3 DAY
                ORDER BY f.ts DESC, f.event_id DESC LIMIT 1) AS f_value
            FROM events s WHERE s.event_type = 'click'
        """,
        "history_scan": """
            SELECT * FROM events
            WHERE user_id = 7
              AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
        """,
        "semi_join_entities": """
            SELECT * FROM events
            WHERE event_type = 'signup'
              AND user_id IN (SELECT user_id FROM events WHERE event_type = 'error')
        """,
        "lag_lead": """
            SELECT user_id, event_id, event_type,
                   LAG(event_type) OVER w AS prev_type,
                   LEAD(event_type) OVER w AS next_type,
                   ROUND((epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1e6, 6) AS gap_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "rolling_window": """
            SELECT user_id, event_id,
                   COUNT(*) OVER w AS w_cnt,
                   ROUND(SUM(value) OVER w, 4) AS w_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "tumbling_agg": """
            SELECT user_id,
                   time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value,
                   COUNT(DISTINCT event_type) AS n_types
            FROM events GROUP BY 1, 2
        """,
        "sliding_agg": """
            WITH g AS (SELECT UNNEST(generate_series(0, 3)) AS k)
            SELECT user_id,
                   time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS window_start,
                   COUNT(*) AS n_events
            FROM events, g
            GROUP BY 1, 2
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN epoch_us(ts) - epoch_us(
                            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          ) > 7200000000 THEN 1 ELSE 0 END AS new_sess
              FROM events
            ), sess AS (
              SELECT user_id, ts, value,
                     (SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1e6, 6) AS duration_s,
                   ROUND(SUM(value), 4) AS sum_value
            FROM sess GROUP BY 1, 2
        """,
        "transition_counts": """
            WITH lagged AS (
              SELECT user_id, event_type,
                     LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
              FROM events
            )
            SELECT user_id, prev_type || '->' || event_type AS transition, COUNT(*) AS n
            FROM lagged WHERE prev_type IS NOT NULL GROUP BY 1, 2
        """,
        "event_type_pivot": """
            SELECT user_id,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
                   SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error
            FROM events GROUP BY user_id
        """,
        "materialize_pipeline": """
            WITH __FEATLOG__
            SELECT conv_id, turn_idx, role, prev_role, next_role, gap_s,
                   text_len, is_tool_call, cum_turns, cum_tool_calls,
                   w_turns, w_tool_calls, w_tool_rate, session_id
            FROM featlog
        """.replace("__FEATLOG__", _FEATLOG_CTES),
        "materialize_with_spine": """
            WITH __FEATLOG__,
            spine AS (SELECT DISTINCT conv_id, ts FROM t WHERE role = 'assistant'),
            j AS (
              SELECT s.conv_id, s.ts,
                     f.ts AS f_ts, f.turn_idx AS f_turn_idx,
                     f.prev_role AS f_prev_role, f.next_role AS f_next_role,
                     f.gap_s AS f_gap_s, f.text_len AS f_text_len,
                     f.is_tool_call AS f_is_tool_call, f.cum_turns AS f_cum_turns,
                     f.cum_tool_calls AS f_cum_tool_calls, f.w_turns AS f_w_turns,
                     f.w_tool_calls AS f_w_tool_calls, f.w_tool_rate AS f_w_tool_rate,
                     f.session_id AS f_session_id,
                     ROW_NUMBER() OVER (PARTITION BY s.conv_id, s.ts
                       ORDER BY f.ts DESC, f.turn_idx DESC) AS rn
              FROM spine s LEFT JOIN featlog f
                ON f.conv_id = s.conv_id AND f.ts <= s.ts
            )
            SELECT conv_id, ts, f_ts, f_turn_idx, f_prev_role, f_next_role,
                   f_gap_s, f_text_len, f_is_tool_call, f_cum_turns,
                   f_cum_tool_calls, f_w_turns, f_w_tool_calls,
                   f_w_tool_rate, f_session_id
            FROM j WHERE rn = 1
        """.replace("__FEATLOG__", _FEATLOG_CTES),
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders": """
            SELECT o_orderkey, o_orderdate,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_shipdate > TIMESTAMP '1997-01-01'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "revenue_forecast": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "top_customers": """
            SELECT c_custkey, c_name, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_spent
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_spent DESC, c_custkey
            LIMIT 10
        """,
        "nation_rollup": """
            SELECT r_name, COUNT(*) AS n_customers,
                   ROUND(AVG(c_acctbal), 4) AS avg_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "rollup_aggregates": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "union_sources": """
            SELECT user_id, event_id, 'clickstream' AS src FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, event_id, 'errorlog' AS src FROM events WHERE event_type = 'error'
        """,
        "anti_join_entities": """
            SELECT * FROM events
            WHERE event_type = 'signup'
              AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'error')
        """,
        "intersect_entities": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "text_stats": _TEXT_STATS_ORACLE,
        "gopher_repetition": _GOPHER_REPETITION_ORACLE,
        "c4_line_clean": _C4_LINE_CLEAN_ORACLE,
        "chunk_documents": """
            -- twin of text.chunk_documents(chunk_chars=120, overlap=20):
            -- stride 100; chunk i = substr(t, i*100+1, 120); n_chunks =
            -- 1 + ceil(max(len-120, 0)/100); empty/NULL -> one empty chunk
            WITH base AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
            n AS (SELECT doc_id, t,
                         (1 + ceil(greatest(length(t) - 120, 0) / 100.0))::BIGINT AS n_chunks
                  FROM base),
            ch AS (SELECT doc_id, t, n_chunks,
                          unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
                   FROM n)
            SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
                   substr(t, (chunk_idx * 100 + 1)::INT, 120) AS chunk_text,
                   n_chunks
            FROM ch
        """,
        "pii_scrub": _PII_SCRUB_ORACLE,
        "decontaminate": _DECONTAMINATE_ORACLE,
        "bloom_decontaminate": _build_bloom_decon_oracle(
            k=8, w=4, min_hits=DECON_MIN_SHARED, bench_source=DECON_BENCH_SOURCE
        ),
        "top_ngrams": r"""
            WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
            tk AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                          ELSE list_transform(string_split_regex(trim(text), '\s+'),
                                              x -> lower(x))
                     END AS tokl
              FROM d
            ),
            gr AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(tokl)),
                                           i -> tokl[i] || ' ' || tokl[i+1])) AS gram
              FROM tk
            )
            SELECT gram,
                   COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
                   COUNT(*)::BIGINT AS n_occurrences
            FROM gr GROUP BY 1 HAVING COUNT(*) >= 2
            ORDER BY n_occurrences DESC, gram ASC LIMIT 50
        """,
        "stratified_sample": _SAMPLING_ORACLES["stratified_sample"],
        "dataset_split": _SAMPLING_ORACLES["dataset_split"],
        "pack_sequences": _SAMPLING_ORACLES["pack_sequences"],
        "lang_id": _LANG_ORACLE,
        "quality_classifier": _build_quality_classifier_oracle(threshold=0.0),
        "char_lm_ppl": _build_char_lm_oracle(vocab_size=256),
        "cascade_rollup": _build_cascade_rollup_oracle(),
        "kmv_distinct": _build_kmv_oracle(k=64),
        "profile_table": _build_profile_oracle(k=128),
        "histogram_quantiles": _build_histogram_quantiles_oracle(bins=128),
        "tokenize_ids": _build_tokenize_ids_oracle(vocab_size=512),
        "temperature_resample": _build_temperature_resample_oracle(temperature=2.0),
        "interval_join": """
            SELECT p.user_id, p.ts, p.event_id, ROUND(p.value, 4) AS value,
                   i.start_ts, i.end_ts, i.promo_id
            FROM (SELECT user_id, ts, event_id, value FROM events
                  WHERE event_type = 'click') p
            JOIN (SELECT user_id, ts AS start_ts,
                         ts + INTERVAL 30 MINUTE AS end_ts,
                         event_id AS promo_id
                  FROM events WHERE event_type = 'purchase') i
              ON p.user_id = i.user_id
             AND p.ts >= i.start_ts AND p.ts <= i.end_ts
        """,
        "exact_dedup": r"""
            SELECT md5(lower(regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "exact_substring_dedup": _EXACT_SUBSTRING_ORACLE,
        "winnow_fingerprints": _WINNOW_ORACLE,
        "winnow_near_dups": _WINNOW_PAIRS_ORACLE,
        "incremental_dedup": _build_incremental_dedup_oracle(
            k=8, w=4, min_shared=20, max_fp_docs=50, new_source=INCR_NEW_SOURCE
        ),
        "char_ngram_jaccard": _CHAR_NGRAM_JACCARD_ORACLE,
        "dedup_groups": _build_dedup_groups_oracle(threshold=0.9),
        "jaccard_pairs": _build_minhash_pairs_oracle(threshold=0.8),
        "corpus_clean_pipeline": _CLEAN_PIPELINE_ORACLE,
        "media_byte_stats": """
            -- engine null semantics: null payload -> byte_len 0, md5 NULL
            -- (multimodal.decode_media)
            SELECT doc_id AS media_id,
                   octet_length(encode(coalesce(text, '')))::BIGINT AS byte_len,
                   md5(text) AS payload_md5
            FROM documents
        """,
        "media_decode_dims": """
            -- twin of the REAL netpbm decode over engine-built PGM
            -- payloads: dims are pure functions of the utf-8 byte
            -- length; empty/null text -> zero-width header -> NULL dims
            -- (byte_len = header '3 + digits + 7' + body)
            SELECT doc_id AS media_id,
                   (10 + length(n::VARCHAR) + n)::BIGINT AS byte_len,
                   CASE WHEN n > 0 THEN n::INTEGER END AS width,
                   CASE WHEN n > 0 THEN 1::INTEGER END AS height,
                   CASE WHEN n > 0 THEN 1::INTEGER END AS channels
            FROM (SELECT doc_id,
                         octet_length(encode(coalesce(text, ''))) AS n
                  FROM documents)
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              -- rank by the 6-decimal-rounded cosine (the operator's output)
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC, e.vec_id) AS rn
              FROM q JOIN embeddings e ON e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, cosine FROM scored WHERE rn <= 3
        """,
        "embedding_near_dups": _build_embedding_blocked_oracle(threshold=0.35, n_planes=6),
        # hash-pipeline twins (md5-based -> fully recomputable in DuckDB)
        "minhash_near_dups": _build_minhash_pairs_oracle(threshold=0.9),
        "simhash_near_dups": _build_simhash_oracle(max_hamming=3),
        "lsh_ann_topk": _build_lsh_ann_oracle(k=3, n_planes=4, n_tables=12),
        "ivf_ann_topk": _build_ivf_ann_oracle(k=3, n_centroids=16, n_probes=6),
        "pq_ann_topk": _build_pq_oracle(m=4, ks=8, iters=2, k=3),
        "kmeans_clusters": _build_kmeans_oracle(k=8, iters=2),
        "semantic_dedup": _build_semantic_dedup_oracle(k=8, iters=2, threshold=0.35),
    }


# Shared oracle texts ---------------------------------------------------------

_ASOF_ORACLE = """
    SELECT s.user_id, s.ts, s.event_id,
      (SELECT f.ts FROM events f
        WHERE f.user_id = s.user_id AND f.event_type = 'purchase' AND f.ts <= s.ts
        ORDER BY f.ts DESC, f.event_id DESC LIMIT 1) AS f_ts,
      (SELECT f.event_id FROM events f
        WHERE f.user_id = s.user_id AND f.event_type = 'purchase' AND f.ts <= s.ts
        ORDER BY f.ts DESC, f.event_id DESC LIMIT 1) AS f_event_id,
      (SELECT ROUND(f.value, 4) FROM events f
        WHERE f.user_id = s.user_id AND f.event_type = 'purchase' AND f.ts <= s.ts
        ORDER BY f.ts DESC, f.event_id DESC LIMIT 1) AS f_value
    FROM events s WHERE s.event_type = 'click'
"""

def _winnow_mins_cte(k: int = 8, w: int = 4) -> str:
    """Shared CTE chain computing per-doc winnowing fingerprint SETS in
    DuckDB — the SQL twin of functions/text.winnow_fingerprint_set
    (normalize → k-gram → md5_long60 → window-min → distinct as list
    comprehensions).  Validated cell-identical to a pure-hashlib python
    reference; consumed by both the digest oracle and the pairs oracle."""
    return rf"""base AS (
          SELECT doc_id,
                 lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))) AS s
          FROM documents
        ), g AS (
          SELECT doc_id, s,
                 CASE WHEN length(s) = 0 THEN 0
                      ELSE greatest(length(s) - {k - 1}, 1) END AS n
          FROM base
        ), h AS (
          SELECT doc_id, n,
                 CASE WHEN n >= 1 THEN
                   list_transform(range(1, n + 1),
                     i -> ('0x' || substring(md5(substring(s, i::INT, {k})), 1, 15))::BIGINT)
                 ELSE []::BIGINT[] END AS hg,
                 CASE WHEN n >= 1 THEN greatest(n - {w - 1}, 1) ELSE 0 END AS m
          FROM g
        ), mins AS (
          SELECT doc_id,
                 CASE WHEN m >= 1 THEN
                   list_distinct(list_transform(range(1, m + 1),
                     j -> list_min(list_slice(hg, j::INT, j::INT + {w - 1}))))
                 ELSE []::BIGINT[] END AS fps
          FROM h
        )"""


def _build_winnow_oracle(k: int = 8, w: int = 4) -> str:
    """SQL twin of the digest agg in q_winnow_fingerprints; the
    [NULL]-substitution for empty fps mirrors the engine's empty-set rows
    (count skips NULLs → 0, bit_xor of only-NULL → NULL → coalesce 0)."""
    return rf"""
        WITH {_winnow_mins_cte(k, w)}, ex AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(fps) = 0 THEN [NULL]::BIGINT[] ELSE fps END) AS fp
          FROM mins
        )
        SELECT doc_id, COUNT(fp) AS n_fps, MIN(fp) AS fp_min, MAX(fp) AS fp_max,
               coalesce(bit_xor(fp), 0)::BIGINT AS fp_xor
        FROM ex GROUP BY doc_id
    """


def _build_winnow_pairs_oracle(
    k: int = 8, w: int = 4, min_shared: int = 20, max_fp_docs: int = 50
) -> str:
    """SQL twin of operators/dedup.winnow_near_duplicates: fingerprint
    rows → drop fps present in more than ``max_fp_docs`` docs (the
    map-combinable hot-key cap) → self-equi-join on fp → shared-count
    threshold.  Same fp sets, same cap semantics (keep count <= cap)."""
    return rf"""
        WITH {_winnow_mins_cte(k, w)}, ex AS (
          SELECT doc_id AS id, unnest(fps) AS fp FROM mins WHERE len(fps) > 0
        ), kept AS (
          SELECT id, fp FROM ex
          WHERE fp IN (SELECT fp FROM ex GROUP BY fp HAVING COUNT(*) <= {max_fp_docs})
        )
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*)::BIGINT AS shared_fps
        FROM kept a JOIN kept b USING (fp)
        WHERE a.id < b.id
        GROUP BY a.id, b.id
        HAVING COUNT(*) >= {min_shared}
    """


def _build_incremental_dedup_oracle(
    k: int = 8,
    w: int = 4,
    min_shared: int = 20,
    max_fp_docs: int = 50,
    new_source: str = "src19",
) -> str:
    """SQL twin of dedup.incremental_near_duplicates — stated as the
    SEMANTIC contract, not the incremental plan: the full-corpus winnow
    pair query (identical CTEs to the winnow_near_dups oracle, cap
    included) restricted to pairs touching the new-source batch.  The
    engine computes the same set incrementally (index probe + new-only
    joins); value equality here IS the parity proof."""
    return rf"""
        WITH {_winnow_mins_cte(k, w)}, ex AS (
          SELECT doc_id AS id, unnest(fps) AS fp FROM mins WHERE len(fps) > 0
        ), kept AS (
          SELECT id, fp FROM ex
          WHERE fp IN (SELECT fp FROM ex GROUP BY fp HAVING COUNT(*) <= {max_fp_docs})
        ), pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*)::BIGINT AS shared_fps
          FROM kept a JOIN kept b USING (fp)
          WHERE a.id < b.id
          GROUP BY a.id, b.id
          HAVING COUNT(*) >= {min_shared}
        ), news AS (
          SELECT doc_id FROM documents WHERE source = '{new_source}'
        )
        SELECT p.id_a, p.id_b, p.shared_fps FROM pairs p
        WHERE p.id_a IN (SELECT doc_id FROM news)
           OR p.id_b IN (SELECT doc_id FROM news)
    """


def _build_bloom_decon_oracle(
    k: int = 8,
    w: int = 4,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
    seed: int = 42,
    min_hits: int = 10,
    bench_source: str = "src0",
) -> str:
    """SQL twin of dedup.bloom_decontaminate_candidates: the shared
    winnow CTE (per-doc distinct fingerprint sets), the benchmark side's
    bit positions OR-folded into words, and every corpus fingerprint
    probed against them — hit iff all n_hashes bits are set (a LEFT JOIN
    miss on the word is an unset bit).  md5-derived positions, 32 bits
    per BIGINT word, identical to the engine."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    key = f"'bf:{seed}:'||i::VARCHAR||':'||fp::VARCHAR"
    h = f"{sql_md5_long60(key)} % {n_bits}"
    return f"""
        WITH {_winnow_mins_cte(k, w)},
        sided AS (
          SELECT m.doc_id, d.source, m.fps FROM mins m JOIN documents d USING (doc_id)
        ),
        bpos AS (
          SELECT DISTINCT {h} AS p FROM (
            SELECT DISTINCT unnest(fps) AS fp FROM sided
            WHERE source = '{bench_source}' AND len(fps) > 0
          ), (SELECT unnest(range(0, {n_hashes})) AS i)
        ),
        filt AS (
          SELECT (p // 32)::INT AS wi, bit_or(1::BIGINT << (p % 32)::INT) AS word
          FROM bpos GROUP BY 1
        ),
        cpos AS (
          SELECT doc_id, fp, i, {h} AS p FROM (
            SELECT doc_id, unnest(fps) AS fp FROM sided
            WHERE source <> '{bench_source}' AND len(fps) > 0
          ), (SELECT unnest(range(0, {n_hashes})) AS i)
        ),
        fphit AS (
          SELECT doc_id, fp,
                 (COUNT(*) FILTER (WHERE f.word IS NOT NULL
                    AND (f.word & (1::BIGINT << (p % 32)::INT)) <> 0) = {n_hashes}) AS hit
          FROM cpos LEFT JOIN filt f ON f.wi = (p // 32)::INT
          GROUP BY doc_id, fp
        )
        SELECT doc_id, COUNT(*) FILTER (WHERE hit)::BIGINT AS bloom_hits
        FROM fphit GROUP BY doc_id
        HAVING COUNT(*) FILTER (WHERE hit) >= {min_hits}
    """


def _build_exact_substring_oracle(L: int) -> str:
    """Twin of dedup.drop_duplicate_spans: gram lattice (one row per char
    position) → count + canonical (min (doc_id, pos)) per gram hash →
    non-canonical gram occurrences merged into islands (gaps-and-islands)
    → clean_text rebuilt as the ordered string_agg of complement
    segments.  Same md5_long60 gram hash as the engine."""
    gh = "('0x'||substring(md5(substr(t, pos::INT, " + str(L) + ")),1,15))::BIGINT"
    return f"""
        WITH base AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
        pos_list AS (
          SELECT doc_id, t, unnest(generate_series(1, length(t)-{L}+1)) AS pos
          FROM base WHERE length(t) >= {L}
        ),
        occ AS (SELECT doc_id, pos, {gh} AS gh FROM pos_list),
        stats AS (SELECT gh, count(*) AS c FROM occ GROUP BY gh),
        canon AS (
          SELECT gh, doc_id AS cd, pos AS cp FROM (
            SELECT gh, doc_id, pos,
                   row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
            FROM occ
          ) WHERE rn = 1
        ),
        dup AS (
          SELECT o.doc_id, o.pos AS s, o.pos + {L} - 1 AS e
          FROM occ o JOIN stats USING (gh) JOIN canon USING (gh)
          WHERE stats.c > 1 AND NOT (o.doc_id = canon.cd AND o.pos = canon.cp)
        ),
        flagged AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM dup
        ),
        isl AS (
          SELECT doc_id, s, e,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM flagged
        ),
        merged AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
                   FROM isl GROUP BY doc_id, island),
        pieces AS (
          SELECT m.doc_id, m.s AS ord,
                 substr(b.t,
                        (coalesce(lag(m.e) OVER (PARTITION BY m.doc_id ORDER BY m.s), 0) + 1)::INT,
                        (m.s - coalesce(lag(m.e) OVER (PARTITION BY m.doc_id ORDER BY m.s), 0) - 1)::INT
                 ) AS piece
          FROM merged m JOIN base b USING (doc_id)
          UNION ALL
          SELECT q.doc_id, 2147483647 AS ord, substr(b.t, (q.maxe + 1)::INT) AS piece
          FROM (SELECT doc_id, max(e) AS maxe FROM merged GROUP BY doc_id) q
          JOIN base b USING (doc_id)
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
          FROM pieces GROUP BY doc_id
        ),
        doc_stats AS (
          SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
                 sum(e - s + 1)::BIGINT AS cut_chars
          FROM merged GROUP BY doc_id
        )
        SELECT b.doc_id,
               coalesce(r.clean_text, b.t) AS clean_text,
               coalesce(d.n_dup_spans, 0) AS n_dup_spans,
               coalesce(d.cut_chars, 0) AS cut_chars
        FROM base b
        LEFT JOIN rebuilt r USING (doc_id)
        LEFT JOIN doc_stats d USING (doc_id)
    """


_EXACT_SUBSTRING_ORACLE = _build_exact_substring_oracle(L=40)
_WINNOW_ORACLE = _build_winnow_oracle(k=8, w=4)
_WINNOW_PAIRS_ORACLE = _build_winnow_pairs_oracle(k=8, w=4, min_shared=20, max_fp_docs=50)


def _build_char_ngram_jaccard_oracle(n: int = 3, threshold: float = 0.6) -> str:
    """SQL twin of dedup.char_ngram_jaccard_pairs (lang-blocked): with a
    window of 1 the shared winnowing CTE degenerates to the distinct
    md5_long60 hash per overlapping char n-gram — exactly the engine's
    gram set.  Jaccard on the int sets; the threshold applies to the
    ROUNDED value, as the engine emits it."""
    return rf"""
        WITH {_winnow_mins_cte(n, 1)}, gl AS (
          SELECT m.doc_id, d.lang, m.fps FROM mins m JOIN documents d USING (doc_id)
        ), pr AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 ROUND(CASE WHEN len(list_distinct(list_concat(a.fps, b.fps))) > 0
                       THEN len(list_intersect(a.fps, b.fps))::DOUBLE
                            / len(list_distinct(list_concat(a.fps, b.fps)))::DOUBLE
                       ELSE 0.0 END, 6) AS jaccard
          FROM gl a JOIN gl b ON a.lang = b.lang AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, jaccard FROM pr WHERE jaccard >= {threshold}
    """


_CHAR_NGRAM_JACCARD_ORACLE = _build_char_ngram_jaccard_oracle(n=3, threshold=0.6)


def _stopword_sql_list() -> str:
    from featherstore_spark.functions.text import ALL_STOPWORDS

    return ", ".join(f"'{w}'" for w in ALL_STOPWORDS)


_TEXT_STATS_ORACLE_TEMPLATE = r"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    SELECT doc_id,
           (CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))::BIGINT AS n_bpe_tokens,
           len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))::BIGINT AS n_punct,
           len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> lower(x) IN (__STOPWORDS__)))::BIGINT AS n_stopwords,
           ROUND(CASE WHEN length(text) > 0
                THEN len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))::DOUBLE / length(text)
                ELSE 0 END, 6) AS punct_ratio,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
    FROM d
"""


_C4_LINE_CLEAN_ORACLE = r"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    k AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)),
                 l -> trim(l) <> ''
                      AND len(string_split_regex(trim(l), '\s+')) >= 5
                      AND substring(rtrim(l), -1, 1) IN ('.', '!', '?', '"')
                      AND NOT contains(lower(l), 'javascript')) AS kept,
             len(string_split(text, chr(10)))::BIGINT AS n_lines
      FROM d
    )
    SELECT doc_id,
           -- array_to_string([]) is NULL in DuckDB; the engine's
           -- array_join([]) is '' — pin the empty-doc case to ''
           coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
           n_lines,
           len(kept)::BIGINT AS n_kept,
           (NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(lower(text), '{')
            AND len(kept) >= 3) AS c4_keep
    FROM k
"""


def _build_decontaminate_oracle(
    k: int = 8, w: int = 4
) -> str:
    """SQL twin of q_decontaminate via the shared winnow CTE: per-side
    hot-fingerprint caps (row count per fp == doc frequency, since each
    doc's fps are a set), fingerprint equi-join, pair threshold, per-doc
    rollup."""
    return rf"""
        WITH {_winnow_mins_cte(k, w)},
        ex AS (
          SELECT m.doc_id, d.source, unnest(m.fps) AS fp
          FROM mins m JOIN documents d USING (doc_id)
        ),
        c AS (SELECT doc_id AS corpus_id, fp FROM ex WHERE source <> '{DECON_BENCH_SOURCE}'),
        b AS (SELECT doc_id AS bench_id, fp FROM ex WHERE source = '{DECON_BENCH_SOURCE}'),
        chot AS (SELECT fp FROM c GROUP BY fp HAVING COUNT(*) > {DECON_MAX_FP_DOCS}),
        bhot AS (SELECT fp FROM b GROUP BY fp HAVING COUNT(*) > {DECON_MAX_FP_DOCS}),
        cc AS (SELECT * FROM c WHERE fp NOT IN (SELECT fp FROM chot)),
        bb AS (SELECT * FROM b WHERE fp NOT IN (SELECT fp FROM bhot)),
        pr AS (
          SELECT corpus_id, bench_id, COUNT(*)::BIGINT AS shared_fps
          FROM cc JOIN bb USING (fp)
          GROUP BY 1, 2
          HAVING COUNT(*) >= {DECON_MIN_SHARED}
        )
        SELECT corpus_id AS doc_id,
               COUNT(*)::BIGINT AS n_bench_docs,
               MAX(shared_fps)::BIGINT AS max_shared,
               SUM(shared_fps)::BIGINT AS total_shared
        FROM pr GROUP BY 1
    """


_DECONTAMINATE_ORACLE = _build_decontaminate_oracle()


def _build_pii_scrub_oracle() -> str:
    """SQL twin of text.pii_scrub, generated from the SAME pattern table
    so engine and oracle can never drift: per stage, count on the
    stage's input then replace globally; patterns are Java/RE2-identical
    by construction (no lookaround, ASCII classes)."""
    from featherstore_spark.functions.text import PII_PATTERNS

    ctes, prev = [], "t0"
    for i, (name, pat) in enumerate(PII_PATTERNS, start=1):
        ctes.append(
            f"s{i} AS (SELECT *, len(regexp_extract_all({prev}, '{pat}'))::BIGINT AS n_{name}, "
            f"regexp_replace({prev}, '{pat}', '<{name.upper()}>', 'g') AS t{i} FROM "
            f"{'d' if i == 1 else f's{i - 1}'})"
        )
        prev = f"t{i}"
    cols = ", ".join(f"n_{name}" for name, _ in PII_PATTERNS)
    flags = " OR ".join(f"n_{name} > 0" for name, _ in PII_PATTERNS)
    return (
        "WITH d AS (SELECT doc_id, coalesce(text, '') AS t0 FROM documents),\n"
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, {prev} AS clean_text, {cols}, ({flags}) AS has_pii "
        + f"FROM s{len(PII_PATTERNS)}"
    )


_PII_SCRUB_ORACLE = _build_pii_scrub_oracle()


def _build_sampling_oracles() -> dict[str, str]:
    """SQL twins of the hash-sampling queries: identical integer
    thresholds (computed once in Python) against the identical
    ``md5_long60`` coin, so engine and oracle compare bit-equal longs."""
    from featherstore_spark.operators.sampling import _threshold

    coin = "('0x' || substring(md5(doc_id::VARCHAR || ':' || '{seed}'), 1, 15))::BIGINT"
    strat_cases = " ".join(
        f"WHEN '{lang}' THEN {_threshold(rate)}"
        for lang, rate in sorted(SAMPLE_RATES.items())
    )
    stratified = f"""
        SELECT doc_id, lang FROM documents
        WHERE {coin.format(seed=42)} <
              CASE lang {strat_cases} ELSE {_threshold(0.0)} END
    """
    acc, cuts = 0.0, []
    for w in SPLIT_WEIGHTS[:-1]:
        acc += w
        cuts.append(_threshold(acc))
    split_coin = coin.format(seed=7)
    whens = " ".join(
        f"WHEN {split_coin} < {cut} THEN '{name}'"
        for name, cut in zip(SPLIT_NAMES[:-1], cuts)
    )
    dataset_split = f"""
        SELECT doc_id,
               CASE {whens} ELSE '{SPLIT_NAMES[-1]}' END AS split
        FROM documents
    """
    pack_coin = coin.format(seed=11)
    pack = f"""
        WITH p AS (
          SELECT doc_id, {pack_coin} AS coin, n_chars::BIGINT AS sz
          FROM documents
        ), c AS (
          SELECT doc_id, (coin % {PACK_STREAMS})::INT AS stream, sz,
                 COALESCE(SUM(sz) OVER (
                   PARTITION BY coin % {PACK_STREAMS}
                   ORDER BY coin, doc_id, sz
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM p
        )
        SELECT doc_id, stream,
               (cum // {PACK_CAPACITY})::BIGINT AS bin_id,
               (cum % {PACK_CAPACITY})::BIGINT AS bin_offset,
               ((cum + greatest(sz, 1) - 1) // {PACK_CAPACITY}
                - cum // {PACK_CAPACITY} + 1)::BIGINT AS n_bins
        FROM c
    """
    return {
        "stratified_sample": stratified,
        "dataset_split": dataset_split,
        "pack_sequences": pack,
    }


_SAMPLING_ORACLES = _build_sampling_oracles()


_GOPHER_REPETITION_ORACLE = r"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    ln0 AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d),
    ln AS (SELECT doc_id, line FROM ln0 WHERE trim(line) <> ''),
    lc AS (SELECT doc_id, line, COUNT(*) AS c FROM ln GROUP BY 1, 2),
    la AS (
      SELECT doc_id,
             SUM(c)::BIGINT AS n_lines,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup_lines,
             SUM(c * length(line))::BIGINT AS line_chars,
             SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END)::BIGINT AS dup_line_chars
      FROM lc GROUP BY 1
    ),
    tk AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE list_transform(string_split_regex(trim(text), '\s+'), x -> lower(x))
             END AS tokl
      FROM d
    ),
    gr AS (
      SELECT doc_id, 'top' AS which,
             unnest(list_transform(range(1, len(tokl)), i -> tokl[i] || ' ' || tokl[i+1])) AS g
      FROM tk
      UNION ALL
      SELECT doc_id, 'dup' AS which,
             unnest(list_transform(range(1, len(tokl) - 1),
                                   i -> tokl[i] || ' ' || tokl[i+1] || ' ' || tokl[i+2])) AS g
      FROM tk
    ),
    gc AS (SELECT doc_id, which, g, COUNT(*) AS c FROM gr GROUP BY 1, 2, 3),
    tmc AS (SELECT doc_id, MAX(c) AS mc FROM gc WHERE which = 'top'
            GROUP BY 1 HAVING MAX(c) > 1),
    tnum AS (
      -- ties on count resolve to the longest gram: max(c*len) at c = max(c)
      -- == the engine's lexicographic struct-max (count, count*len)
      SELECT gc.doc_id, MAX(gc.c * length(gc.g))::BIGINT AS top_cl
      FROM gc JOIN tmc USING (doc_id)
      WHERE gc.which = 'top' AND gc.c = tmc.mc
      GROUP BY 1
    ),
    ga AS (
      SELECT doc_id,
             SUM(CASE WHEN which = 'top' THEN c * length(g) ELSE 0 END)::BIGINT AS top_chars,
             SUM(CASE WHEN which = 'dup' AND c > 1 THEN c * length(g) ELSE 0 END)::BIGINT AS dup_gram_chars,
             SUM(CASE WHEN which = 'dup' THEN c * length(g) ELSE 0 END)::BIGINT AS gram_chars
      FROM gc GROUP BY 1
    ),
    f AS (
      SELECT d.doc_id,
             COALESCE(la.n_lines, 0)::BIGINT AS n_lines,
             ROUND(CASE WHEN COALESCE(la.n_lines, 0) > 0
                   THEN COALESCE(la.dup_lines, 0)::DOUBLE / la.n_lines ELSE 0.0 END, 6) AS dup_line_frac,
             ROUND(CASE WHEN COALESCE(la.line_chars, 0) > 0
                   THEN COALESCE(la.dup_line_chars, 0)::DOUBLE / la.line_chars ELSE 0.0 END, 6) AS dup_line_char_frac,
             ROUND(CASE WHEN COALESCE(ga.top_chars, 0) > 0
                   THEN COALESCE(tnum.top_cl, 0)::DOUBLE / ga.top_chars ELSE 0.0 END, 6) AS top_ngram_char_frac,
             ROUND(CASE WHEN COALESCE(ga.gram_chars, 0) > 0
                   THEN COALESCE(ga.dup_gram_chars, 0)::DOUBLE / ga.gram_chars ELSE 0.0 END, 6) AS dup_ngram_char_frac
      FROM d LEFT JOIN la USING (doc_id) LEFT JOIN ga USING (doc_id) LEFT JOIN tnum USING (doc_id)
    )
    SELECT *,
           (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
            AND top_ngram_char_frac <= 0.20 AND dup_ngram_char_frac <= 0.30) AS repetition_ok
    FROM f
"""


def _build_text_stats_oracle() -> str:
    return _TEXT_STATS_ORACLE_TEMPLATE.replace("__STOPWORDS__", _stopword_sql_list())


_TEXT_STATS_ORACLE = _build_text_stats_oracle()


_LANG_ORACLE_TEMPLATE = r"""
    WITH toks AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(coalesce(text, '')), '\s+'),
                            x -> lower(x)) AS tok
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(list_filter(tok, x -> x IN ({en}))) AS en,
             len(list_filter(tok, x -> x IN ({de}))) AS de,
             len(list_filter(tok, x -> x IN ({fr}))) AS fr,
             len(list_filter(tok, x -> x IN ({es}))) AS es
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
                WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
                WHEN fr > 0 AND fr >= es THEN 'fr'
                WHEN es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM s
"""


def _build_lang_oracle() -> str:
    from featherstore_spark.functions.text import STOPWORDS

    def lst(lang):
        return ", ".join(f"'{w}'" for w in STOPWORDS[lang])

    return _LANG_ORACLE_TEMPLATE.format(en=lst("en"), de=lst("de"), fr=lst("fr"), es=lst("es"))


_LANG_ORACLE = _build_lang_oracle()


_CLEAN_PIPELINE_ORACLE_TEMPLATE = r"""
    WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents),
    kept AS (
      SELECT * FROM d
      WHERE doc_id IN (
        SELECT MIN(doc_id) FROM d
        GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
      )
    ), stats AS (
      SELECT doc_id, lang,
             length(text)::BIGINT AS n_chars,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tokens,
             len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))::BIGINT AS n_punct,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> lower(x) IN (__STOPWORDS__)))::BIGINT AS n_stop
      FROM kept
    ), q AS (
      SELECT doc_id, lang, n_tokens,
             ROUND(
               0.3 * (CASE WHEN n_chars >= 50 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
             + 0.3 * (1.0 - LEAST((CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END) * 5.0, 1.0))
             + 0.2 * LEAST((CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0 END) * 10.0, 1.0)
             + 0.2 * (CASE WHEN n_tokens > 0
                            AND n_chars::DOUBLE / n_tokens >= 3.0
                            AND n_chars::DOUBLE / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
             , 6) AS quality_score
      FROM stats
    )
    SELECT doc_id, lang, n_tokens, quality_score FROM q WHERE quality_score >= 0.8
"""

_CLEAN_PIPELINE_ORACLE = _CLEAN_PIPELINE_ORACLE_TEMPLATE.replace(
    "__STOPWORDS__", _stopword_sql_list()
)


# Hash-pipeline oracles --------------------------------------------------------
# The minhash/simhash/LSH/IVF operators hash with md5_long60 (functions/
# hashing.py) and inline all derived constants (universal-hash coefficients,
# Rademacher plane signs) host-side, so the ENTIRE pipelines are recomputable
# in DuckDB: these oracles re-derive the same candidates/buckets/signatures
# and the driver value-hashes the outputs (closes round-1's four `no_oracle`
# rows).  All SQL below is generated from the same Python constants the Spark
# operators use — a param drift breaks both sides identically loudly.

# doc_id + lowercased whitespace token list; mirrors functions.text.ws_tokens
# (trim + split \s+, empty/null text -> []).
_TOKS_CTE = r"""
    toks AS (
      SELECT doc_id,
             CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                  ELSE list_transform(string_split_regex(trim(coalesce(text, '')), '\s+'),
                                      x -> lower(x)) END AS t
      FROM documents
    )
"""


def _build_minhash_pairs_oracle(
    threshold: float, k: int = 32, bands: int = 8, shingle_n: int = 3, seed: int = 42
) -> str:
    """SQL twin of minhash_signatures -> lsh_candidate_pairs ->
    exact-Jaccard verification (operators/dedup.py)."""
    from featherstore_spark.functions.hashing import (
        MERSENNE31,
        minhash_coeffs,
        sql_md5_long60,
    )

    rpb = k // bands
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(shingle_n)).replace("t[i+0]", "t[i]")
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE31}) AS m{j}"
        for j, (a, b) in enumerate(minhash_coeffs(k, seed))
    )
    band_rows = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sig".format(
            b=b,
            h=sql_md5_long60(
                " || ',' || ".join(f"m{b * rpb + r}::VARCHAR" for r in range(rpb))
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH {_TOKS_CTE},
        sh AS (
          SELECT doc_id,
                 UNNEST(CASE WHEN len(t) >= {shingle_n}
                             THEN list_transform(range(1, len(t) - {shingle_n - 2}),
                                                 i -> {gram})
                             ELSE [coalesce(array_to_string(t, ' '), '')] END) AS s
          FROM toks
        ),
        h AS (SELECT doc_id, {sql_md5_long60('s')} % {MERSENNE31} AS h FROM sh),
        sig AS (
          SELECT doc_id,
               {mins}
          FROM h GROUP BY doc_id
        ),
        bands AS (
          {band_rows}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b USING (band_idx, band_hash)
          WHERE a.doc_id < b.doc_id
        ),
        tokset AS (SELECT doc_id, list_distinct(t) AS tok FROM toks),
        j AS (
          SELECT id_a, id_b,
                 ROUND(CASE WHEN len(list_distinct(list_concat(ta.tok, tb.tok))) > 0
                            THEN len(list_intersect(ta.tok, tb.tok))::DOUBLE
                                 / len(list_distinct(list_concat(ta.tok, tb.tok)))
                            ELSE 0.0 END, 6) AS jaccard
          FROM cand
          JOIN tokset ta ON ta.doc_id = id_a
          JOIN tokset tb ON tb.doc_id = id_b
        )
        SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold}
    """


def _build_dedup_groups_oracle(threshold: float = 0.9) -> str:
    """SQL twin of connected_components over the minhash pairs: a
    recursive transitive closure — every node labels itself with every
    reachable node, MIN per node = the component minimum (identical to
    the engine's converged min-label propagation).  UNION (set) semantics
    terminate the recursion."""
    pairs_sql = _build_minhash_pairs_oracle(threshold=threshold)
    return f"""
        WITH RECURSIVE p AS (
          SELECT id_a, id_b FROM ({pairs_sql})
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM p
          UNION ALL
          SELECT id_b, id_a FROM p
        ), reach(id, lbl) AS (
          SELECT s, s FROM edges
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id
        )
        SELECT id AS doc_id, MIN(lbl)::BIGINT AS group_id FROM reach GROUP BY id
    """


def _build_simhash_oracle(max_hamming: int = 3) -> str:
    """SQL twin of simhash_60 -> pigeonhole-chunk pairing
    (operators/dedup.py): 60 per-bit majority votes, 4x15-bit chunks."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    from featherstore_spark.operators.dedup import SIMHASH_BITS

    csums = ",\n               ".join(
        f"SUM((h >> {b}) & 1) AS c{b}" for b in range(SIMHASH_BITS)
    )
    fp = "\n                 + ".join(
        f"CASE WHEN 2 * c{b} > n THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    chunk_rows = "\n          UNION ALL\n          ".join(
        f"SELECT id, simhash, {c} AS chunk_idx, (simhash >> {c * 15}) & 32767 AS chunk FROM sh"
        for c in range(4)
    )
    return f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, UNNEST(t) AS tk FROM toks),
        h AS (SELECT doc_id, {sql_md5_long60('tk')} AS h FROM tok),
        agg AS (
          SELECT doc_id, COUNT(*) AS n,
               {csums}
          FROM h GROUP BY doc_id
        ),
        sh AS (
          SELECT d.doc_id AS id,
                 COALESCE({fp}, 0)::BIGINT AS simhash
          FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
        ),
        ch AS (
          {chunk_rows}
        )
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
        FROM ch a JOIN ch b USING (chunk_idx, chunk)
        WHERE a.id < b.id
          AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _sql_lsh_bucket(vec_expr: str, n_planes: int, table: int, dim: int = 64, seed: int = 42) -> str:
    """SQL twin of one table's bucket id in similarity.lsh_bucket_ids:
    table<<56 + sum of sign bits, each sign from the pinned-order signed
    sum (hashing.sql_signed_sum == hashing.signed_sum bit-for-bit)."""
    from featherstore_spark.functions.hashing import rademacher_planes, sql_signed_sum

    parts = [str(table << 56)]
    for p, signs in enumerate(rademacher_planes(n_planes, dim, table=table, seed=seed)):
        parts.append(
            f"+ (CASE WHEN {sql_signed_sum(vec_expr, signs)} > 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + "\n                 ".join(parts) + ")::BIGINT"


def _build_lsh_ann_oracle(
    k: int = 3, n_planes: int = 4, n_tables: int = 12, dim: int = 64, n_queries: int = 5
) -> str:
    """SQL twin of similarity.lsh_ann_topk for the contract query
    (queries = vec_id < n_queries)."""
    bucket_rows = "\n          UNION ALL\n          ".join(
        f"SELECT vec_id, {_sql_lsh_bucket('v', n_planes, t, dim)} AS b FROM c"
        for t in range(n_tables)
    )
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cb AS (
          {bucket_rows}
        ),
        cand AS (
          SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
          FROM cb qa JOIN cb ca USING (b)
          WHERE qa.vec_id < {n_queries} AND qa.vec_id <> ca.vec_id
        ),
        scored AS (
          SELECT query_id, neighbor_id,
                 ROUND(list_cosine_similarity(q.v, n.v), 6) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY ROUND(list_cosine_similarity(q.v, n.v), 6) DESC, neighbor_id) AS rn
          FROM cand
          JOIN c q ON q.vec_id = query_id
          JOIN c n ON n.vec_id = neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rn::INTEGER AS rank
        FROM scored WHERE rn <= {k}
    """


def _build_ivf_ann_oracle(
    k: int = 3, n_centroids: int = 16, n_probes: int = 6, n_queries: int = 5
) -> str:
    """SQL twin of similarity.ivf_ann_topk: md5-ranked centroid seeds,
    nearest-centroid assignment and probes by rounded cosine (ties by
    centroid id), exact scoring within probed lists."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    cent_hash = sql_md5_long60("vec_id::VARCHAR")
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
          SELECT vec_id AS centroid_id, v AS centroid_v FROM c
          ORDER BY {cent_hash} % 1000000007, vec_id
          LIMIT {n_centroids}
        ),
        assigned AS (
          SELECT vec_id, v, centroid_id FROM (
            SELECT c.vec_id, c.v, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                     ORDER BY ROUND(list_cosine_similarity(c.v, cent.centroid_v), 6) DESC,
                              cent.centroid_id) AS rn
            FROM c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, centroid_id FROM (
            SELECT q.vec_id AS query_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY ROUND(list_cosine_similarity(q.v, cent.centroid_v), 6) DESC,
                              cent.centroid_id) AS rn
            FROM c q CROSS JOIN cent WHERE q.vec_id < {n_queries}
          ) WHERE rn <= {n_probes}
        ),
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(qv.v, a.v), 6) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY p.query_id
                   ORDER BY ROUND(list_cosine_similarity(qv.v, a.v), 6) DESC, a.vec_id) AS rn
          FROM probes p
          JOIN assigned a USING (centroid_id)
          JOIN c qv ON qv.vec_id = p.query_id
          WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rn::INTEGER AS rank
        FROM scored WHERE rn <= {k}
    """


def _build_embedding_blocked_oracle(threshold: float = 0.35, n_planes: int = 6) -> str:
    """SQL twin of the LSH-blocked embedding_near_duplicates contract
    query (single Rademacher table => one bucket id per vector)."""
    bucket = _sql_lsh_bucket("v", n_planes, table=0)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket} AS blk FROM e)
        SELECT a.vec_id AS id_a, x.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, x.v), 6) AS cosine
        FROM b a JOIN b x ON a.blk = x.blk AND a.vec_id < x.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, x.v), 6) >= {threshold}
    """


def _kmeans_cte_chain(k: int, iters: int, seed: int = 42) -> tuple[str, str]:
    """Shared CTE chain recomputing clustering.kmeans_fit_assign in
    DuckDB — the full unrolled Lloyd loop, bit-exact because every step
    is integer arithmetic:

    - quantize: floor((x + 1.0) * 10000) — IEEE double add/mul/floor,
      identical in both engines; values are non-negative by the offset,
      so DuckDB's truncating ``//`` IS floor division (matches the
      Python ``//`` the Spark operator uses host-side);
    - distances via list_dot_product on the int vectors cast to DOUBLE:
      every partial sum is an integer < 2^35, exact in float64, so the
      DOUBLE distance equals Spark's int64 distance;
    - centroid update: CAST(SUM v AS BIGINT) // COUNT — exact integer
      floor mean (DuckDB SUM(BIGINT) widens to HUGEINT, hence the cast);
      empty clusters COALESCE to the previous centroid, mirroring the
      operator.

    Returns (cte_sql, final_assignment_cte_name)."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    h = sql_md5_long60(f"'km:{seed}:'||vec_id::VARCHAR")
    dist = (
        "(list_dot_product(v.qv::DOUBLE[], v.qv::DOUBLE[])"
        " - 2*list_dot_product(v.qv::DOUBLE[], c.cv::DOUBLE[])"
        " + list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))"
    )
    parts = [
        f"""q0 AS (
          SELECT vec_id, embedding::DOUBLE[] AS fv,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(floor((x + 1.0) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings
        ), c0 AS (
          SELECT rn - 1 AS cid, qv AS cv FROM (
            SELECT qv, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn FROM q0
          ) WHERE rn <= {k}
        )"""
    ]
    for i in range(iters):
        parts.append(f"""a{i} AS (
          SELECT vec_id, qv, cid FROM (
            SELECT v.vec_id, v.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM q0 v CROSS JOIN c{i} c
          ) WHERE rn = 1
        ), u{i} AS (
          SELECT cid, list((CAST(s AS BIGINT) // n)::BIGINT ORDER BY pos) AS cv FROM (
            SELECT cid, pos, SUM(val) AS s, COUNT(*) AS n FROM (
              SELECT cid, generate_subscripts(qv, 1) AS pos, unnest(qv) AS val FROM a{i}
            ) GROUP BY cid, pos
          ) GROUP BY cid
        ), c{i + 1} AS (
          SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
          FROM c{i} p LEFT JOIN u{i} u USING (cid)
        )""")
    parts.append(f"""afinal AS (
          SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM q0 v CROSS JOIN c{iters} c
          ) WHERE rn = 1
        )""")
    return "WITH " + ",\n".join(parts), "afinal"


def _build_kmeans_oracle(k: int = 8, iters: int = 2, seed: int = 42) -> str:
    ctes, final = _kmeans_cte_chain(k, iters, seed)
    return f"""
        {ctes}
        SELECT vec_id, cid::INTEGER AS cluster_id FROM {final}
    """


def _build_pq_oracle(
    m: int = 4,
    ks: int = 8,
    iters: int = 2,
    k: int = 3,
    dim: int = 64,
    q_max: int = 5,
    seed: int = 42,
) -> str:
    """SQL twin of similarity.pq_ann_topk — per-subspace unrolled
    fixed-point Lloyd chains (the _kmeans_cte_chain recipe over
    ``list_slice`` views of the quantized vectors, seed tag
    ``pq:{seed}:{s}:``), argmin encoding, and ADC scoring as the sum of
    per-subspace exact distances between the query slice and the
    centroid its candidate's code names.  Distances ride as DOUBLE but
    every value is an integer < 2^40 (exact in float64), so the BIGINT
    cast at the end reproduces Spark's int64 ADC bit-for-bit."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    sub = dim // m
    dist = (
        "(list_dot_product(v.qv::DOUBLE[], v.qv::DOUBLE[])"
        " - 2*list_dot_product(v.qv::DOUBLE[], c.cv::DOUBLE[])"
        " + list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))"
    )
    parts = [
        """q0 AS (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(floor((x + 1.0) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings
        )"""
    ]
    for s in range(m):
        h = sql_md5_long60(f"'pq:{seed}:{s}:'||vec_id::VARCHAR")
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f"""qs{s} AS (
          SELECT vec_id, list_slice(qv, {lo}, {hi}) AS qv FROM q0
        ), s{s}c0 AS (
          SELECT rn - 1 AS cid, qv AS cv FROM (
            SELECT qv, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn FROM qs{s}
          ) WHERE rn <= {ks}
        )""")
        for i in range(iters):
            parts.append(f"""s{s}a{i} AS (
          SELECT vec_id, qv, cid FROM (
            SELECT v.vec_id, v.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM qs{s} v CROSS JOIN s{s}c{i} c
          ) WHERE rn = 1
        ), s{s}u{i} AS (
          SELECT cid, list((CAST(sm AS BIGINT) // n)::BIGINT ORDER BY pos) AS cv FROM (
            SELECT cid, pos, SUM(val) AS sm, COUNT(*) AS n FROM (
              SELECT cid, generate_subscripts(qv, 1) AS pos, unnest(qv) AS val FROM s{s}a{i}
            ) GROUP BY cid, pos
          ) GROUP BY cid
        ), s{s}c{i + 1} AS (
          SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
          FROM s{s}c{i} p LEFT JOIN s{s}u{i} u USING (cid)
        )""")
        parts.append(f"""enc{s} AS (
          SELECT vec_id, cid AS code{s} FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM qs{s} v CROSS JOIN s{s}c{iters} c
          ) WHERE rn = 1
        ), qd{s} AS (
          SELECT v.vec_id AS query_id, c.cid, {dist} AS d
          FROM qs{s} v CROSS JOIN s{s}c{iters} c
          WHERE v.vec_id < {q_max}
        )""")
    enc_joins = " ".join(f"JOIN enc{s} e{s} USING (vec_id)" for s in range(1, m))
    qd_joins = " ".join(
        f"JOIN qd{s} ON qd{s}.query_id = qd0.query_id AND qd{s}.cid = e{s}.code{s}"
        for s in range(1, m)
    )
    adc = " + ".join(f"qd{s}.d" for s in range(m))
    ctes = ",\n".join(parts)
    return f"""
        WITH {ctes}
        SELECT query_id, neighbor_id, adc_dist, rank::INTEGER AS rank FROM (
          SELECT qd0.query_id, e0.vec_id AS neighbor_id,
                 CAST({adc} AS BIGINT) AS adc_dist,
                 ROW_NUMBER() OVER (
                   PARTITION BY qd0.query_id
                   ORDER BY ({adc}), e0.vec_id) AS rank
          FROM enc0 e0 {enc_joins}
          JOIN qd0 ON qd0.cid = e0.code0 {qd_joins}
          WHERE qd0.query_id <> e0.vec_id
        ) WHERE rank <= {k}
    """


def _build_semantic_dedup_oracle(
    k: int = 8, iters: int = 2, threshold: float = 0.35, seed: int = 42
) -> str:
    """SQL twin of clustering.semantic_dedup: the k-means chain, then a
    within-cluster self-join on the ORIGINAL double vectors (rounded
    cosine, min-id representative kept)."""
    ctes, final = _kmeans_cte_chain(k, iters, seed)
    return f"""
        {ctes},
        m AS (
          SELECT a.vec_id, a.cid, q.fv FROM {final} a JOIN q0 q USING (vec_id)
        ),
        drops AS (
          -- zero-norm guard: Spark's _cos returns 0.0 for a zero vector,
          -- but list_cosine_similarity yields NaN and DuckDB's total
          -- float order ranks NaN above every threshold — mirror the
          -- operator's 0.0 semantics explicitly
          SELECT DISTINCT y.vec_id AS drop_id
          FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
          WHERE ROUND(CASE WHEN isnan(list_cosine_similarity(x.fv, y.fv)) THEN 0.0
                           ELSE list_cosine_similarity(x.fv, y.fv) END, 6)
                >= {threshold}
        )
        SELECT a.vec_id, a.cid::INTEGER AS cluster_id, (d.drop_id IS NULL) AS keep
        FROM {final} a LEFT JOIN drops d ON a.vec_id = d.drop_id
    """


def _build_cascade_rollup_oracle(
    levels: tuple[str, ...] = ("1 minute", "1 hour", "1 day")
) -> str:
    """Direct (non-cascaded) recomputation of every rollup level from
    raw rows — hash equality against the Spark cascade proves the
    mergeable-partial algebra.

    Like the operator, it sums ``value`` as an exact DECIMAL(38, 6) and
    rounds HALF_UP from that sum.  DuckDB divides decimals in double, so
    avg_v is the exact HALF_UP quotient in integer µ-units:
    ``sign(s) * floor((2|s·10⁶| + n) / 2n)``."""
    parts = []
    for lvl in levels:
        parts.append(f"""
            SELECT '{lvl}' AS resolution, event_type, bucket_start, n,
                   ROUND(s, 4)::DOUBLE AS sum_v, min_v, max_v,
                   (SIGN(s) * ((2 * ABS(CAST(s * 1000000 AS HUGEINT)) + n) // (2 * n)))::DOUBLE
                       / 1000000 AS avg_v
            FROM (
                SELECT event_type, time_bucket(INTERVAL '{lvl}', ts) AS bucket_start,
                       COUNT(*)::BIGINT AS n,
                       SUM(CAST(value AS DECIMAL(38, 6))) AS s,
                       MIN(value) AS min_v, MAX(value) AS max_v
                FROM events GROUP BY 1, 2
            )
        """)
        # direct GROUP BY per level; the Spark side only ever scans raw
        # rows once and cascades partials upward
    return " UNION ALL ".join(parts)


def _build_profile_oracle(k: int = 128, table: str = "events") -> str:
    """SQL twin of plans/profile.profile_table over the events table:
    per column, the same counts, KMV distinct estimate (k smallest
    distinct md5 hashes of the SAME string rendering the engine hashes),
    min/max text under the per-dtype rendering rules, and the
    exact-int-sum mean.  One UNION ALL branch per column."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    from featherstore_spark.plans.profile import TS_FMT_DUCK

    specs = [
        ("event_id", "bigint", "int"),
        ("ts", "timestamp_ntz", "ts"),
        ("user_id", "bigint", "int"),
        ("event_type", "string", "str"),
        ("value", "double", "float"),
        ("props", "string", "str"),
    ]
    branches = []
    for name, label, kind in specs:
        if kind == "int":
            hv = sql_md5_long60(f"{name}::VARCHAR")
            mn, mx = f"MIN({name})::VARCHAR", f"MAX({name})::VARCHAR"
            avg = f"ROUND(CAST(SUM({name}) AS BIGINT) / COUNT({name}), 6)"
        elif kind == "ts":
            hv = sql_md5_long60(f"strftime({name}, '{TS_FMT_DUCK}')")
            mn = f"strftime(MIN({name}), '{TS_FMT_DUCK}')"
            mx = f"strftime(MAX({name}), '{TS_FMT_DUCK}')"
            avg = "NULL::DOUBLE"
        elif kind == "str":
            hv = sql_md5_long60(name)
            mn, mx = f"substring(MIN({name}), 1, 64)", f"substring(MAX({name}), 1, 64)"
            avg = "NULL::DOUBLE"
        else:  # float: rendered range only
            hv = None
            mn, mx = f"printf('%.6f', MIN({name}))", f"printf('%.6f', MAX({name}))"
            avg = "NULL::DOUBLE"
        if hv is not None:
            # COUNT(*)=0 must yield NULL, not 0.0: the engine emits no
            # KMV partial for an all-NULL column, so its left join
            # leaves n_distinct_est NULL
            dist = f"""(SELECT CASE WHEN COUNT(*) = 0 THEN NULL::DOUBLE
                       WHEN COUNT(*) < {k} THEN COUNT(*)::DOUBLE
                       ELSE ROUND({float(k - 1)} * {float(1 << 60)} / MAX(hv), 6) END
                FROM (SELECT DISTINCT {hv} AS hv FROM {table}
                      WHERE {name} IS NOT NULL ORDER BY hv LIMIT {k}))"""
        else:
            dist = "NULL::DOUBLE"
        branches.append(f"""
          SELECT '{name}' AS col_name, '{label}' AS dtype,
                 COUNT(*)::BIGINT AS n_rows,
                 (COUNT(*) - COUNT({name}))::BIGINT AS n_null,
                 {dist} AS n_distinct_est,
                 {mn} AS min_s, {mx} AS max_s,
                 {avg} AS avg_num
          FROM {table}""")
    return " UNION ALL ".join(branches)


def _build_kmv_oracle(k: int = 64) -> str:
    """SQL twin of sketch.kmv_distinct: the k smallest distinct
    md5_long60 hashes per key and the (k-1)*2^60/h_k estimator —
    deterministic, so the approximate count is value-checked exactly."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    hv = sql_md5_long60("user_id::VARCHAR")
    return f"""
        WITH h AS (
          SELECT DISTINCT event_type, {hv} AS hv
          FROM events WHERE user_id IS NOT NULL
        ), r AS (
          SELECT event_type, hv,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
          FROM h
        ), s AS (
          SELECT event_type, COUNT(*) AS m,
                 MAX(CASE WHEN rn = {k} THEN hv END) AS hk
          FROM r WHERE rn <= {k} GROUP BY event_type
        )
        SELECT event_type, m::BIGINT AS sketch_size,
               CASE WHEN m < {k} THEN m::DOUBLE
                    ELSE ROUND({float(k - 1)} * {float(1 << 60)} / hk, 6)
               END AS est_distinct
        FROM s
    """


def _build_temperature_resample_oracle(temperature: float = 2.0, seed: int = 42) -> str:
    """SQL twin of sampling.temperature_resample over (documents, lang):
    identical count→pow→multiplier chain (same-host libm pow, the
    char-LM ln precedent), identical integer floor thresholds, identical
    md5 'tmix' coin, identical sequence expansion."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    coin = sql_md5_long60(f"'tmix:{seed}:'||doc_id::VARCHAR")
    inv_t = repr(1.0 / float(temperature))
    return f"""
        WITH cnt AS (
          SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY lang
        ), tot AS (
          SELECT SUM(n)::DOUBLE AS N FROM cnt
        ), wts AS (
          SELECT lang, n, pow(n::DOUBLE / (SELECT N FROM tot), {inv_t}) AS w
          FROM cnt
        ), zz AS (
          SELECT SUM(w) AS z FROM wts
        ), par AS (
          SELECT lang,
                 ((w / (SELECT z FROM zz)) * (SELECT N FROM tot)) / n AS m
          FROM wts
        ), pp AS (
          -- floor before the BIGINT cast: DuckDB's double->int cast
          -- ROUNDS, Python's int() truncates
          SELECT lang, CAST(floor(m) AS INTEGER) AS base,
                 CAST(floor((m - floor(m)) * {float(1 << 60)}) AS BIGINT) AS thr
          FROM par
        ), rr AS (
          SELECT d.doc_id, d.lang,
                 p.base + CASE WHEN {coin} < p.thr THEN 1 ELSE 0 END AS reps
          FROM documents d JOIN pp p USING (lang)
        )
        SELECT doc_id, lang,
               unnest(generate_series(0, reps - 1))::INTEGER AS rep_idx
        FROM rr WHERE reps >= 1
    """


def _build_tokenize_ids_oracle(vocab_size: int = 512) -> str:
    """SQL twin of text.tokenize_ids: identical lexer regex (ASCII-
    explicit, Java/RE2 same), identical top-V vocab rule, identical
    OOV id (= actual vocab size), arrays reassembled in token order."""
    from featherstore_spark.functions.text import BPE_TOKEN_RE

    # DuckDB string literals do NOT process backslash escapes — embed raw
    pat = BPE_TOKEN_RE
    return rf"""
        WITH tk AS (
          SELECT doc_id,
                 regexp_extract_all(lower(coalesce(text, '')), '{pat}') AS toks
          FROM documents
        ), e AS (
          SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
          FROM tk
        ), cnt AS (
          SELECT t, COUNT(*) AS c FROM e GROUP BY t
        ), vocab AS (
          SELECT t, rn - 1 AS tid FROM (
            SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM cnt
          ) WHERE rn <= {vocab_size}
        ), vs AS (
          SELECT COUNT(*) AS oov_id FROM vocab
        ), enc AS (
          SELECT e.doc_id,
                 list(COALESCE(v.tid, (SELECT oov_id FROM vs))::INTEGER
                      ORDER BY e.pos) AS token_ids,
                 COUNT(*)::BIGINT AS n_tokens,
                 ROUND(SUM(CASE WHEN v.tid IS NULL THEN 1 ELSE 0 END)::DOUBLE
                       / COUNT(*), 6) AS oov_frac
          FROM e LEFT JOIN vocab v USING (t)
          GROUP BY e.doc_id
        )
        SELECT d.doc_id,
               COALESCE(enc.token_ids, []::INTEGER[]) AS token_ids,
               COALESCE(enc.n_tokens, 0)::BIGINT AS n_tokens,
               COALESCE(enc.oov_frac, 0.0) AS oov_frac
        FROM documents d LEFT JOIN enc USING (doc_id)
    """


def _build_histogram_quantiles_oracle(
    bins: int = 128, qs: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> str:
    """SQL twin of sketch.histogram_quantiles: identical global edges,
    identical IEEE bin/edge arithmetic, identical ceil(q*n) cut."""
    from featherstore_spark.operators.sketch import _qname

    hits = ",\n                 ".join(
        f"MIN(CASE WHEN cum >= ceil({q} * n) THEN b END) AS b_{_qname(q)}"
        for q in qs
    )
    ests = ",\n               ".join(
        f"ROUND((SELECT lo FROM st) + (s.b_{_qname(q)} + 1) * (SELECT w FROM st), 6)"
        f" AS {_qname(q)}"
        for q in qs
    )
    return f"""
        WITH src AS (
          SELECT event_type, value::DOUBLE AS x FROM events WHERE value IS NOT NULL
        ), st AS (
          SELECT MIN(x) AS lo, MAX(x) AS hi, (MAX(x) - MIN(x)) / {bins} AS w FROM src
        ), bb AS (
          SELECT event_type,
                 CASE WHEN (SELECT w FROM st) = 0 THEN 0
                      ELSE LEAST(CAST(floor((x - (SELECT lo FROM st)) / (SELECT w FROM st)) AS INTEGER), {bins - 1})
                 END AS b
          FROM src
        ), c AS (
          SELECT event_type, b, COUNT(*) AS c FROM bb GROUP BY 1, 2
        ), cum AS (
          SELECT event_type, b, c,
                 SUM(c) OVER (PARTITION BY event_type ORDER BY b
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY event_type) AS n
          FROM c
        ), s AS (
          SELECT event_type, MAX(n)::BIGINT AS n,
                 {hits}
          FROM cum GROUP BY event_type
        )
        SELECT s.event_type, s.n,
               {ests}
        FROM s
    """


def _build_quality_classifier_oracle(threshold: float = 0.0, seed: int = 42) -> str:
    """SQL twin of text.quality_classifier: identical tokenization,
    identical integer hash-weight arithmetic, identical sequential fold
    (list_reduce (a,b)->a+b == Spark's aggregate fold since 0.0+x == x)."""
    from featherstore_spark.functions.hashing import sql_md5_long60

    w = sql_md5_long60(f"'qc:{seed}:'||x")
    return rf"""
        WITH tk AS (
          SELECT doc_id,
                 CASE WHEN trim(coalesce(lower(text), '')) = '' THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(coalesce(lower(text), '')), '\s+')
                 END AS t
          FROM documents
        ), sc AS (
          SELECT doc_id, len(t)::BIGINT AS n_tokens,
                 CASE WHEN len(t) = 0 THEN 0.0
                      ELSE ROUND(list_reduce(
                             list_transform(t, x -> (({w} % 2001 - 1000) / 1000.0)),
                             (a, b) -> a + b) / len(t), 6)
                 END AS q_score
          FROM tk
        )
        SELECT doc_id, q_score, q_score >= {threshold} AS keep, n_tokens FROM sc
    """


def _build_char_lm_oracle(vocab_size: int = 256) -> str:
    """SQL twin of text.char_bigram_lm: same normalized bigrams, same
    top-V vocab (count DESC, gram ASC), same ln(count/N) / ln(0.5/N)
    formula recomputed from the identical integers (same-host libm),
    scoring via unnest + LEFT JOIN + per-doc mean."""
    return rf"""
        WITH base AS (
          SELECT doc_id,
                 lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))) AS s
          FROM documents
        ), g AS (
          SELECT doc_id,
                 CASE WHEN length(s) >= 2
                      THEN list_transform(generate_series(1, length(s) - 1),
                                          i -> substring(s, i, 2))
                      ELSE []::VARCHAR[] END AS grams
          FROM base
        ), e AS (
          SELECT doc_id, unnest(grams) AS gm FROM g
        ), cnt AS (
          SELECT gm, COUNT(*) AS c FROM e GROUP BY gm
        ), tot AS (
          SELECT SUM(c)::DOUBLE AS n FROM cnt
        ), vocab AS (
          SELECT gm, c FROM cnt ORDER BY c DESC, gm LIMIT {vocab_size}
        ), scored AS (
          SELECT e.doc_id,
                 SUM(COALESCE(ln(v.c::DOUBLE / t.n), ln(0.5 / t.n))) AS lsum,
                 COUNT(*) AS ng
          FROM e LEFT JOIN vocab v USING (gm) CROSS JOIN tot t
          GROUP BY e.doc_id
        )
        SELECT g.doc_id, len(g.grams)::BIGINT AS n_grams,
               CASE WHEN s.ng IS NULL THEN NULL
                    ELSE ROUND(-(s.lsum / s.ng), 6) END AS avg_nll,
               CASE WHEN s.ng IS NULL THEN NULL
                    ELSE ROUND(exp(-(s.lsum / s.ng)), 6) END AS ppl
        FROM g LEFT JOIN scored s USING (doc_id)
    """
