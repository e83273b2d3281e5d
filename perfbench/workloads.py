"""The three workloads: what users run, made from a seed.

Each workload has
- ``setup()``: one pass of input generation (run several times; every
  pass rewrites the same inputs byte for byte);
- ``load()``: open the inputs, count the rows the job consumes;
- ``prepare()`` / ``job(tr)``: clear the previous output, then run the
  job the way the CLI does (``prepare`` is not timed).  ``job`` wraps
  each layer call in a span of ``tr``; the measured runs pass a tracer
  that records nothing;
- ``check(result, full)``: verify the output outside the timed region.
  Every run is compared with the first run's output fingerprint; the
  ``full`` check compares the first run against a reference;
- ``trace(tr)``: after one traced ``job``, the per-layer metrics: the
  job's own spans plus standalone calls into layers the job reaches
  only lazily or from inside another call.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import warnings
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from featherstore_spark.datagen import generate_spine, generate_transcripts
from featherstore_spark.operators.asof import asof_join, auto_bucket_width_us
from featherstore_spark.operators.sessionize import sessionize
from featherstore_spark.operators.windows import turn_features
from featherstore_spark.plans.checkpoint import MANIFEST, clear_stale_output, run_with_checkpoint
from featherstore_spark.plans.materialize import FEATURE_COLS, build_feature_log, ordered_output
from featherstore_spark.schema import validate_transcripts


class CheckFailed(Exception):
    pass


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def manifest_buckets(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as fh:
        buckets = json.load(fh)["buckets"]
    return {b: (m["row_count"], m["content_hash"]) for b, m in sorted(buckets.items())}


def _values(col: pd.Series) -> list:
    """Column values with nulls as None and numbers as ints, so integer
    columns compare equal across pandas dtypes."""
    return [None if pd.isna(v) else v if isinstance(v, str) else int(v) for v in col]


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# ----------------------------------------------------------- reference --

def feature_log_reference(t: pd.DataFrame, gap_s: float = 1800.0, trailing_s: float = 600.0) -> pd.DataFrame:
    """Per-turn features in plain pandas; ``session_id`` from the
    package's own pandas oracle (``featherstore_spark.oracle``)."""
    from featherstore_spark.oracle import sessionize_pd

    out = []
    s = sessionize_pd(t, gap_s=gap_s)
    for _, g in s.groupby("conv_id", sort=False):
        g = g.sort_values("turn_idx").copy()
        g["prev_role"] = g["role"].shift(1)
        g["next_role"] = g["role"].shift(-1)
        g["gap_s"] = g["ts"].diff().dt.total_seconds()
        g["text_len"] = g["text"].fillna("").str.len()
        g["is_tool_call"] = g["tool"].notna().astype(int)
        g["cum_turns"] = np.arange(1, len(g) + 1)
        g["cum_tool_calls"] = g["is_tool_call"].cumsum()
        us = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        order = np.argsort(us, kind="stable")
        sus = us[order]
        tools = np.concatenate([[0], np.cumsum(g["is_tool_call"].to_numpy()[order])])
        lo = np.searchsorted(sus, us - int(trailing_s * 1e6), side="left")
        hi = np.searchsorted(sus, us, side="right")
        g["w_turns"] = hi - lo
        g["w_tool_calls"] = tools[hi] - tools[lo]
        out.append(g)
    return pd.concat(out, ignore_index=True)


def char_grams(text: str, n: int = 3) -> set[str]:
    """Char n-gram set after the package's normalization (collapse
    whitespace, trim, lowercase), computed independently of it."""
    s = " ".join(text.split()).lower()
    if not s:
        return set()
    return {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}


def jaccard6(a: set, b: set) -> float:
    """Jaccard rounded half-up at 6 decimals, as Spark's ``round`` does
    (Python's ``round`` would round half to even)."""
    if not a and not b:
        return 0.0
    inter = len(a & b)
    j = Decimal(repr(inter / (len(a) + len(b) - inter)))
    return float(j.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def components_min(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """id -> smallest id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def checkpoint_metrics(tr, out: str, pipeline_span: dict) -> dict:
    """The checkpoint layer in the traced job: its wall, its cost over the
    same pipeline run to the noop sink, and what it wrote."""
    run = tr.find("checkpoint.run")
    size, files = dir_stats(out)
    return {
        "checkpoint.run_s": run["seconds"],
        "checkpoint.overhead_s": run["seconds"] - pipeline_span["seconds"],
        "checkpoint.buckets_committed": len(manifest_buckets(out)),
        "write.output_mb": size / (1 << 20),
        "write.files": files,
    }


# ------------------------------------------------------------ workloads --

class Workload:
    rows = 0  # input rows one job consumes

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.first = None  # fingerprint of the first run's output

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def prepare(self) -> None:
        clear_stale_output(self.path("out"))

    def output_stats(self) -> tuple[int, int, int]:
        """(bytes written, files written, output rows) of the last run."""
        size, files = dir_stats(self.path("out"))
        return size, files, self.rows

    def same_as_first(self, fp) -> None:
        if self.first is None:
            self.first = fp
        _require(fp == self.first, "output differs from the first run of this invocation")


class FeatureLog(Workload):
    """``run_with_checkpoint(pipeline=build_feature_log)`` over seeded
    uniform transcripts, as ``cli.py materialize`` runs it."""

    N_CONVS, MEAN_TURNS = 2500, 40

    def setup(self) -> None:
        generate_transcripts(
            self.spark, n_convs=self.N_CONVS, mean_turns=self.MEAN_TURNS, seed=self.seed
        ).write.mode("overwrite").parquet(self.path("transcripts"))

    def load(self) -> None:
        self.t = self.spark.read.parquet(self.path("transcripts"))
        self.rows = self.t.count()
        self.lineage = {"input": self.path("transcripts"), "params": {"seed": self.seed}}

    def job(self, tr) -> dict:
        with tr.span("checkpoint.run"):
            return run_with_checkpoint(self.t, self.path("out"), self.lineage, pipeline=build_feature_log)

    def check(self, result: dict, full: bool) -> float:
        _require(result["total_rows"] == self.rows,
                 f"feature log has {result['total_rows']} rows for {self.rows} turns")
        self.same_as_first(manifest_buckets(self.path("out")))
        if full:
            rng = random.Random(self.seed)
            convs = [r[0] for r in self.t.select("conv_id").distinct().collect()]
            sample = rng.sample(sorted(convs), 25)
            src = self.t.where(F.col("conv_id").isin(sample)).toPandas()
            got = (
                self.spark.read.parquet(self.path("out"))
                .where(F.col("conv_id").isin(sample)).toPandas()
                .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            )
            want = feature_log_reference(src).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            _require(len(got) == len(want), "sampled conversations: row count differs from reference")
            for c in ("prev_role", "next_role", "text_len", "is_tool_call", "cum_turns",
                      "cum_tool_calls", "w_turns", "w_tool_calls", "session_id"):
                _require(_values(got[c]) == _values(want[c]),
                         f"feature {c} differs from the reference on sampled conversations")
            _require(np.allclose(got["gap_s"].fillna(-1), want["gap_s"].fillna(-1)),
                     "gap_s differs from the reference on sampled conversations")
        return result["total_rows"] / self.rows

    def trace(self, tr) -> dict:
        t = self.t
        prefixes = [
            ("materialize.scan", lambda: validate_transcripts(t)),
            ("materialize.turn_features", lambda: turn_features(validate_transcripts(t))),
            ("materialize.sessionize", lambda: sessionize(turn_features(validate_transcripts(t)))),
            ("materialize.rolling_features", lambda: build_feature_log(t)),
            ("materialize.ordered_output", lambda: ordered_output(build_feature_log(t), n_buckets=16)),
        ]
        m, prev = {}, 0.0
        for name, build in prefixes:
            with tr.span(name) as s:
                _noop(build())
            # each prefix extends the one before: the layer gets the difference
            m[name + "_s"] = s["seconds"] - prev
            prev = s["seconds"]
        m.update(checkpoint_metrics(tr, self.path("out"), tr.find("materialize.rolling_features")))
        return m


class PitSkewed(Workload):
    """Point-in-time training set from a stored feature log of a skewed
    corpus: bucketed as-of join committed through run_with_checkpoint."""

    N_CONVS, MEAN_TURNS = 2500, 40
    MEGA = "conv_00000000"

    def setup(self) -> None:
        generate_transcripts(
            self.spark, n_convs=self.N_CONVS, mean_turns=self.MEAN_TURNS, seed=self.seed, skew=True
        ).write.mode("overwrite").parquet(self.path("transcripts"))
        t = self.spark.read.parquet(self.path("transcripts"))
        generate_spine(t, seed=self.seed).write.mode("overwrite").parquet(self.path("spine"))
        clear_stale_output(self.path("log"))
        run_with_checkpoint(t, self.path("log"), {"seed": self.seed}, pipeline=build_feature_log)
        self.width = auto_bucket_width_us(self.spark.read.parquet(self.path("log")))

    def load(self) -> None:
        self.log = self.spark.read.parquet(self.path("log"))
        self.spine = self.spark.read.parquet(self.path("spine"))
        self.rows = self.spine.count()
        first = self.log.groupBy("conv_id").agg(F.min("ts").alias("first_ts"))
        self.expected_matches = (
            self.spine.join(first, "conv_id").where(F.col("ts") >= F.col("first_ts")).count()
        )
        self.lineage = {"log": self.path("log"), "spine": self.path("spine"),
                        "params": {"seed": self.seed, "bucket": self.width}}

    def pipeline(self, strategy: str = "bucketed"):
        def pit(log, spine):
            feats = log.select("conv_id", "ts", "turn_idx", *FEATURE_COLS)
            return asof_join(spine, feats, on="conv_id", ts="ts", tiebreaks=("turn_idx",),
                             strategy=strategy, bucket=self.width)
        return pit

    def job(self, tr) -> dict:
        with tr.span("checkpoint.run"):
            return run_with_checkpoint(self.log, self.path("out"), self.lineage,
                                       pipeline=self.pipeline(), spine=self.spine)

    def check(self, result: dict, full: bool) -> float:
        _require(result["total_rows"] == self.rows,
                 f"training set has {result['total_rows']} rows for {self.rows} spine rows")
        self.same_as_first(manifest_buckets(self.path("out")))
        if full:
            # later runs match this one bucket by bucket (content hashes)
            out = self.spark.read.parquet(self.path("out"))
            row = out.agg(
                F.sum((F.col("f_ts") > F.col("ts")).cast("long")).alias("leaks"),
                F.count("f_ts").alias("matched"),
            ).first()
            _require(not row["leaks"], f"{row['leaks']} rows use a feature from after the spine time")
            self._check_reference(out)
            self.recall = row["matched"] / self.expected_matches
        return self.recall

    def _check_reference(self, out) -> None:
        from featherstore_spark.oracle import asof_join_pd

        rng = random.Random(self.seed)
        convs = sorted(r[0] for r in self.spine.select("conv_id").distinct().collect())
        ghosts = [c for c in convs if c.startswith("ghost_")]
        sample = rng.sample([c for c in convs if c != self.MEGA and not c.startswith("ghost_")], 15)
        sample += ghosts[:3]
        mega_ts = sorted(r[0] for r in self.spine.where(F.col("conv_id") == self.MEGA).select("ts").collect())
        lo = mega_ts[len(mega_ts) // 2]
        hi = mega_ts[min(len(mega_ts) - 1, len(mega_ts) // 2 + 150)]
        in_sample = F.col("conv_id").isin(sample) | (
            (F.col("conv_id") == self.MEGA) & F.col("ts").between(lo, hi)
        )
        cols = ["conv_id", "ts", "turn_idx", "session_id"]
        spine = self.spine.where(in_sample).toPandas()
        feats = self.log.where(
            F.col("conv_id").isin(sample) | ((F.col("conv_id") == self.MEGA) & (F.col("ts") <= hi))
        ).select(*cols).toPandas()
        want = asof_join_pd(spine, feats, tiebreaks=("turn_idx",))
        got = out.where(in_sample).select("conv_id", "ts", "f_ts", "f_turn_idx", "f_session_id").toPandas()
        key = ["conv_id", "ts", "f_turn_idx"]

        def norm(df):
            df = df[["conv_id", "ts", "f_ts", "f_turn_idx", "f_session_id"]].copy()
            df["f_turn_idx"] = df["f_turn_idx"].astype("float64").fillna(-1)
            df["f_session_id"] = df["f_session_id"].astype("float64").fillna(-1)
            for c in ("ts", "f_ts"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            return df.sort_values(key).reset_index(drop=True)

        a, b = norm(got), norm(want)
        _require(len(a) == len(b) and len(a) > 0, "sampled spine rows: count differs from the reference")
        _require(a.equals(b), "as-of matches differ from asof_join_pd on sampled entities")

    def trace(self, tr) -> dict:
        m = {}
        with tr.span("asof.auto_width") as s:
            width = auto_bucket_width_us(self.log)
        m["asof.auto_width_s"] = s["seconds"]
        m["asof.bucket_width_us"] = width
        for strategy in ("window", "bucketed"):
            with tr.span(f"asof.{strategy}") as s:
                _noop(self.pipeline(strategy)(self.log, self.spine))
            m[f"asof.{strategy}_s"] = s["seconds"]
        m.update(checkpoint_metrics(tr, self.path("out"), tr.find("asof.bucketed")))
        m["asof.match_ratio"] = (
            self.spark.read.parquet(self.path("out")).where(F.col("f_ts").isNotNull()).count() / self.rows
        )
        return m


class NearDup(Workload):
    """Training-corpus curation: the corpus pipeline (MinHash near-dup +
    exact-substring scrub), char-n-gram Jaccard pairs blocked by language,
    and SemDeDup over clustered embeddings."""

    N_DOCS, N_VECS = 1500, 12000
    NGRAM_THRESHOLD = 0.7
    SEM_THRESHOLD = 0.95
    SEM_K = 16
    #: semantic_dedup raises when one BLAS task block exceeds 4M pairs,
    #: which a k-means cluster just under a multiple of 2000 members can
    #: reach (seen at 12 seeded clusters, k=8, seed 8).  Capping clusters
    #: at 1900 members, the remedy the error names, keeps every block
    #: under the limit; capped clusters are kept without pairing.
    SEM_MAX_CLUSTER = 1900

    def setup(self) -> None:
        docs, self.near_pairs = inputs.make_documents(self.N_DOCS, self.seed)
        emb = inputs.make_embeddings(self.N_VECS, self.seed)
        self.spark.createDataFrame(docs).write.mode("overwrite").parquet(self.path("docs"))
        self.spark.createDataFrame(emb, "vec_id long, embedding array<double>") \
            .write.mode("overwrite").parquet(self.path("emb"))
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        self.vecs = emb

    def load(self) -> None:
        self.docs = self.spark.read.parquet(self.path("docs"))
        self.emb = self.spark.read.parquet(self.path("emb"))
        self.rows = self.N_DOCS
        # recall's denominator: injected pairs at or above the threshold
        self.truth = [
            p for p in self.near_pairs
            if jaccard6(char_grams(self.texts[p[0]]), char_grams(self.texts[p[1]])) >= self.NGRAM_THRESHOLD
        ]

    def prepare(self) -> None:
        shutil.rmtree(self.path("corpus"), ignore_errors=True)

    def corpus(self) -> dict:
        from featherstore_spark.plans.corpus import corpus_pipeline

        out, stats = corpus_pipeline(self.docs, near_dup="minhash", substring_dedup=True)
        out.write.mode("overwrite").partitionBy("split").parquet(self.path("corpus"))
        return stats

    def char_ngram(self) -> tuple[list, bool]:
        from featherstore_spark.operators.dedup import char_ngram_jaccard_pairs

        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            pairs = char_ngram_jaccard_pairs(
                self.docs, threshold=self.NGRAM_THRESHOLD, block_col="lang", method="auto"
            ).collect()
        lsh = any("MinHash-LSH" in str(w.message) for w in caught)
        return sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in pairs), lsh

    def semantic(self) -> pd.DataFrame:
        from featherstore_spark.operators.clustering import semantic_dedup

        return semantic_dedup(
            self.emb, k=self.SEM_K, threshold=self.SEM_THRESHOLD, max_cluster_size=self.SEM_MAX_CLUSTER
        ).toPandas()

    def job(self, tr) -> dict:
        with tr.span("corpus.pipeline"):
            stats = self.corpus()
        with tr.span("dedup.char_ngram"):
            pairs, lsh = self.char_ngram()
        with tr.span("clustering.semantic_dedup"):
            sem = self.semantic()
        return {"stats": stats, "pairs": pairs, "lsh": lsh, "sem": sem}

    def output_stats(self) -> tuple[int, int, int]:
        size, files = dir_stats(self.path("corpus"))
        return size, files, self.corpus_rows

    def check(self, result: dict, full: bool) -> float:
        stats, pairs, sem = result["stats"], result["pairs"], result["sem"]
        self.corpus_rows = stats["after_near_dedup"]
        keep = sem.sort_values("vec_id")
        fp = hashlib.sha256(json.dumps(
            [stats, pairs, keep["vec_id"].tolist(), keep["keep"].tolist(), keep["cluster_id"].tolist()]
        ).encode()).hexdigest()
        self.same_as_first(fp)
        emitted = {(a, b) for a, b, _ in pairs}
        recall = sum(p in emitted for p in self.truth) / len(self.truth)
        if full:
            self._check_pairs(pairs)
            self._check_components(pairs)
            self._check_semantic(sem)
            n = self.spark.read.parquet(self.path("corpus")).count()
            _require(n == stats["after_near_dedup"], "corpus output rows differ from its funnel report")
        return recall

    def _check_pairs(self, pairs) -> None:
        rng = random.Random(self.seed)
        sample = rng.sample(pairs, min(200, len(pairs)))
        for a, b, j in sample:
            exact = jaccard6(char_grams(self.texts[a]), char_grams(self.texts[b]))
            _require(abs(exact - j) < 1e-9 and exact >= self.NGRAM_THRESHOLD,
                     f"pair ({a},{b}) reports jaccard {j}, exact value is {exact}")

    def _check_components(self, pairs) -> None:
        from featherstore_spark.operators.dedup import connected_components

        df = self.spark.createDataFrame([(a, b) for a, b, _ in pairs], "id_a long, id_b long")
        got = {r["id"]: r["group_id"] for r in connected_components(df).collect()}
        _require(got == components_min([(a, b) for a, b, _ in pairs]),
                 "connected_components group_id is not the component minimum")

    def _check_semantic(self, sem) -> None:
        vecs = dict(zip(self.vecs["vec_id"], self.vecs["embedding"]))
        for _, g in sem.groupby("cluster_id"):
            if len(g) > self.SEM_MAX_CLUSTER:
                _require(g["keep"].all(), "semantic_dedup dropped a member of a capped cluster")
                continue
            g = g.sort_values("vec_id")
            x = np.array([vecs[i] for i in g["vec_id"]], dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            cos = x @ x.T
            # a doc is dropped iff a lower-id member of its cluster has
            # cosine >= threshold; pairs within float error of the
            # threshold leave the decision open, and are not judged
            surely = np.triu(cos >= self.SEM_THRESHOLD + 1e-6, k=1).any(axis=0)
            maybe = np.triu(cos >= self.SEM_THRESHOLD - 1e-6, k=1).any(axis=0)
            decided = surely == maybe
            _require((g["keep"].to_numpy() == ~surely)[decided].all(),
                     "semantic_dedup keep flags differ from the numpy reference")

    def trace(self, tr) -> dict:
        from featherstore_spark.operators.clustering import kmeans_fit_assign
        from featherstore_spark.operators.dedup import (
            connected_components,
            drop_duplicate_spans,
            minhash_near_duplicates,
        )

        res = self.traced_result
        stats, sem = res["stats"], res["sem"]
        m = {
            "corpus.pipeline_s": tr.find("corpus.pipeline")["seconds"],
            "corpus.kept_ratio": stats["after_near_dedup"] / stats["input"],
            "dedup.char_ngram_s": tr.find("dedup.char_ngram")["seconds"],
            "dedup.char_ngram_lsh": int(res["lsh"]),
            "dedup.char_ngram_pairs": len(res["pairs"]),
            "clustering.semantic_dedup_s": tr.find("clustering.semantic_dedup")["seconds"],
            "clustering.dropped_ratio": float((~sem["keep"]).mean()),
        }
        # the corpus pipeline's inner layers, called on their own on the
        # same documents (a span cannot reach inside the pipeline)
        with tr.span("dedup.minhash") as s:
            mh = minhash_near_duplicates(self.docs, threshold=0.9).localCheckpoint(eager=True)
        m["dedup.minhash_s"] = s["seconds"]
        with tr.span("dedup.connected_components") as s:
            cc_stats = {}
            connected_components(mh.select("id_a", "id_b"), stats=cc_stats)
        m["dedup.connected_components_s"] = s["seconds"]
        m["dedup.cc_rounds"] = cc_stats.get("rounds", 0)
        with tr.span("dedup.spans") as s:
            _noop(drop_duplicate_spans(self.docs, min_len=40))
        m["dedup.spans_s"] = s["seconds"]
        with tr.span("clustering.kmeans") as s:
            assigned, _ = kmeans_fit_assign(self.emb, k=self.SEM_K)
            sizes = assigned.groupBy("cluster_id").count().toPandas()["count"]
        m["clustering.kmeans_s"] = s["seconds"]
        paired = sizes[sizes <= self.SEM_MAX_CLUSTER]
        m["clustering.pair_estimate"] = int((paired ** 2).sum() // 2)
        return m


WORKLOADS = {"feature_log": FeatureLog, "pit_skewed": PitSkewed, "near_dup": NearDup}
