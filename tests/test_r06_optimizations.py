"""Focused tests for round-6 optimization internals.

Each optimization here changed HOW an operator computes, never WHAT:
- drop_duplicate_spans: canonical-occurrence pick via an order-preserving
  decimal(38,0) pack of (id, pos) instead of min(struct) (SortAggregate →
  HashAggregate).  Must hold for negative and huge ids.
- repetition_stats: top-gram pick via a (count, count·len) decimal pack
  instead of max(struct).  Count must dominate, then gram length.
- semantic_dedup: within-cluster pair phase via per-task float64 BLAS
  blocks with a certain/border split re-verified by the exact JVM
  expression.  Must agree with a pure-python replication of the exact
  fold + HALF_UP rounding, including at the threshold boundary.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from featherstore_spark.functions.text import repetition_stats
from featherstore_spark.operators.clustering import semantic_dedup
from featherstore_spark.operators.dedup import drop_duplicate_spans


def test_span_canon_pack_handles_negative_and_huge_ids(spark):
    """The decimal pack id·2^32+pos must stay lexicographic for negative
    and near-2^63 ids: the canonical copy of a duplicated run is the one
    in the SMALLEST id, so every other copy is cut."""
    # a 50-char run with NO internal 40-gram repeats (a constant-char run
    # would self-duplicate: its own 40-grams repeat within one copy)
    dup = "the quick brown fox jumps over the lazy dog 012345"
    assert len(dup) == 50
    rows = [
        (-5, dup + " left home"),
        (3, "middle " + dup),
        (2**62, dup + " tail"),
        (7, "clean document with no duplicated content at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in drop_duplicate_spans(df, min_len=40).collect()}
    # id -5 is the lexicographic minimum -> keeps its copy
    assert out[-5]["cut_chars"] == 0
    assert dup in out[-5]["clean_text"]
    # both larger ids lose their copy
    for i in (3, 2**62):
        assert out[i]["cut_chars"] >= 50
        assert dup not in out[i]["clean_text"]
    assert out[7]["cut_chars"] == 0


def test_span_canon_pack_within_doc_position(spark):
    """Within one doc the canonical occurrence is the SMALLEST position:
    a doc repeating a run twice keeps the first copy only."""
    dup = "pack my box with five dozen liquor jugs 12345"  # 45 chars, no self-repeat
    assert len(dup) == 45
    df = spark.createDataFrame(
        [(1, dup + " and then " + dup)], "doc_id long, text string"
    )
    r = drop_duplicate_spans(df, min_len=40).collect()[0]
    assert r["clean_text"].startswith(dup)
    assert r["clean_text"].count(dup) == 1


def _top_frac_reference(text: str, top_n: int) -> float:
    """Pure-python replication of top_ngram_char_frac: the single most
    frequent REPEATED n-gram by (count, count·len) with count > 1."""
    toks = text.lower().split()
    grams = [" ".join(toks[i : i + top_n]) for i in range(len(toks) - top_n + 1)]
    counts: dict[str, int] = {}
    for g in grams:
        counts[g] = counts.get(g, 0) + 1
    total = sum(c * len(g) for g, c in counts.items())
    reps = [(c, c * len(g)) for g, c in counts.items() if c > 1]
    top = max(reps) if reps else None
    num = top[1] if top else 0
    return float(
        Decimal(num / total if total else 0.0).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def test_gopher_pack_count_dominates_then_length(spark):
    """(c, cl) pack: a 3× short gram must beat a 2× long gram (count
    first); among equal counts the longer gram wins — checked against a
    pure-python recomputation."""
    texts = [
        "aa bb aa bb cc dd cc dd",          # tie on count -> longer wins
        "a b a b a b longggggg tail xx yy",  # 3x 'a b' beats any 2x gram
        "unique words only here now",        # no repeated gram -> 0.0
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["top_ngram_char_frac"]
        for r in repetition_stats(df, top_n=2, dup_n=3).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == pytest.approx(_top_frac_reference(t, 2), abs=0), (
            f"doc {i}: engine {got[i]} != reference {_top_frac_reference(t, 2)}"
        )


def _round6_half_up(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _exact_cos(a: list[float], b: list[float]) -> float:
    """Replicates the JVM fold bit-for-bit: left-to-right double sums."""
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    na, nb = math.sqrt(na), math.sqrt(nb)
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


def test_semantic_dedup_blas_matches_exact_brute_force(spark):
    """The BLAS certain/border pair phase must reproduce the exact
    drop set: doc i is dropped iff some lower-id same-cluster doc has
    round6(cos) >= threshold.  Verified against a pure-python
    replication (exact left-fold cosine + HALF_UP rounding) on a corpus
    with near-threshold pairs."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim, n = 64, 80
    base = rng.rand(3, dim) * 0.4  # three loose "topics", values in [0, .4)
    vecs = []
    for i in range(n):
        v = base[i % 3] + rng.rand(dim) * 0.25
        vecs.append([float(x) for x in v])
    df = spark.createDataFrame(
        [(i, vecs[i]) for i in range(n)], "vec_id long, embedding array<double>"
    )
    threshold = 0.95
    # force the BLAS branch (the sf-small pair estimate would otherwise
    # take the plain-join branch, which IS the round-start code path)
    import featherstore_spark.operators.clustering as clustering_mod

    old_fork = clustering_mod._SEMDEDUP_PAIR_JOIN_MAX
    clustering_mod._SEMDEDUP_PAIR_JOIN_MAX = 0
    try:
        out = semantic_dedup(df, k=2, iters=2, threshold=threshold)
        got = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
        # and the join branch must agree exactly with the BLAS branch
        clustering_mod._SEMDEDUP_PAIR_JOIN_MAX = old_fork
        join_out = {
            r["vec_id"]: (r["cluster_id"], r["keep"])
            for r in semantic_dedup(df, k=2, iters=2, threshold=threshold).collect()
        }
        assert join_out == got, "join and BLAS pair phases disagree"
    finally:
        clustering_mod._SEMDEDUP_PAIR_JOIN_MAX = old_fork
    clusters: dict[int, list[int]] = {}
    for i in range(n):
        clusters.setdefault(got[i][0], []).append(i)
    for cid, members in clusters.items():
        for j in members:
            expect_drop = any(
                i < j and _round6_half_up(_exact_cos(vecs[i], vecs[j])) >= threshold
                for i in members
            )
            assert got[j][1] == (not expect_drop), (
                f"vec {j} in cluster {cid}: keep={got[j][1]} but exact "
                f"recomputation says drop={expect_drop}"
            )


def test_semantic_dedup_exact_threshold_boundary(spark):
    """A pair engineered to sit exactly ON the rounded threshold must be
    dropped (round6 at the boundary rounds half UP into the cut)."""
    dim = 64
    a = [1.0] + [0.0] * (dim - 1)
    c, s = 0.35, math.sqrt(1 - 0.35 * 0.35)
    b = [c, s] + [0.0] * (dim - 2)
    d1 = [0.0] * (dim - 1) + [1.0]
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, d1), (4, d1)], "vec_id long, embedding array<double>"
    )
    # k=1: ONE cluster, so every pair is compared and the outcome is a
    # pure function of the cosines — no dependence on cluster assignment.
    # Forced onto the BLAS branch: the boundary pair lands in the border
    # band and must be re-decided by the exact JVM expression.
    import featherstore_spark.operators.clustering as clustering_mod

    old_fork = clustering_mod._SEMDEDUP_PAIR_JOIN_MAX
    clustering_mod._SEMDEDUP_PAIR_JOIN_MAX = 0
    try:
        out = {
            r["vec_id"]: r["keep"]
            for r in semantic_dedup(df, k=1, iters=1, threshold=0.35).collect()
        }
    finally:
        clustering_mod._SEMDEDUP_PAIR_JOIN_MAX = old_fork
    exact_ab = _round6_half_up(_exact_cos(a, b))
    assert out[1] is True  # lowest id always survives
    assert out[2] == (exact_ab < 0.35), (
        f"boundary pair: exact round6 cos={exact_ab}, keep={out[2]}"
    )
    assert out[3] is True and out[4] is False  # identical pair collapses


def test_semantic_dedup_over_cap_block_is_sliced(spark, monkeypatch):
    """A cluster whose members all hash to BLAS group 0 for every group
    count 1..8 (xxhash64 ≡ 0 mod 840) puts 2200 x 2200 = 4.84M pairs in
    one task block, above the 4M per-task cap.  The block is scored in
    row slices instead of failing the job, and the keep flags equal a
    numpy recomputation."""
    import numpy as np

    import featherstore_spark.operators.clustering as clustering_mod

    n, dim, threshold = 2200, 64, 0.95
    ids = sorted(
        r["id"]
        for r in spark.range(0, 4_000_000)
        .where(F.pmod(F.xxhash64("id"), F.lit(840)) == 0)
        .limit(n)
        .collect()
    )
    assert len(ids) == n
    rng = np.random.RandomState(11)
    x = rng.uniform(-0.5, 0.5, size=(n, dim))
    # every 10th vector is a near copy of its predecessor
    x[1::10] = x[0::10] + rng.uniform(-1e-4, 1e-4, size=(n // 10, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in zip(ids, x)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(clustering_mod, "_SEMDEDUP_PAIR_JOIN_MAX", 0)
    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(df, k=1, iters=1, threshold=threshold).collect()
    }
    unit = x / np.linalg.norm(x, axis=1)[:, None]
    upper = np.triu(unit @ unit.T, 1)  # rows are in id order: i < j
    tri = np.triu(np.ones((n, n), dtype=bool), 1)
    assert np.abs(upper[tri] - threshold).min() > 1e-6  # no pair near the cut
    drop = ((upper >= threshold) & tri).any(axis=0)
    assert drop.sum() == n // 10
    assert got == {i: not d for i, d in zip(ids, drop)}


def test_semantic_dedup_threshold_rounded_to_6dp(spark, monkeypatch):
    """threshold=0.8500001 is read as 0.85 on both pair-phase branches: a
    pair at cosine 0.8500002 rounds to 0.850000, so the join branch's
    round6(cos) >= t drops it exactly as the BLAS branch's certain zone
    does."""
    import featherstore_spark.operators.clustering as clustering_mod

    dim, c = 64, 0.8500002
    a = [1.0] + [0.0] * (dim - 1)
    b = [c, math.sqrt(1 - c * c)] + [0.0] * (dim - 2)
    far = [0.0] * (dim - 1) + [1.0]
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, far)], "vec_id long, embedding array<double>"
    )

    def keep():
        out = semantic_dedup(df, k=1, iters=1, threshold=0.8500001)
        return {r["vec_id"]: r["keep"] for r in out.collect()}

    joined = keep()
    monkeypatch.setattr(clustering_mod, "_SEMDEDUP_PAIR_JOIN_MAX", 0)
    assert keep() == joined == {1: True, 2: False, 3: True}
