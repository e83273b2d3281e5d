"""Similarity search over embedding columns (array<float>).

Three tiers:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (they are the small side by construction); the
  corpus streams through one projection + per-query top-k window.  At 100
  TB this is the right plan whenever |queries| is small (the usual case for
  eval/retrieval audits): no corpus shuffle at all until the final
  per-query k-row reduction.
- ``lsh_ann_topk``: random-hyperplane LSH — corpus and queries are bucketed
  by sign-pattern; exact scoring happens only within matching buckets
  (multi-probe over ``n_tables`` independent tables).  Approximate, scales
  to corpora where even one full scan per query batch is too much.
- ``ivf_ann_topk``: inverted lists around a deterministic coarse quantizer;
  queries probe their nearest lists only.

All randomness is md5-derived via functions.hashing (Rademacher ±1
hyperplanes, md5-ranked centroid seeds) — no RNG state, identical indexes
on any cluster size AND recomputable in DuckDB SQL, so the driver value-
checks the ANN outputs (CORRECTNESS gate), not just row counts.  Ranking
ties always break on the 6-decimal-rounded cosine then neighbor id, so
the output is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featherstore_spark.functions.hashing import (
    md5_long60,
    rademacher_planes,
    signed_sum,
)


def _cos(v_a: str, v_b: str) -> F.Column:
    dot = F.aggregate(F.zip_with(v_a, v_b, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(F.transform(v_a, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nb = F.sqrt(F.aggregate(F.transform(v_b, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _norm_hof(v) -> F.Column:
    """sqrt(sum of squares) — EXACTLY the ``na``/``nb`` leg of
    :func:`_cos` (same HOF fold, any array length).  Kept in HOF form on
    purpose: norms are computed once per ROW (cheap), and the HOF is
    length-generic, so precomputed norms match the inline ones
    bit-for-bit on every input including malformed short vectors."""
    a = F.col(v) if isinstance(v, str) else v
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _cos_prenorm(v_a, v_b, na, nb) -> F.Column:
    """:func:`_cos` with PRE-COMPUTED norm columns: on a pair join, each
    side's norm is a pure function of that side's vector, so computing it
    once per ROW before the join (instead of once per PAIR inside the
    join condition) removes two thirds of the per-pair arithmetic with
    bit-identical results (same expression, same input).  The dot is the
    generic HOF fold: a fixed-dim expansion into one codegen'd sum
    measured slower (61 s vs 33 s)."""
    dot = F.aggregate(
        F.zip_with(v_a, v_b, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for every query vector.  Self-matches (same
    id) are excluded.  Ties break by corpus id ASC (deterministic).

    Each side's norm is computed once per ROW before the pair join
    (:func:`_cos_prenorm`): per (query, corpus) pair only the dot + one
    division remain — bit-identical to the inline :func:`_cos`."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("__qn", _norm_hof("qv"))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("__cn", _norm_hof("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_cos_prenorm("qv", "cv", "__qn", "__cn"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket_ids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Adds an array of ``n_tables`` sign-pattern bucket ids (one per LSH
    table).  Hyperplanes are Rademacher ±1 (hashing.rademacher_planes), so
    each projection is a pure signed sum of vector elements — whole-stage
    codegen, no Python, and bitwise reproducible in the SQL oracle (the
    addition order is pinned by hashing.signed_sum).  Table index sits in
    the high bits so buckets never collide across tables."""
    v = F.col(vec_col).cast("array<double>")
    buckets = []
    for t in range(n_tables):
        planes = rademacher_planes(n_planes, dim, table=t, seed=seed)
        bucket = F.lit(t << 56).cast("long")
        for p, signs in enumerate(planes):
            bucket = bucket + F.when(signed_sum(v, signs) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        buckets.append(bucket)
    return df.withColumn(out_col, F.array(*buckets))


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only (query, corpus) pairs sharing an LSH
    bucket in any table.  The bucket join and the candidate de-dup carry
    only (id, bucket) rows — 16 bytes — and the vectors are fetched back
    by two equi-joins afterwards, so no array ever rides through the
    distinct shuffle.  No broadcast of the corpus; AQE-skew-splittable."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    qb = lsh_bucket_ids(q, "qv", n_planes, n_tables, dim).select(
        "query_id", F.explode("bucket").alias("b")
    )
    cb = lsh_bucket_ids(c, "cv", n_planes, n_tables, dim).select(
        "neighbor_id", F.explode("bucket").alias("b")
    )
    cands = (
        qb.join(cb, "b")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", F.round(_cos("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ------------------------------------------------------------------- IVF --

def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: centroids are the ``n_centroids`` corpus vectors
    with the smallest md5-derived hash of their id (deterministic, no RNG,
    no k-means iteration — a coarse quantizer is enough for inverted-list
    routing); every corpus vector is assigned to its nearest centroid by
    rounded cosine (round 6; ties break by centroid id — engine-
    independent ordering).

    The assignment is one broadcast nested pass: O(N x C) cosine evals,
    embarrassingly parallel map-side work paid once at index-build time —
    the standard IVF trade.  Returns (assigned_corpus, centroids)."""
    cent = (
        corpus.select(
            F.col(corpus_id).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid_v"),
        )
        .orderBy(
            md5_long60(F.col("centroid_id").cast("string")) % F.lit(1_000_000_007),
            "centroid_id",
        )
        .limit(n_centroids)
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    scored = c.join(F.broadcast(cent), how="cross").withColumn(
        "sim", F.round(_cos("cv", "centroid_v"), 6)
    )
    w = Window.partitionBy("cid").orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("cid").alias(corpus_id), F.col("cv").alias(vec_col), "centroid_id")
    )
    return assigned, cent


# -------------------------------------------------------------------- PQ --

def pq_fit_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ks: int = 8,
    iters: int = 2,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    prequantized: DataFrame | None = None,
) -> list[list[list[int]]]:
    """Product-quantization codebook fit (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector space is
    split into ``m`` contiguous subspaces of ``dim/m`` elements and each
    subspace gets its own ``ks``-centroid codebook from the shared
    fixed-point Lloyd loop (clustering._lloyd_centroids) — md5-rank
    seeds per subspace (tag ``pq:{seed}:{s}:``), exact integer rounds,
    so the codebooks are bit-identical on any cluster size AND
    recomputable in the DuckDB SQL twin.

    Cost: m × (1 seed top-k + iters aggregations) over the corpus —
    index-build-time work, embarrassingly parallel, driver state
    O(m × ks × dim/m) ints.  At 100 TB you fit on a deterministic
    hash sample (sampling.hash_sample composes — the twin adds one
    md5-coin WHERE) and encode the full corpus; the contract query fits
    on the full small-SF table for a sharper oracle."""
    from featherstore_spark.functions.text import balance_small_input
    from featherstore_spark.operators.clustering import (
        _lloyd_centroids,
        quantize_vec,
    )

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    # same estimate-gated rebalance as kmeans_fit_assign: the m x
    # (seed top-k + iters aggregates) Lloyd jobs inherit the scan's
    # split count, and a small single-file corpus arrives as ONE split.
    # The quantized table is CHECKPOINTED once — every subspace's seed
    # top-k and every Lloyd aggregate (m × (iters+1) jobs) would
    # otherwise re-run the scan + quantize validation HOFs.
    # ``prequantized`` lets pq_ann_topk share ONE such table between the
    # fit and the encode pass.
    qdf = (
        prequantized
        if prequantized is not None
        else balance_small_input(corpus)
        .select(F.col(corpus_id).alias("vec_id"), quantize_vec(vec_col, dim).alias("__qfull"))
        .localCheckpoint(eager=True)
    )

    # The m subspace fits are INDEPENDENT job chains of tiny aggregates
    # over the checkpointed table — run them from a thread pool so each
    # chain's driver round-trips overlap instead of serializing (guide
    # §2.6 overlap-independent-jobs; results are deterministic because
    # every chain is a pure function of qdf and its own seed tag).
    def _fit(s: int) -> list[list[int]]:
        sliced = qdf.select("vec_id", F.slice("__qfull", s * sub + 1, sub).alias("qv"))
        return _lloyd_centroids(sliced, ks, iters, sub, f"pq:{seed}:{s}:", "vec_id")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=m) as pool:
        books = list(pool.map(_fit, range(m)))
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[int]]],
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    prequantized: DataFrame | None = None,
) -> DataFrame:
    """Encode every vector as ``m`` small codes: per subspace, the
    argmin-distance codebook entry (ties break on code index ASC via the
    same (d, c) struct-min as k-means assignment).  Output is
    (corpus_id, codes array<int>) — m ints instead of dim floats, the
    16-64× compression that lets the ANN scan touch ONLY codes.
    ``prequantized`` (a (vec_id, __qfull) table, e.g. the codebook fit's
    checkpoint) skips re-quantizing the corpus — without it the chained
    per-subspace withColumns collapse into one Project where the
    quantize-validation HOFs are re-inlined per reference."""
    from featherstore_spark.operators.clustering import _assign_expr, quantize_vec

    m = len(books)
    sub = dim // m
    enc = (
        prequantized
        if prequantized is not None
        else corpus.select(
            F.col(corpus_id).alias("vec_id"), quantize_vec(vec_col, dim).alias("__qfull")
        )
    )
    for s in range(m):
        enc = enc.withColumn(f"__qs{s}", F.slice("__qfull", s * sub + 1, sub)).withColumn(
            f"__q2s{s}",
            F.expr(f"aggregate(__qs{s}, 0L, (a, x) -> a + x * x)"),
        )
        enc = enc.withColumn(f"__code{s}", _assign_expr(books[s], f"__qs{s}", f"__q2s{s}"))
    return enc.select(
        "vec_id", F.array(*[F.col(f"__code{s}") for s in range(m)]).alias("codes")
    )


def _pq_dtab_expr(book: list[list[int]], qv_col: str, q2_col: str):
    """Per-query asymmetric-distance table for one subspace: element j =
    exact int64 ||q_s - c_j||^2 via the shared ||q||^2 − 2q·c + ||c||^2
    expansion over a from_json-folded constant codebook (the same
    constant-folding trick as clustering._assign_expr)."""
    import json

    ks = len(book)
    cmat = json.dumps([[int(v) for v in c] for c in book])
    c2s = json.dumps([sum(int(v) * int(v) for v in c) for c in book])
    return F.expr(
        f"transform(sequence(1, {ks}), j -> "
        f"{q2_col} - 2L * aggregate(zip_with({qv_col}, "
        f"element_at(from_json('{cmat}', 'array<array<bigint>>'), j), "
        f"(x, y) -> x * y), 0L, (a, t) -> a + t) "
        f"+ element_at(from_json('{c2s}', 'array<bigint>'), j))"
    )


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 4,
    ks: int = 8,
    iters: int = 2,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by product-quantization ADC (asymmetric
    distance computation): corpus vectors are compressed to ``m`` codes
    once at index-build time; each query precomputes an m × ks integer
    distance table, and scoring a candidate is m array lookups + adds —
    the raw vectors NEVER enter the scan.

    Scale shape (the reason PQ exists): the scoring pass reads the codes
    table only — m ints per vector vs dim floats, ≥16× less IO at
    dim=64/m=4 — with the queries (plus their tiny distance tables)
    broadcast; no corpus shuffle, no vector movement, one per-query
    top-k window at the end.  Compose with ``ivf_assign`` list pruning
    to cut the candidate set as well as the per-candidate cost.

    Everything is exact int64 arithmetic on fixed-point-quantized
    vectors (clustering.py contract), so ADC distances and ranks are
    engine-independent and the DuckDB twin value-checks the whole
    pipeline — codebook fit included.  Output: (query_id, neighbor_id,
    adc_dist, rank), self-matches excluded, ties by neighbor_id ASC."""
    from featherstore_spark.functions.text import balance_small_input
    from featherstore_spark.operators.clustering import quantize_vec

    # quantize + validate the corpus ONCE for both the codebook fit and
    # the encode pass (each would otherwise re-run the scan + the
    # quantize HOFs across their many jobs)
    qfull = (
        balance_small_input(corpus)
        .select(F.col(corpus_id).alias("vec_id"), quantize_vec(vec_col, dim).alias("__qfull"))
        .localCheckpoint(eager=True)
    )
    books = pq_fit_codebooks(
        corpus, m, ks, iters, corpus_id, vec_col, dim, seed, prequantized=qfull
    )
    sub = dim // m
    codes = pq_encode(corpus, books, corpus_id, vec_col, dim, prequantized=qfull)

    q = queries.select(
        F.col(query_id).alias("query_id"), quantize_vec(vec_col, dim).alias("__qfull")
    )
    for s in range(m):
        q = q.withColumn(f"__qs{s}", F.slice("__qfull", s * sub + 1, sub)).withColumn(
            f"__q2s{s}",
            F.expr(f"aggregate(__qs{s}, 0L, (a, x) -> a + x * x)"),
        )
        q = q.withColumn(f"__dt{s}", _pq_dtab_expr(books[s], f"__qs{s}", f"__q2s{s}"))
    qdt = q.select(
        "query_id", F.array(*[F.col(f"__dt{s}") for s in range(m)]).alias("dtab")
    )

    adc = F.expr(
        "aggregate(zip_with(dtab, codes, (t, c) -> element_at(t, c + 1)), "
        "0L, (a, x) -> a + x)"
    )
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qdt), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_dist", adc)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via inverted lists: queries probe their
    ``n_probes`` nearest centroids and score exactly only within those
    lists — the scored fraction is ~n_probes/n_centroids of the corpus.
    The probe join is an equi-join on centroid_id (shuffle-partitioned,
    skew-splittable by AQE)."""
    assigned, cent = ivf_assign(corpus, n_centroids, corpus_id, vec_col)
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    q_scored = q.join(F.broadcast(cent), how="cross").withColumn(
        "sim", F.round(_cos("qv", "centroid_v"), 6)
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probes)
        .select("query_id", "qv", "centroid_id")
    )
    cands = probes.join(
        assigned.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("cv"), "centroid_id"),
        "centroid_id",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.withColumn("cosine", F.round(_cos("qv", "cv"), 6))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
