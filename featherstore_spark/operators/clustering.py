"""Deterministic distributed k-means + SemDeDup-style semantic dedup.

Why fixed-point: Lloyd's algorithm is centroid-mean → re-assign, and a
float mean is *summation-order dependent* — two engines (or two runs of
the same engine with different partitioning) can disagree in the last
ulp, flip one boundary assignment, and diverge completely by the next
iteration.  So the whole loop runs in integer space: embeddings are
quantized ONCE (``floor((x + offset) * scale)`` — the ``offset`` keeps
every value non-negative so truncating and flooring division coincide,
which is exactly where Python ``//``, Spark integer math and DuckDB
``//`` agree), distances are exact int64 sums, and centroid updates are
exact integer floor-divisions.  Every intermediate is bit-identical on
any cluster size AND recomputable in DuckDB SQL, so the driver
value-checks the full pipeline (CORRECTNESS gate), not just row counts.

Scale posture (100 TB):
- Seeding is md5-rank selection (smallest ``md5_long60(id)`` wins), the
  same deterministic no-RNG scheme as ``similarity.ivf_assign``
  (reference has no ANN/clustering tier; SURVEY §2 '+' families) —
  one top-k over (hash, id) pairs, k×dim ints to the driver.
- Each Lloyd iteration is ONE corpus scan: assignment is a broadcast of
  k×dim literal ints evaluated JVM-side (no Python, no join), and the
  centroid update is a map-side-combinable ``groupBy(cid)`` with
  dim+1 sum/count partials — the shuffle carries O(tasks × k) partial
  rows, never vectors.  Driver state is O(k × dim) ints per iteration.
- ``iters`` is a FIXED count (no convergence probe), so the job graph
  is static and the SQL twin can unroll it.  SemDeDup-quality clusters
  do not need convergence — 2-4 iterations over a coarse quantizer is
  the published recipe (Abbas et al. 2023, §3: k-means clusters are
  only a blocking structure for within-cluster pairwise cosine).
- ``semantic_dedup`` then self-joins WITHIN clusters only (equi-join on
  cid — shuffle-partitioned, AQE-skew-splittable), with a hot-cluster
  cap reusing the map-combinable guard from ``dedup._drop_hot_keys``;
  there is never a crossJoin and never a corpus broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featherstore_spark.functions.hashing import md5_long60

# Fixed-point parameters.  offset=1.0 maps any input in (-1, +inf) to a
# non-negative integer; scale=10^4 keeps 64-dim squared distances below
# 2^35 — exact in int64 AND in the oracle's float64 arithmetic.
Q_SCALE = 10_000
Q_OFFSET = 1.0

#: SemDeDup pair-phase fork: at or below this estimated within-cluster
#: pair count the plain equi-join wins (the BLAS path's fixed costs —
#: python workers, group-pair replication, border join — dominate small
#: inputs; measured 2.5 s join vs 6.0 s BLAS at sf0.1, and 3.7 s BLAS vs
#: ~12 s join at sf1.0's 25M pairs).  Both branches are bit-identical.
_SEMDEDUP_PAIR_JOIN_MAX = 2_000_000


def quantize_vec(vec_col, dim: int, scale: int = Q_SCALE, offset: float = Q_OFFSET):
    """array<float> -> array<long>: ``floor((x + offset) * scale)``.

    The float->double cast, the add and the multiply are all IEEE-754
    double ops — bit-identical in Spark and DuckDB — and floor of a
    double is exact, so both engines quantize to the same ints.

    The fixed-point contract is ENFORCED, not assumed: vectors must
    have exactly ``dim`` non-null elements and every quantized value
    must be non-negative (inputs > -offset) — otherwise Python floor
    division and the oracle's truncating division diverge and the
    bit-exactness silently breaks.  Violations raise inside the job
    (the packing.py in-expression raise_error discipline)."""
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast("array<double>")
    q = F.transform(
        v, lambda x: F.floor((x + F.lit(float(offset))) * F.lit(float(scale))).cast("long")
    )
    # q_max bounds quantized values so every squared distance stays
    # exact in BOTH int64 and the oracle's float64: (2*q_max)^2 * dim
    # must be < 2^53; 2^20 leaves dist <= 2^48 at dim=64
    q_max = 1 << 20
    bad = (
        v.isNull()  # FIRST: a null array makes the later exists() NULL, not true
        | (F.size(v) != F.lit(int(dim)))
        | F.exists(v, lambda x: x.isNull() | F.isnan(x))
        | F.exists(q, lambda e: (e < 0) | (e > q_max))
    )
    err = F.raise_error(
        F.lit(
            f"kmeans quantize: every vector needs exactly {dim} non-null "
            f"finite elements in (-{offset}, {(q_max / scale) - offset:g}] "
            "(fixed-point cross-engine contract, clustering.py docstring) — "
            "got a null/short vector or a NaN/Inf/out-of-range element"
        )
    )
    return F.when(bad, err.cast("array<long>")).otherwise(q)


def _assign_expr(centroids: list[list[int]], qv_col: str = "qv", q2_col: str = "__q2"):
    """cluster id = argmin over centroids of exact squared distance,
    ties broken by centroid index ASC (struct array_min compares (d,c)
    lexicographically — engine-independent).

    dist_c = ||q||^2 - 2 q·c + ||c||^2, all exact int64: ||q||^2 is
    shared across centroids (computed once into ``q2_col`` by the
    caller), ||c||^2 is a host-side constant, and q·c expands to plain
    scalar literal arithmetic — identical integers to the naive
    per-element (x-y)^2 sum, so the oracle twin needs no change.

    Construction pitfalls measured at sf0.1, all fixed here: (1) a
    zip_with(array(lit…)) distance rebuilt the literal centroid array
    PER ROW — Catalyst does not constant-fold array CONSTRUCTORS
    through HOF lambdas, but it DOES fold ``from_json`` of a literal
    string, which yields a true constant array value; (2) expanding
    q·c to a k×dim-term scalar sum made every Lloyd round recompile a
    512-term whole-stage-codegen method (~2-3 s/round of janino, since
    new centroid literals defeat the codegen cache).  The HOF form over
    the folded constant matrix keeps the generated code tiny and
    centroid-independent: measured 0.7 s/round vs 2-3 s expanded vs
    6 s naive.  The whole argmin is ONE SQL string parsed once."""
    import json

    k = len(centroids)
    cmat = json.dumps([[int(v) for v in c] for c in centroids])
    c2s = json.dumps([sum(int(v) * int(v) for v in c) for c in centroids])
    return F.expr(
        f"array_min(transform(sequence(1, {k}), i -> struct("
        f"{q2_col} - 2L * aggregate(zip_with({qv_col}, "
        f"element_at(from_json('{cmat}', 'array<array<bigint>>'), i), "
        f"(x, y) -> x * y), 0L, (a, t) -> a + t) "
        f"+ element_at(from_json('{c2s}', 'array<bigint>'), i) AS d, "
        f"cast(i - 1 AS int) AS c))).c"
    )


def _with_q2(df: DataFrame) -> DataFrame:
    """Adds ``__q2`` = exact ||qv||^2 (int64) once per row so every
    centroid distance shares it."""
    return df.withColumn("__q2", F.expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))


def _lloyd_centroids(
    qdf: DataFrame,
    k: int,
    iters: int,
    dim: int,
    seed_tag: str,
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Shared fixed-point Lloyd loop over an already-quantized vector
    column ``qv``: md5-rank seeds (smallest ``md5_long60(seed_tag||id)``
    wins, id tie-break) then ``iters`` exact integer rounds.  Returns
    the final k×dim centroid matrix.  Used by whole-vector k-means AND
    the per-subspace product-quantization codebook fit (similarity.py),
    which passes SLICED qv columns with their own seed tags.

    Empty clusters keep their previous centroid (documented; the SQL
    twins mirror it with a LEFT JOIN + COALESCE)."""
    seed_rows = (
        qdf.select(
            F.col(id_col),
            "qv",
            md5_long60(F.concat(F.lit(seed_tag), F.col(id_col).cast("string"))).alias("h"),
        )
        .orderBy("h", id_col)
        .limit(k)
        .collect()
    )
    centroids = [list(r["qv"]) for r in seed_rows]
    if len(centroids) < k:
        raise ValueError(f"k={k} but corpus has only {len(centroids)} vectors")

    q2df = _with_q2(qdf.select(F.col(id_col), "qv"))
    sums = [F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)]
    for _ in range(iters):
        assigned = q2df.withColumn("cluster_id", _assign_expr(centroids))
        stats = (
            assigned.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        by_cid = {r["cluster_id"]: r for r in stats}
        centroids = [
            [int(by_cid[c][f"s{i}"]) // int(by_cid[c]["n"]) for i in range(dim)]
            if c in by_cid
            else centroids[c]  # empty cluster: keep previous centroid
            for c in range(k)
        ]
    return centroids


def kmeans_fit_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    scale: int = Q_SCALE,
    offset: float = Q_OFFSET,
) -> tuple[DataFrame, list[list[int]]]:
    """Fixed-point Lloyd k-means: ``iters`` exact integer rounds from
    md5-rank seeds.  Returns (assignments, final_centroids) where
    assignments has (id_col, vec_col, qv, cluster_id) and centroids are
    the k quantized int vectors after the last update."""
    from featherstore_spark.functions.text import balance_small_input

    # small single-file corpora arrive as ONE split — rebalance so the
    # per-iteration jobs use full parallelism (no-op on big inputs,
    # estimate-gated exactly like the winnowing path)
    qdf = (
        balance_small_input(df)
        .select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias(vec_col),
            quantize_vec(vec_col, dim, scale, offset).alias("qv"),
        )
        # quantization (4 validation HOF passes + the transform) would
        # otherwise re-run per Lloyd job: seed top-k + every iteration's
        # aggregate + the final assignment all scan this relation.
        # Checkpointing costs one pass and O(rows × dim) executor-local
        # blocks; at corpus scale a caller would persist this table.
        .localCheckpoint(eager=True)
    )
    centroids = _lloyd_centroids(qdf, k, iters, dim, f"km:{seed}:", id_col)
    return (
        _with_q2(qdf).withColumn("cluster_id", _assign_expr(centroids)).drop("__q2"),
        centroids,
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means clusters as blocking, then a
    doc is DROPPED iff some lower-id member of the SAME cluster has
    rounded cosine >= threshold with it (min-id representative — a
    deterministic one-pass rule, no transitive closure needed because the
    cluster already bounds the semantic neighborhood).

    Returns (id_col, cluster_id, keep) for every input vector.  The
    within-cluster self-join is an equi-join on cluster_id; with
    ``max_cluster_size`` set, boilerplate mega-clusters are capped by the
    map-combinable hot-key guard before the join (capped rows are KEPT —
    dropping data because it was merely popular is the wrong default)."""
    from featherstore_spark.operators.similarity import _cos_prenorm, _norm_hof

    # the ε bounds of the BLAS branch below assume a 6-dp threshold
    thr = round(float(threshold), 6)
    assigned, _ = kmeans_fit_assign(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim, seed=seed
    )
    # Materialize (id, vec, cluster_id, norm) ONCE: the assignment
    # expression (quantize validation + k×dim argmin, all interpreted
    # HOFs) would otherwise re-execute for every consumer below — both
    # pair-join sides AND the final keep join (3× the per-row cost).
    # The norm is precomputed per ROW here so the per-PAIR condition is
    # one dot + a division instead of three HOF folds
    # (similarity._cos_prenorm: bit-identical arithmetic — measured 3.8×
    # on the pair join; the expanded fixed-dim dot measured SLOWER than
    # the HOF fold and is not used).
    members = (
        assigned.select(
            F.col(id_col).alias("mid"),
            F.col(vec_col).alias("mv"),
            "cluster_id",
            _norm_hof(F.col(vec_col)).alias("mn"),
        )
        .localCheckpoint(eager=True)
    )
    paired = members
    if max_cluster_size is not None:
        from featherstore_spark.operators.dedup import _drop_hot_keys

        paired = _drop_hot_keys(paired, ["cluster_id"], max_cluster_size)
    # Pair phase: per-task float64 BLAS blocks over the triangular
    # group-pair decomposition (the matrix_allpairs_candidates pattern in
    # operators/dedup.py, adapted to cosine).  Why not the plain
    # cluster_id equi-join: its INPUT is tiny (k keys, a few MB) while
    # its OUTPUT fans out as Σ|cluster|², so AQE coalesces the whole
    # quadratic pair space onto 1-2 tasks (measured at sf1.0), and even
    # fully parallel, each pair pays an interpreted HOF dot (~µs/pair).
    # A matmul does the same 25M dots in well under a second — and the
    # result stays BIT-IDENTICAL through the certain/border split below.
    #
    # Numerics (mirrors the matrix_allpairs 1e-6-slack proof):
    #   exact predicate: round6(cos) >= t  ⟺  cos >= B ≈ t − 5e-7
    #     (HALF_UP at the 6th decimal; t is a 6-dp literal)
    #   |blas − exact| < 1e-9 for float64 dots at dim ≤ 4096
    #   certain zone  blas >= t − 4e-7 ⇒ exact > t − 5e-7  (always drops)
    #   border zone   t − 6e-7 <= blas < t − 4e-7 → JVM-exact re-check
    #   below border  blas < t − 6e-7 ⇒ exact < B            (never drops)
    # so every drop decision either is provably unaffected by the float
    # error, or is re-made by the exact JVM expression.
    import numpy as np
    import pandas as pd

    par = df.sparkSession.sparkContext.defaultParallelism
    max_task_pairs = 4_000_000  # float64 S-block ≤ 32 MB per task
    srow = (
        paired.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"), F.sum(F.col("c") * F.col("c")).alias("p2"))
        .collect()[0]
    )
    size_max, pairs_est = srow["m"], (srow["p2"] or 0) // 2
    if not size_max:
        return members.select(
            F.col("mid").alias(id_col), "cluster_id", F.lit(True).alias("keep")
        )
    if pairs_est <= _SEMDEDUP_PAIR_JOIN_MAX:
        # SMALL pair space: the plain within-cluster equi-join (with the
        # per-row-norm cosine) beats the BLAS machinery's fixed costs
        # (python workers, group-pair replication, border join) —
        # measured 2.5 s vs 6.0 s at sf0.1.  Same estimate-gated
        # adaptivity pattern as char_ngram_jaccard's method='auto'; both
        # branches are bit-identical to the round-start semantics.
        a = paired.select(
            F.col("mid").alias("id_a"), F.col("mv").alias("va"),
            F.col("mn").alias("na"), "cluster_id",
        )
        b = paired.select(
            F.col("mid").alias("id_b"), F.col("mv").alias("vb"),
            F.col("mn").alias("nb"), "cluster_id",
        )
        dropped = (
            a.join(b, "cluster_id")
            .where(F.col("id_a") < F.col("id_b"))
            .where(F.round(_cos_prenorm("va", "vb", "na", "nb"), 6) >= F.lit(thr))
            .select(F.col("id_b").alias("drop_id"))
            .distinct()
            .withColumn("__drop", F.lit(True))
        )
        return (
            members.join(dropped, members["mid"] == dropped["drop_id"], "left")
            .select(
                F.col("mid").alias(id_col),
                "cluster_id",
                F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
            )
        )
    g_mem = int(np.ceil(size_max / max(np.sqrt(max_task_pairs), 1.0)))
    g_par = 1
    while g_par * (g_par + 1) // 2 * max(k, 1) < 2 * par:
        g_par += 1
    groups = max(g_mem, min(g_par, 8), 1)
    id_type = paired.schema["mid"].dataType.simpleString()

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pdf["mid"][:0],
                "id_b": pdf["mid"][:0],
                "certain": pd.Series([], dtype=bool),
            }
        )
        ka, kb = int(pdf["__ka"].iat[0]), int(pdf["__kb"].iat[0])
        within = ka == kb
        if within:
            a_pdf = b_pdf = pdf
        else:
            own = pdf["__g"].to_numpy()
            a_pdf, b_pdf = pdf[own == ka], pdf[own == kb]
        na_n, nb_n = len(a_pdf), len(b_pdf)
        if na_n == 0 or nb_n == 0:
            return empty

        def _unit(p):
            x = np.stack([np.asarray(v, dtype=np.float64) for v in p["mv"]])
            n = p["mn"].to_numpy(dtype=np.float64)
            x = x / np.where(n > 0, n, 1.0)[:, None]
            x[n <= 0] = 0.0  # zero-norm rows: cos defined as 0.0
            return x

        xa = _unit(a_pdf)
        xb = xa if within else _unit(b_pdf)
        ids_a = a_pdf["mid"].to_numpy()
        ids_b = ids_a if within else b_pdf["mid"].to_numpy()
        # row slices keep each S-block within max_task_pairs when hash
        # variance overfills a group; the ε split absorbs the last-ulp
        # differences a sliced matmul may have
        step = max(1, max_task_pairs // nb_n)
        drops, lo, hi = [], [], []
        for i in range(0, na_n, step):
            s = xa[i:i + step] @ xb.T
            ia = ids_a[i:i + step]
            mask = ia[:, None] < ids_b[None, :] if within else np.ones_like(s, dtype=bool)
            cert = (s >= thr - 4e-7) & mask
            bord = (s >= thr - 6e-7) & ~(s >= thr - 4e-7) & mask
            ii, jj = np.nonzero(cert)
            drops.append(np.maximum(ia[ii], ids_b[jj]))
            ii, jj = np.nonzero(bord)
            lo.append(np.minimum(ia[ii], ids_b[jj]))
            hi.append(np.maximum(ia[ii], ids_b[jj]))
        out = []
        drops = np.unique(np.concatenate(drops))
        if len(drops):
            out.append(pd.DataFrame({"id_a": drops, "id_b": drops, "certain": True}))
        lo, hi = np.concatenate(lo), np.concatenate(hi)
        if len(lo):
            out.append(pd.DataFrame({"id_a": lo, "id_b": hi, "certain": False}))
        return pd.concat(out, ignore_index=True) if out else empty

    rows = (
        paired.withColumn("__g", F.pmod(F.xxhash64("mid"), F.lit(groups)).cast("int"))
        .withColumn("__h", F.explode(F.sequence(F.lit(0), F.lit(groups - 1))))
        .select(
            "mid", "mv", "mn", "cluster_id", "__g",
            F.least("__g", "__h").alias("__ka"),
            F.greatest("__g", "__h").alias("__kb"),
        )
    )
    out = rows.groupBy("cluster_id", "__ka", "__kb").applyInPandas(
        _emit, schema=f"id_a {id_type}, id_b {id_type}, certain boolean"
    )
    certain_drops = out.where(F.col("certain")).select(F.col("id_b").alias("drop_id"))
    border = out.where(~F.col("certain")).select("id_a", "id_b")
    ba = members.select(
        F.col("mid").alias("id_a"), F.col("mv").alias("va"), F.col("mn").alias("na")
    )
    bb = members.select(
        F.col("mid").alias("id_b"), F.col("mv").alias("vb"), F.col("mn").alias("nb")
    )
    border_drops = (
        border.join(ba, "id_a")
        .join(bb, "id_b")
        .where(F.round(_cos_prenorm("va", "vb", "na", "nb"), 6) >= F.lit(thr))
        .select(F.col("id_b").alias("drop_id"))
    )
    # The drop list can be a large fraction of the corpus (that is the
    # point of dedup), so it is NOT broadcast: keep/drop is resolved by a
    # shuffle equi-join on id — scalable regardless of dup rate.
    dropped = (
        certain_drops.unionByName(border_drops)
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        members.join(dropped, members["mid"] == dropped["drop_id"], "left")
        .select(
            F.col("mid").alias(id_col),
            "cluster_id",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )
