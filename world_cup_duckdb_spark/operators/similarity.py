"""Similarity search over embedding columns (array<float>).

Extension surface (SURVEY.md Phase 5): brute-force cosine top-k as the
exact baseline, sign-LSH bucketing as the scale path.

Determinism: all arithmetic is double, computed as a strict left-to-right
fold (`aggregate`), which matches DuckDB's list_sum/list_cosine_similarity
bit-for-bit (verified empirically) — so similarity values themselves are
oracle-comparable, not just ranks.

Scale design: brute-force is O(|Q|·|C|·d) — fine when one side is small
(broadcast the queries, stream the corpus; no shuffle until top-k), wrong
for all-pairs. The sign-LSH variant buckets vectors by hyperplane-sign
signature so candidate generation is a bucket equi-join, then exact
re-scoring only within buckets (same shape as IVF probe lists).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from world_cup_duckdb_spark.functions.strings import (
    bounded_one_partition as _one,
)


def as_double(vec: Column | str) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(vec, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm2(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)


def cosine(a: Column, b: Column) -> Column:
    """cos = dot / (sqrt(|a|²) · sqrt(|b|²)) — exactly this association,
    which is what DuckDB's list_cosine_similarity computes.

    NULL (not an ANSI DIVIDE_BY_ZERO error) when either vector has zero
    norm: a single all-zero or empty embedding in a 100 TB corpus must
    rank as no-similarity, not kill the scan — and NULL is what the
    DuckDB oracle's x/0.0 evaluates to."""
    denom = F.sqrt(norm2(a)) * F.sqrt(norm2(b))
    return F.when(denom != 0.0, dot(a, b) / denom)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos_sim).

    The query side is broadcast (it is small by contract); every corpus
    partition scores its vectors independently, then a ranking window
    partitioned by query reduces to k. Self-matches are excluded.
    Deterministic tie-break: (sim DESC, neighbor_id ASC). The corpus is
    fanned out to full parallelism when its scan has too few splits
    (operators/scale.py:spread_for_cpu_work) — the |Q|·|C| scoring is the
    CPU cost, and a small corpus otherwise scores on one core.
    """
    from world_cup_duckdb_spark.operators.scale import spread_for_cpu_work

    # Norms are per-VECTOR, not per-pair: precompute sqrt(|v|²) on each
    # side before the cross join, so the |Q|·|C| inner loop pays one
    # zip_with/fold (the dot product) instead of three — the higher-order
    # folds are interpreted per element, so this is ~3× less of the
    # actual CPU at any scale. Same association as cosine()
    # (dot / (sqrt(|a|²)·sqrt(|b|²))), so values are bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("qv"),
        F.sqrt(norm2(as_double(vec_col))).alias("_qn"),
    )
    c = spread_for_cpu_work(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
        F.sqrt(norm2(as_double(vec_col))).alias("_cn"),
    )
    denom = F.col("_qn") * F.col("_cn")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                denom != 0.0, dot(F.col("qv"), F.col("cv")) / denom
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def brute_force_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized twin of :func:`brute_force_topk` — same contract,
    same values, BLAS-style kernel.

    The fold form's |Q|·|C|·d inner loop runs Catalyst's higher-order
    functions, which evaluate the lambda per ELEMENT (interpreted, no
    codegen) — correct, but the numeric kernel is exactly what vectorized
    batch compute is for. Here each corpus partition is scored in numpy
    via ``mapInPandas``: per query, one accumulate pass over the d
    dimensions with all batch rows vectorized. The accumulation order is
    dimension 0..d-1 exactly like the left-to-right ``aggregate`` fold
    (and DuckDB's ``list_sum``), each step an IEEE-754 double mul+add on
    every lane, so cos values are BIT-IDENTICAL to the fold form and the
    shared oracle.

    Distributed top-k: each partition emits only its local top-k per
    query under (sim DESC NULLS LAST, id ASC) — top-k is a monoid under a
    total order, so the global window ranks |Q|·k·partitions candidate
    rows, never corpus volume.

    The query side is driver-staged (``toPandas``) into the task closure:
    it is bounded by the same "small by contract" rule that lets the fold
    form ``F.broadcast`` it — the identical bytes ship either way (for
    large query sets use the LSH/IVF operators). Zero-norm vectors score
    NULL, exactly like :func:`cosine`."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from world_cup_duckdb_spark.operators.scale import spread_for_cpu_work

    q_pdf = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
        )
        .toPandas()
        .sort_values("query_id")
    )
    # Enforce the broadcast-small contract EXPLICITLY: the query matrix
    # rides to every task in the closure, so an unbounded query side would
    # surface as an opaque driver/task OOM instead of this error. 64k
    # queries × 1k dims ≈ 512 MB — already past any sane closure size.
    _MAX_QUERIES = 65_536
    if len(q_pdf) > _MAX_QUERIES:
        raise ValueError(
            f"brute_force_topk_np stages the query side into each task "
            f"closure and is bounded to {_MAX_QUERIES} queries "
            f"(got {len(q_pdf)}); for large query sets use the LSH "
            f"(ann_lsh_topk) or IVF (ann_ivf_topk) operators."
        )
    if q_pdf["qv"].isna().any():
        raise ValueError("brute_force_topk_np: NULL query embeddings")
    if len(q_pdf) and len({len(v) for v in q_pdf["qv"]}) > 1:
        raise ValueError("brute_force_topk_np: ragged query embeddings")
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = np.vstack(q_pdf["qv"].to_numpy()) if len(q_pdf) else np.zeros((0, 0))
    dim = q_mat.shape[1] if len(q_pdf) else 0
    q_norm = np.zeros(len(q_ids))
    for d in range(dim):
        q_norm += q_mat[:, d] * q_mat[:, d]
    q_norm = np.sqrt(q_norm)

    id_type = queries.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.vstack(pdf["cv"].to_numpy())
            c_norm = np.zeros(len(pdf))
            for d in range(dim):
                c_norm += c_mat[:, d] * c_mat[:, d]
            c_norm = np.sqrt(c_norm)
            n_ids = pdf["neighbor_id"].to_numpy()
            outs = []
            for j in range(len(q_ids)):
                acc = np.zeros(len(pdf))
                for d in range(dim):
                    acc += c_mat[:, d] * q_mat[j, d]
                denom = q_norm[j] * c_norm
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = np.where(denom != 0.0, acc / denom, np.nan)
                mask = n_ids != q_ids[j]
                local = pd.DataFrame(
                    {"neighbor_id": n_ids[mask], "cos_sim": sim[mask]}
                ).sort_values(
                    ["cos_sim", "neighbor_id"],
                    ascending=[False, True],
                    na_position="last",
                ).head(k)
                local.insert(0, "query_id", q_ids[j])
                outs.append(local)
            if outs:
                out = pd.concat(outs, ignore_index=True)
                # NaN (zero-norm) must land as SQL NULL, not double NaN —
                # object dtype makes the Arrow conversion unambiguous.
                out["cos_sim"] = out["cos_sim"].astype(object).map(
                    lambda v: None
                    if v is None or (isinstance(v, float) and math.isnan(v))
                    else v
                )
                yield out

    cand = (
        spread_for_cpu_work(corpus, id_col)
        .select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
        .mapInPandas(score, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def lsh_signature(vec: Column, num_planes: int = 8) -> Column:
    """Sign-LSH bucket id: bit p = sign of ⟨vec, r_p⟩ where hyperplane
    r_p has deterministic ±1 coefficients derived from md5(p ':' dim)
    (portable pseudo-randomness, same rationale as the MinHash seeds).
    """
    sig = F.lit(0)
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x
                * F.when(
                    (
                        F.instr(
                            F.lit("0123456789abcdef"),
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(f"{p}:"), i.cast("string")
                                    )
                                ),
                                1,
                                1,
                            ),
                        )
                        - 1
                    )
                    % 2
                    == 0,
                    1.0,
                ).otherwise(-1.0),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, 2**p).otherwise(0)
    return sig.cast("int")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, exact
    cosine re-score within the bucket.

    At scale this replaces brute-force's cross join with an equi-join on
    the signature: corpus is hashed once (can be precomputed/persisted),
    the join shuffles on the bucket id. Recall is tuned by num_planes
    (fewer planes → bigger buckets → higher recall, more re-scoring) or
    multi-probe. Output schema matches brute_force_topk for side-by-side
    recall measurement.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("qv"),
    ).withColumn("bucket", lsh_signature(F.col("qv"), num_planes))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    ).withColumn("bucket", lsh_signature(F.col("cv"), num_planes))
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def lsh_index_persist(
    corpus: DataFrame,
    path: str,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the sign-LSH index at ``path``: the corpus with its
    bucket signature, hive-partitioned by ``bucket`` (≤ 2^num_planes
    directories). The signature pass — the O(N·planes·d) cost — happens
    once per build; every query batch then reads ONLY its buckets'
    directories via static partition pruning, the same amortization
    contract as ivf_index_persist."""
    import os

    c = corpus.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    ).withColumn("bucket", lsh_signature(F.col("v"), num_planes))
    c.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(path, "buckets")
    )


def lsh_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve sign-LSH top-k from a persisted index (lsh_index_persist)
    without re-hashing the corpus: query signatures are computed on the
    (small by contract) query side, their distinct bucket ids collected —
    bounded by min(|Q|, 2^num_planes) — and re-applied as a literal
    partition predicate, so unqueried bucket directories cost zero I/O.
    Bit-identical to lsh_topk on the same corpus (same md5 hyperplanes,
    same fold cosines); equality is pytest-pinned."""
    import os

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("bucket", lsh_signature(F.col("qv"), num_planes))
    probe_ids = sorted(
        r["bucket"] for r in q.select("bucket").distinct().collect()
    )
    c = spark.read.parquet(os.path.join(path, "buckets")).filter(
        F.col("bucket").isin(probe_ids)
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse index: (centroids, assigned corpus).

    Centroids are the ``n_lists`` corpus vectors with the smallest
    ``md5(id)`` — a deterministic pseudo-random sample (hash order is
    uncorrelated with insertion or key order), standing in for a k-means
    fit, which would slot in here unchanged. The pick plans as
    TakeOrderedAndProject: per-partition top-k heaps merged on the
    driver — NO global sort, no single-partition window, no full-corpus
    row_number — so it is exactly as scalable as any top-k. Every corpus
    vector is then assigned to its nearest centroid by cosine: a
    broadcast cross-score against ``n_lists`` centroids + a ``max_by``
    hash-aggregate argmax (map-side partial, one uniform vid shuffle of
    pre-reduced rows) — O(N·n_lists) map-side work, the real IVF build
    cost. Both outputs are persistable: at 100 TB the index is built once
    and the assigned corpus is written partitioned by ``list_id`` so
    probes read only their lists' partitions.
    """
    picked = (
        corpus.select(F.col(id_col).alias("cid"))
        .orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
        .limit(n_lists)
    )
    centroids = picked.join(
        corpus.select(F.col(id_col).alias("cid"), as_double(vec_col).alias("centroid")),
        "cid",
    ).select(
        # n_lists rows total — this window sorts a bounded frame; the
        # constant partition key keeps WindowExec's no-partition warning
        # meaning only real corpus-grain regressions (repo convention).
        F.row_number()
        .over(Window.partitionBy(_one("cid")).orderBy("cid"))
        .cast("int")
        .alias("list_id"),
        "centroid",
    )
    c = corpus.select(F.col(id_col).alias("vid"), as_double(vec_col).alias("v"))
    return centroids, _assign_to_centroids(centroids, c)


def _assign_to_centroids(centroids: DataFrame, c: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of (vid, v) rows: broadcast cross-score
    against the n_lists centroids + a max_by hash-aggregate argmax
    (map-side partials, one uniform vid shuffle of pre-reduced rows) —
    O(N·n_lists) map-side work, no window over corpus rows. Shared by the
    initial build (ivf_index) and incremental appends (ivf_index_append)
    so both paths assign by the IDENTICAL rule."""
    scored = F.broadcast(centroids).crossJoin(c).select(
        "vid", "v", "list_id", cosine(F.col("centroid"), F.col("v")).alias("c_sim")
    )
    # argmax(list) per vector: max_by over (c_sim, -list_id) replaces a
    # row_number window — a hash aggregate with map-side partials instead
    # of a partition-wide sort.
    return scored.groupBy("vid").agg(
        F.any_value("v").alias("v"),
        F.max_by(
            "list_id", F.struct(F.col("c_sim"), (-F.col("list_id")).alias("neg"))
        ).alias("list_id"),
    ).select("vid", "v", "list_id")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-probed approximate top-k, schema-compatible with
    brute_force_topk.

    Each query scores the ``n_lists`` centroids (broadcast), keeps its
    ``n_probe`` nearest lists, and exact-rescoring runs only against
    vectors assigned to those lists — the candidate join is an equi-join
    on ``list_id`` instead of a cross join. With n_probe == n_lists the
    result is exactly brute force (tests/test_similarity.py).
    """
    centroids, assigned = ivf_index(corpus, n_lists, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    q_scored = F.broadcast(q).crossJoin(centroids).select(
        "query_id", "qv", "list_id",
        cosine(F.col("qv"), F.col("centroid")).alias("c_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("list_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "list_id")
    )
    cand = (
        probes.join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold: (vec_a, vec_b, cos_sim).

    Exact and quadratic — bound the input (the registry query restricts
    ids) or feed it LSH buckets; this is the embedding-space analogue of
    ngram_jaccard_pairs as a verify stage.
    """
    a = vectors.select(F.col(id_col).alias("vec_a"), as_double(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("vec_b"), as_double(vec_col).alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-side scale path for ANN.
#
# IVF (above) prunes WHICH vectors a query scores; PQ compresses HOW each
# score is computed: vectors are split into M sub-vectors, each sub-vector
# quantized to one of K codebook centroids, and a query's distance to a
# vector becomes a sum of M table lookups (ADC — asymmetric distance
# computation) instead of a d-dimensional dot product. At 100 TB the codes
# table is dims/M·log2(K) bits per vector instead of 4·dims bytes, the
# codebook (M·K rows) broadcasts everywhere, and the per-pair cost is O(M).
#
# Determinism contract (what makes the whole pipeline hash-checkable
# against DuckDB): all arithmetic is INTEGER. Components are scaled to
# micro-units (round(x·1e6) → bigint, the same rule as the centroid
# query), centroid means are floor(sum/n + 0.5) of exactly-representable
# doubles, and every distance is a bigint sum of squared bigint diffs —
# no float accumulation anywhere, so ranks and distances match
# bit-for-bit across engines and partitionings.
# ---------------------------------------------------------------------------

_MICRO = 1_000_000


def _micro_units(vec: Column | str) -> Column:
    """array<bigint> of round(x·1e6) — exact, order-free integer space."""
    return F.transform(
        as_double(vec), lambda x: F.round(x * _MICRO).cast("bigint")
    )


def _pq_subvectors(
    df: DataFrame, id_col: str, id_alias: str, vec_col: str, m: int, d_sub: int
) -> DataFrame:
    """One row per (id, sub-space): (id_alias, m:int, sub:array<bigint>).

    Map-only (inline over a literal array of slices) — no shuffle, no
    per-dimension row blowup; the d_sub-wide slices stay packed."""
    parts = F.array(
        *[
            F.struct(
                F.lit(mi).cast("int").alias("m"),
                F.slice(F.col("_e"), mi * d_sub + 1, d_sub).alias("sub"),
            )
            for mi in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias(id_alias), _micro_units(vec_col).alias("_e")
    ).select(id_alias, F.inline(parts))


def _int_sq_dist(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ-bᵢ)² over two bigint arrays — pure integer, exact."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def pq_index(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """PQ index build: (codebook, codes).

    codebook: (m, c, cent:array<bigint>) — M·K rows, broadcast-sized by
    construction (a production M=16/K=256 codebook is 4096 rows).
    codes: (vid, m, code) — the compressed corpus representation.

    Codebook training is one deterministic Lloyd update: sub-vectors are
    seed-assigned by ``md5(id)-prefix % k`` (a reproducible stand-in for
    k-means++ init — a full iterated fit slots in here unchanged,
    exactly like ivf_index's md5 pick; hashing rather than ``id % k``
    keeps seeding independent of the id distribution — a stride-aligned
    id space, e.g. all-even ids with k=16, would leave half the seed
    clusters empty — and works for string ids) and each
    (sub-space, seed-cluster) centroid is
    the elementwise mean in micro-units. The build explodes dimensions
    ONLY inside a partial-combinable aggregate keyed by (m, c, j) — the
    shuffle moves M·K·d_sub pre-reduced rows, never corpus rows.

    Encoding joins the broadcast codebook to the packed sub-vectors
    (M·K candidate rows per vector, no dimension explosion) and takes
    the argmin by min(struct(d2, c)) — a hash aggregate with map-side
    partials, no window over fact rows.
    """
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m} sub-spaces")
    d_sub = dims // m
    subs = _pq_subvectors(corpus, id_col, "vid", vec_col, m, d_sub)
    codebook = (
        subs.withColumn(
            "c",
            (
                F.conv(
                    F.substring(F.md5(F.col("vid").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % k
            ).cast("int"),
        )
        .select("m", "c", F.posexplode("sub").alias("j", "x"))
        .groupBy("m", "c", "j")
        .agg(
            F.floor(
                F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cx")
        )
        .groupBy("m", "c")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cx"))),
                lambda s: s["cx"],
            ).alias("cent")
        )
    )
    scored = subs.join(F.broadcast(codebook), "m").select(
        "vid", "m", "c", _int_sq_dist("sub", "cent").alias("d2")
    )
    codes = scored.groupBy("vid", "m").agg(
        F.min(F.struct(F.col("d2").alias("d2"), F.col("c").alias("c")))
        .getField("c")
        .alias("code")
    )
    return codebook, codes


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k_neighbors: int = 5,
    m: int = 4,
    k: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, rank, adc_dist).

    Each query precomputes its distance to every codebook centroid
    (Q·M·K rows — the ADC lookup tables, broadcast), then a vector's
    approximate distance is the sum of its M code lookups: the scan over
    the corpus reads only the codes relation (the compressed form), the
    join is a broadcast equi-join on (m, code), and the per-pair cost is
    an M-term integer sum — never a dims-wide dot product. Ties break on
    neighbor id; distances are exact integers so ranking is
    engine-independent.
    """
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m} sub-spaces")
    d_sub = dims // m
    codebook, codes = pq_index(corpus, m, k, dims, id_col, vec_col)
    qsubs = _pq_subvectors(queries, id_col, "query_id", vec_col, m, d_sub)
    qd2 = qsubs.join(F.broadcast(codebook), "m").select(
        F.col("query_id"),
        F.col("m").alias("qm"),
        F.col("c").alias("qc"),
        _int_sq_dist("sub", "cent").alias("qd2"),
    )
    pairs = codes.join(
        F.broadcast(qd2),
        (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qc")),
    )
    adc = (
        pairs.groupBy("query_id", "vid")
        .agg(F.sum("qd2").cast("bigint").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("vid"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vid")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", F.col("vid").alias("neighbor_id"), "rank", "adc_dist")
    )


def semantic_dedup_census(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style cluster-pruned embedding dedup census:
    (list_id, n_vecs, n_dropped), one row per cluster.

    The scale form of embedding_near_duplicates: vectors are first
    coarse-clustered (ivf_index — identical vectors always land in the
    same cluster, since assignment is a pure function of the vector),
    then the quadratic cosine scan runs ONLY within clusters — a
    self-equi-join on list_id instead of an all-pairs join, the same
    candidate-bounding move LSH bands make for MinHash. A vector is
    dropped when some same-cluster neighbor with a SMALLER id is ≥
    threshold (min-id canonical, the rule every dedup operator here
    shares). At 100 TB the assigned corpus is written partitioned by
    list_id so each cluster's scan is partition-local; oversized
    clusters would be re-split by a finer codebook, never scanned
    all-pairs globally.
    """
    _, assigned = ivf_index(vectors, n_clusters, id_col, vec_col)
    a = assigned.select(
        F.col("list_id"), F.col("vid").alias("keep_id"), F.col("v").alias("va")
    )
    b = assigned.select(
        F.col("list_id"), F.col("vid").alias("drop_id"), F.col("v").alias("vb")
    )
    dropped = (
        a.join(b, ["list_id"])
        .filter(F.col("keep_id") < F.col("drop_id"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select("drop_id")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned.vid == dropped.drop_id, "left")
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.col("drop_id")).alias("n_dropped"),
        )
        .select("list_id", "n_vecs", "n_dropped")
    )


def ivf_index_persist(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index at ``path`` so query batches amortize the
    build: ``centroids/`` (n_lists rows) and ``assigned/`` hive-partitioned
    by ``list_id`` — the at-rest layout that lets a probe read ONLY its
    lists' directories. At 100 TB this is the difference between an index
    and a recomputation: the O(N·n_lists) assignment scan happens once per
    index build, and every subsequent query batch touches n_probe/n_lists
    of the data via static partition pruning (PartitionFilters at the
    scan, pinned in tests/test_similarity.py)."""
    import os

    centroids, assigned = ivf_index(corpus, n_lists, id_col, vec_col)
    centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    (
        assigned.write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(os.path.join(path, "assigned"))
    )


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF top-k from a persisted index (ivf_index_persist) without
    recomputing assignments. The probed list ids are collected to the
    driver — bounded by n_lists (16 here; an index has few coarse lists
    by construction, never corpus-scale) — and re-applied as a LITERAL
    isin predicate on the partition column, so Catalyst prunes unprobed
    ``list_id=…`` directories statically: the scan's PartitionFilters
    carry ``list_id IN (…)`` and unprobed partitions cost zero I/O.
    Result is bit-identical to ivf_topk on the same corpus (same centroid
    pick, same fold arithmetic); equality is pytest-pinned."""
    import os

    _ivf_compact_recover(path)  # finish any interrupted committed compact
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    q_scored = F.broadcast(q).crossJoin(F.broadcast(centroids)).select(
        "query_id", "qv", "list_id",
        cosine(F.col("qv"), F.col("centroid")).alias("c_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("list_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "list_id")
    )
    # Bounded collect: at most n_lists distinct ids (the index's coarse
    # list count), independent of corpus and query-batch size.
    probe_ids = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    assigned = spark.read.parquet(os.path.join(path, "assigned")).filter(
        F.col("list_id").isin(probe_ids)
    )
    tomb = _tombstones(spark, path)
    if tomb is not None:
        # Deleted vectors are masked at serve time by a broadcast
        # anti-join against the bounded tombstone set — the pre-compaction
        # read path of ivf_index_delete.
        assigned = assigned.join(
            F.broadcast(tomb.select("vid")), "vid", "left_anti"
        )
    cand = (
        F.broadcast(probes).join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _has_remote_scheme(path: str) -> bool:
    """True for URI-schemed paths that are NOT the local filesystem
    (hdfs://, s3a://, …). ``file:`` and bare paths are local."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", path)
    return bool(m) and m.group(1).lower() != "file"


def _local_fs_path(path: str) -> str:
    """Resolve a local path or ``file:`` URI to a plain filesystem path
    for os/shutil operations (ADVICE r10): slicing the literal
    ``file:`` prefix turned ``file://host/p`` into ``//host/p`` and
    ``file:///p`` into ``///p``, so os.path probes could target the
    wrong location and silently skip a pending manifest. Parse the URI
    instead, reject a non-local authority loudly, and return the path
    component; bare paths pass through untouched."""
    from urllib.parse import unquote, urlparse

    if not path.startswith("file:"):
        return path
    parsed = urlparse(path)
    if parsed.netloc not in ("", "localhost"):
        raise ValueError(
            f"file URI {path!r} names remote authority "
            f"{parsed.netloc!r}; the rename-based index lifecycle "
            "only runs against this host's filesystem"
        )
    return unquote(parsed.path) or "/"


def _require_local_path(path: str, op: str) -> None:
    """Fail LOUDLY when an os/shutil-based index operation is handed a
    remote URI (ADVICE r9): a local probe on hdfs://… silently returns
    False, which would make compaction treat pending tombstones as
    absent and keep serving deleted vectors with no error. Operations
    that only read/write through Spark accept any URI; only the
    rename-based compaction lifecycle is local-only."""
    if _has_remote_scheme(path):
        raise ValueError(
            f"{op} manipulates index directories with local-filesystem "
            f"renames and cannot run against remote URI {path!r}; "
            "copy the index to local storage or port the swap to the "
            "Hadoop FileSystem API before compacting remotely"
        )


def _tombstones(spark, path: str):
    """Read an index's tombstone relation (the IVF index's here, the
    MinHash index's in operators/dedup_index.py) if any deletes are
    pending, else None. The existence probe goes through the Hadoop
    FileSystem API (ADVICE r9), so it is correct for ANY path Spark can
    read — local, file://, hdfs://, s3a:// — one exists + one listStatus
    call, index-metadata-sized, never a data scan."""
    t = path.rstrip("/") + "/tombstones"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(t)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    if not any(
        st.getPath().getName().endswith(".parquet")
        for st in fs.listStatus(hpath)
    ):
        return None
    return spark.read.parquet(t)


def _ivf_compact_recover(path: str) -> None:
    """Roll FORWARD a committed-but-interrupted compaction (crash-safe
    swap, ADVICE r9). The commit point is the atomic publish of
    ``compact_manifest.json``; once it exists, every index entry point
    calls this to finish the swap before touching data, so a crash at
    ANY point inside the swap loses nothing:

    - crash before the manifest: staging is stale scratch; the old
      partitions plus tombstone masking keep serving correctly and the
      next compact overwrites staging.
    - crash after the manifest: per affected list the state is one of
      (old in place | old moved aside | new moved in), each step an
      atomic directory rename, and this routine is idempotent across
      all of them — old partitions are renamed ASIDE (never deleted)
      into ``assigned_old/`` before the staging dir moves in. The
      manifest is removed IMMEDIATELY after the rename loop (ADVICE
      r10): swap complete = index correct, so a crash during the
      scratch cleanup below leaves at worst stale assigned_old/staging
      dirs and already-applied tombstones — the next compact clears
      the scratch before publishing a new manifest, and masking a vid
      that no longer exists is a no-op. (The previous ordering —
      cleanup first, manifest last — had a silent-data-loss window: a
      crash after ``assigned_old`` was removed but before the manifest
      left the manifest pointing at an already-swapped index, and the
      next recovery's step 1 renamed the NEW partitions aside and
      deleted them.)

    Remote URIs no-op: compaction is guarded local-only, so a remote
    index can never be mid-compact."""
    import json
    import os
    import shutil

    if _has_remote_scheme(path):
        return
    local = _local_fs_path(path)
    manifest = os.path.join(local, "compact_manifest.json")
    if not os.path.isfile(manifest):
        return
    with open(manifest) as fh:
        affected = json.load(fh)["affected"]
    root = os.path.join(local, "assigned")
    staging = os.path.join(local, "assigned_compacting")
    old_root = os.path.join(local, "assigned_old")
    os.makedirs(old_root, exist_ok=True)
    for lid in affected:
        a = os.path.join(root, f"list_id={lid}")
        s = os.path.join(staging, f"list_id={lid}")
        o = os.path.join(old_root, f"list_id={lid}")
        if os.path.isdir(a) and not os.path.isdir(o):
            os.rename(a, o)  # step 1: move the old partition aside
        if os.path.isdir(s):
            os.rename(s, a)  # step 2: move the rewritten partition in
        # a fully-deleted list has no staging dir and simply loses its
        # directory at step 1
    # Tombstones are folded the moment the rename loop completes —
    # clear them BEFORE the manifest is removed (ADVICE r11): a crash
    # in between leaves {manifest present, tombstones gone}, which the
    # next recovery finishes idempotently (the rename loop no-ops).
    # Removing the manifest first could strand already-applied
    # tombstones with no manifest — indistinguishable from pending
    # deletes, so a vid re-inserted by a future append form would be
    # silently masked and destroyed by the next compact. STRICT rmtree:
    # a swallowed failure would recreate the stranded state; raising
    # leaves the manifest, so the next entry point retries the fold.
    tomb = os.path.join(local, "tombstones")
    if os.path.isdir(tomb):
        shutil.rmtree(tomb)
    # Commit the completed swap BEFORE touching scratch (ADVICE r10):
    # from here the index is correct and recovery must never re-enter
    # the rename loop.
    os.remove(manifest)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old_root, ignore_errors=True)


def ivf_index_delete(
    spark,
    path: str,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Delete vectors from a persisted IVF index WITHOUT rewriting data:
    record (vid, list_id) tombstones under ``tombstones/``. The delete-id
    set is bounded by contract (a delete batch, not a corpus) and rides a
    broadcast against ONE scan of the assigned relation to capture each
    victim's list — so the later compaction knows exactly which
    partitions to rewrite without a second corpus pass. Repeated deletes
    append. The serve path (ivf_topk_from_index) masks tombstoned
    vectors with a broadcast anti-join until ivf_index_compact folds
    them out of the files. This is the standard lakehouse
    delete-vector/merge-on-read pattern applied to an ANN index: deletes
    are O(batch) immediately visible, rewrite cost deferred and bounded
    to affected partitions."""
    import os

    _ivf_compact_recover(path)  # finish any interrupted committed compact
    ids = delete_ids.select(F.col(id_col).alias("vid")).distinct()
    assigned = spark.read.parquet(os.path.join(path, "assigned"))
    (
        assigned.join(F.broadcast(ids), "vid")
        .select("vid", F.col("list_id").cast("int").alias("list_id"))
        .write.mode("append")
        .parquet(os.path.join(path, "tombstones"))
    )


def ivf_index_compact(spark, path: str) -> list:
    """Fold pending tombstones into the files: rewrite ONLY the
    ``list_id=…`` partitions that contain tombstoned vectors (their ids
    were captured at delete time, so the affected-list set is a bounded
    collect of the tombstone relation — no corpus scan to locate them),
    then clear the tombstones. Untouched partitions are never read,
    never rewritten. Returns the affected list ids.

    Crash safety (ADVICE r9 rework): survivors are fully written to a
    staging directory, then the affected-list set is published as an
    atomic ``compact_manifest.json`` (write-tmp + rename) — the COMMIT
    POINT — and the swap itself is delegated to
    :func:`_ivf_compact_recover`, which moves each old partition ASIDE
    before moving the rewritten one in and cleans up only after every
    move completed. A crash before the manifest leaves the tombstoned
    index serving correctly; a crash after it is rolled forward by the
    next call to any index entry point. Local paths only (the swap is
    os.rename-based); remote URIs fail loudly via _require_local_path.

    After compaction, serve results are bit-identical to the
    tombstone-masked serve and to an index built on the surviving
    corpus with the same centroids (pinned in tests/test_similarity.py).
    """
    import json
    import os
    import shutil

    _require_local_path(path, "ivf_index_compact")
    _ivf_compact_recover(path)  # finish any prior committed compaction
    tomb = _tombstones(spark, path)
    if tomb is None:
        return []
    affected = sorted(
        r["list_id"] for r in tomb.select("list_id").distinct().collect()
    )
    local = _local_fs_path(path)
    # Clear scratch a prior recovery's interrupted CLEANUP phase may
    # have left behind (ADVICE r10): a stale assigned_old/list_id=X
    # would suppress the upcoming swap's step-1 move-aside and make its
    # step-2 os.rename land on an existing target. Stale tombstones are
    # harmless (masking absent vids is a no-op) and are consumed by
    # this very compaction.
    shutil.rmtree(os.path.join(local, "assigned_old"), ignore_errors=True)
    shutil.rmtree(
        os.path.join(local, "assigned_compacting"), ignore_errors=True
    )
    root = os.path.join(path, "assigned")
    staging = os.path.join(path, "assigned_compacting")
    survivors = (
        spark.read.parquet(root)
        .filter(F.col("list_id").isin(affected))
        .join(F.broadcast(tomb.select("vid")), "vid", "left_anti")
        .select("vid", "v", F.col("list_id").cast("int").alias("list_id"))
    )
    survivors.write.mode("overwrite").partitionBy("list_id").parquet(staging)
    manifest = os.path.join(local, "compact_manifest.json")
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"affected": affected}, fh)
    os.replace(tmp, manifest)  # commit point: atomic publish
    _ivf_compact_recover(path)  # roll forward = perform the swap
    return affected


def ivf_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a persisted IVF index (ivf_index_persist):
    assign ONLY the new vectors against the saved centroids (broadcast
    cross-score + argmax — O(new·n_lists), the appended batch's cost,
    never a corpus recompute) and append them into the hive-partitioned
    ``assigned/`` layout. Parquet appends add files to existing
    ``list_id=…`` directories without touching old ones, so a running
    reader never sees a half-replaced partition, and the serve path
    (ivf_topk_from_index) picks up appended vectors with the same static
    partition pruning. Because _assign_to_centroids is shared with the
    initial build, build-then-append is bit-identical to building over
    the union corpus with the same centroids — the equivalence the
    ext_ann_ivf_append oracle hash-checks."""
    import os

    _ivf_compact_recover(path)  # finish any interrupted committed compact
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    c = new_vectors.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    )
    (
        _assign_to_centroids(centroids, c)
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(os.path.join(path, "assigned"))
    )


def pq_index_persist(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    k: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index at ``path``: ``codebook/`` (M·K rows of
    integer centroids — broadcast-sized by construction) and ``codes/``
    (the compressed corpus: one (vid, m, code) byte-ish triple per
    sub-space, ~M small ints per vector instead of ``dims`` floats).
    At 100 TB the codes relation IS the ANN-serving copy of the corpus —
    a ~64×-smaller scan than raw embeddings — and the codebook training
    cost is paid once per build, amortized across every query batch
    (ext_ann_pq_query serves from these files without recomputation)."""
    import os

    codebook, codes = pq_index(corpus, m, k, dims, id_col, vec_col)
    codebook.write.mode("overwrite").parquet(os.path.join(path, "codebook"))
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))


def pq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k_neighbors: int = 5,
    m: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k served from a persisted PQ index (pq_index_persist):
    per-query distance tables are computed against the READ-BACK codebook
    (broadcast — M·K rows) and the corpus scan reads ONLY the compressed
    codes relation; raw embeddings are never touched on the serve path.
    Integer arithmetic end-to-end, so results are bit-identical to
    pq_topk on the same corpus (pytest-pinned)."""
    import os

    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m} sub-spaces")
    d_sub = dims // m
    codebook = spark.read.parquet(os.path.join(path, "codebook"))
    codes = spark.read.parquet(os.path.join(path, "codes"))
    qsubs = _pq_subvectors(queries, id_col, "query_id", vec_col, m, d_sub)
    qd2 = qsubs.join(F.broadcast(codebook), "m").select(
        F.col("query_id"),
        F.col("m").alias("qm"),
        F.col("c").alias("qc"),
        _int_sq_dist("sub", "cent").alias("qd2"),
    )
    pairs = codes.join(
        F.broadcast(qd2),
        (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qc")),
    )
    adc = (
        pairs.groupBy("query_id", "vid")
        .agg(F.sum("qd2").cast("bigint").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("vid"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vid"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", F.col("vid").alias("neighbor_id"), "rank", "adc_dist")
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor, the k corpus
    vectors most cosine-similar to it whose ``label_col`` DIFFERS from
    the anchor's — the negatives that sit closest to the decision
    boundary, which is what contrastive/embedding training samples from
    (in-batch random negatives are too easy; the hard ones carry the
    gradient signal).

    Returns (query_id, query_label, neighbor_id, neighbor_label, rank,
    cos_sim); rank is per-anchor, ties broken (cos_sim DESC,
    neighbor_id ASC).

    Scale: identical shape to :func:`brute_force_topk` — the anchor set
    is broadcast (small by the same contract), the corpus streams, and
    the label-mismatch predicate is applied INSIDE the broadcast
    nested-loop join BEFORE the dot product, so same-label pairs are
    discarded for the price of an int compare, never scored. Per-vector
    norms are precomputed on each side. For an unbounded anchor set,
    route through the bucketed LSH/IVF paths with the same label
    predicate pushed into the bucket join."""
    from world_cup_duckdb_spark.operators.scale import spread_for_cpu_work

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        as_double(vec_col).alias("qv"),
        F.sqrt(norm2(as_double(vec_col))).alias("_qn"),
    )
    c = spread_for_cpu_work(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        as_double(vec_col).alias("cv"),
        F.sqrt(norm2(as_double(vec_col))).alias("_cn"),
    )
    denom = F.col("_qn") * F.col("_cn")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.when(
                denom != 0.0, dot(F.col("qv"), F.col("cv")) / denom
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            "cos_sim",
        )
    )
