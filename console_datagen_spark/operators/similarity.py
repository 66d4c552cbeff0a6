"""Similarity search over the ``embeddings`` table.

Three tiers, all driver-collect-free:

- brute-force top-k: broadcast the (small) query set against the corpus;
  cosine in a codegen'd higher-order-function projection; per-query top-k
  via ranking window partitioned by query — the shuffle is on query_id,
  k rows per query survive. Baseline + ground truth for recall tests.
- IVF: corpus is assigned to its nearest centroid (broadcast centroids),
  then search touches only the probed cluster — the join key becomes
  centroid_id, so the candidate set shrinks by ~n_clusters. On a real
  deployment the assignment is precomputed and the corpus bucketed/
  partitioned by centroid_id so probes are partition-pruned scans.
- sign-LSH: r broadcast hyperplanes → r sign bits → bucket id; search
  within bucket. Equi-join on bucket id — O(collisions), not O(n^2).

Centroids/hyperplanes are taken deterministically from the corpus itself
(vec_id selection) so the DuckDB oracle can replay the exact pipeline —
a production deployment would plug k-means/random planes in their place.

At very high dims or huge query batches, the cosine projection can move to
a vectorized Pandas UDF (numpy BLAS over Arrow batches); built-ins win at
dim=64 by avoiding the Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.spread import spread
from ..functions.vector import cosine, dot, lit_dot, to_double_vec


def with_norm(embeddings: DataFrame) -> DataFrame:
    """Project (vec_id, v double[], nrm) once; reused by every tier.

    spread: a small-file embeddings scan is ONE task, and everything
    downstream of this projection (dot products, PQ encode, k-means
    assignment) is CPU-bound per row — repartition up to core count so
    those stages parallelize (no-op on a many-split production table).
    """
    v = to_double_vec("embedding")
    return spread(embeddings).select(
        "vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("nrm")
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def brute_force_topk(
    embeddings: DataFrame, k: int = 5, max_query_id: int = 20
) -> DataFrame:
    """(query_id, neighbor_id, rnk) — exact cosine top-k per query."""
    n = with_norm(embeddings)
    q = n.where(F.col("vec_id") < max_query_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
    )
    return _ranked_topk(scored, k)


def assign_clusters(
    embeddings: DataFrame,
    centroid_mod: int = 25,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, v, nrm, cluster) — nearest-centroid assignment.

    Centroids are the vectors with vec_id % centroid_mod == 0 (deterministic
    stand-in for k-means). Ties break toward the lower centroid id.

    ``centroid_source``: frame the centroid rows are drawn from (defaults
    to ``embeddings``). Pass the FULL corpus when assigning a subset —
    e.g. incremental index appends — so assignments stay stable across
    index generations.
    """
    n = with_norm(embeddings)
    cent_base = (
        with_norm(centroid_source) if centroid_source is not None else n
    )
    cent = cent_base.where(F.pmod(F.col("vec_id"), F.lit(centroid_mod)) == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    # The argmax runs over SKINNY rows — (vec_id, cos, cid), no vector
    # payload — and the vectors join back afterwards on vec_id. The
    # previous row_number-window spelling sorted the corpus x nlist
    # candidate fanout WITH the 512-byte vector attached: 53 GB of sort
    # input at the 100x probe's sqrt-nlist (project it out and the same
    # sort is ~2.7 GB, in-memory), the owner of the probe's production
    # disk spill (r10 verdict #4). max_by keeps the fanout inside the
    # scan stage and ships one row per (task, vec_id) into the exchange;
    # ordering parity: max_by over struct(cos, -cid) == rank 1 of
    # ORDER BY cos DESC, cid ASC (cid unique => deterministic). The
    # join-back is a co-partitioned equi-join of two O(corpus) frames —
    # the standard price for not dragging payloads through an argmax.
    scored = n.join(F.broadcast(cent)).select(
        "vec_id",
        (dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias("cos"),
        "cid",
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("cos"), -F.col("cid"))).alias("cluster")
    )
    return n.join(best, "vec_id").select("vec_id", "v", "nrm", "cluster")


def ivf_topk(
    embeddings: DataFrame,
    k: int = 3,
    max_query_id: int = 20,
    centroid_mod: int = 25,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: search the query's ``nprobe`` nearest clusters.

    nprobe=1 searches only the query's own cluster; raising it trades
    candidate volume for recall (the standard IVF knob). Each corpus
    vector lives in exactly one cluster, so a (query, neighbor) pair is
    produced at most once regardless of nprobe — no dedup needed. The
    probe set stays a broadcast (nprobe × queries rows); the corpus side
    is only ever touched via the cluster equi-join, which a persistent
    deployment turns into partition pruning (operators/ivf_index.py).
    """
    assigned = assign_clusters(embeddings, centroid_mod)
    n = with_norm(embeddings)
    cent = n.where(F.pmod(F.col("vec_id"), F.lit(centroid_mod)) == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    qbase = n.where(F.col("vec_id") < max_query_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qscored = qbase.join(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "qn",
        "cid",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    qw = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cid"))
    q = (
        qscored.withColumn("rn", F.row_number().over(qw))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cluster"))
    )
    scored = (
        assigned.join(F.broadcast(q), "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
    )
    return _ranked_topk(scored, k)


def lsh_buckets(embeddings: DataFrame, plane_ids: tuple[int, ...] = (1, 3, 5, 7)) -> DataFrame:
    """(vec_id, bucket) — sign-LSH bucket from deterministic hyperplanes."""
    n = with_norm(embeddings)
    planes = n.where(F.col("vec_id").isin(list(plane_ids))).select(
        F.col("vec_id").alias("pid"), F.col("v").alias("pv")
    )
    # dense_rank gives each plane a stable bit index 0..r-1 by pid order
    pw = Window.orderBy("pid")
    planes = planes.withColumn("bit", F.dense_rank().over(pw) - 1)
    signs = n.join(F.broadcast(planes)).select(
        "vec_id",
        "bit",
        F.when(dot(F.col("v"), F.col("pv")) > 0, 1).otherwise(0).alias("sgn"),
    )
    return signs.groupBy("vec_id").agg(
        F.sum(F.expr("shiftleft(CAST(sgn AS BIGINT), bit)")).alias("bucket")
    )


def kmeans_iterate(
    embeddings: DataFrame, k: int = 10, iterations: int = 2
) -> DataFrame:
    """Lloyd's k-means over embedding vectors — the iterative-algorithm tier.

    Deterministic init: centroid j = the vector with vec_id == j * (n/k)
    ordinal. Each iteration: assign (broadcast centroids, cosine argmax) →
    recompute means (zip_with elementwise sum agg / count). All DataFrame
    ops; the loop materializes k centroid rows per iteration (driver-side
    collect of k rows only — not the corpus).

    Returns the final assignment (vec_id, cluster). Float means make this
    run-order sensitive at the last ulp, so the declared check is
    rows-only (iterative algorithms clause, SURVEY §5).
    """
    n = with_norm(embeddings)
    cent = (
        n.where(F.pmod(F.col("vec_id"), F.lit(max(1, 500 // k))) == 0)
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # dim is hoisted OUT of the loop: a .first() inside the iteration is a
    # driver round-trip per Lloyd step that serializes the whole loop
    dim = len(embeddings.select("embedding").first()[0])
    for _ in range(iterations):
        scored = n.join(F.broadcast(cent)).select(
            "vec_id",
            "v",
            "cid",
            (dot(F.col("v"), F.col("cv"))).alias("sim"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "v", F.col("cid").alias("cluster"))
        )
        sums = assigned.groupBy("cluster").agg(
            F.count("*").alias("sz"),
            *[
                F.sum(F.element_at(F.col("v"), i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        cent = sums.select(
            F.col("cluster").alias("cid"),
            F.array(
                *[(F.col(f"s{i}") / F.col("sz")) for i in range(dim)]
            ).alias("cv"),
        )
    final = n.join(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        dot(F.col("v"), F.col("cv")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        final.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster"))
    )


DUP_LSH_BANDS: tuple[tuple[int, ...], ...] = (
    (1, 3, 5),
    (2, 4, 6),
    (7, 9, 11),
    (8, 10, 12),
)


def lsh_buckets_multi(
    embeddings: DataFrame,
    bands: tuple[tuple[int, ...], ...],
    normed: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, band, bucket) for every band in ONE narrow projection.

    The hyperplane vectors are collected to the driver (one tiny collect —
    #bands × #planes rows, the same O(small) class as k-means centroids)
    and inlined as literal arrays (one SQL-text expression per plane, see
    ``lit_dot``), so every band's bucket is a plain
    column expression: one corpus scan, zero joins, zero shuffles. The
    per-band rows come from computing each band's bucket as its own
    column, then ``stack``-unpivoting — the generator runs over scalar
    LONGs, so no struct-array gets materialized per row. Bucket values
    are identical to ``lsh_buckets`` — same planes, same bit order
    (plane position within its band), same sign rule.

    Pass ``normed`` (a held ``with_norm`` frame) to share the norm
    projection with downstream verify joins instead of recomputing it.
    """
    n = normed if normed is not None else with_norm(embeddings)
    all_pids = sorted({p for planes in bands for p in planes})
    plane_vec = {
        r["vec_id"]: r["v"]
        for r in n.where(F.col("vec_id").isin(all_pids))
        .select("vec_id", "v")
        .collect()
    }
    missing = [p for p in all_pids if p not in plane_vec]
    if missing:
        raise ValueError(f"hyperplane vec_ids not in corpus: {missing}")

    def band_bucket(planes: tuple[int, ...]):
        bucket = F.lit(0).cast("long")
        for bit, pid in enumerate(planes):
            sgn = F.when(lit_dot("v", plane_vec[pid]) > 0, 1 << bit).otherwise(0)
            bucket = bucket + sgn.cast("long")
        return bucket

    per_band = n.select(
        "vec_id",
        *[band_bucket(planes).alias(f"_b{i}") for i, planes in enumerate(bands)],
    )
    stack_args = ", ".join(f"{i}, _b{i}" for i in range(len(bands)))
    return per_band.selectExpr(
        "vec_id", f"stack({len(bands)}, {stack_args}) AS (band, bucket)"
    ).selectExpr("vec_id", "CAST(band AS INT) AS band", "bucket")


def candidate_pairs_from_buckets(
    buckets: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """Distinct (vec_a, vec_b) colliding in ≥1 band — equi-join on
    (band, bucket), never all-pairs. Persist the *buckets* input (both
    join sides read it); the pair result itself is consumed once by the
    verify join, so holding it is optional — measured indifferent at
    bench scale.

    ``bucket_cap`` (None = keep all) drops buckets with more members —
    candidate volume is quadratic in bucket size, and an over-full
    sign-LSH bucket at crawl scale is a near-constant embedding family
    (boilerplate) whose pairs overwhelm verify; same rationale and plan
    shape as ``dedup.lsh_candidate_pairs_capped`` (the size agg joins
    back on the (band, bucket) key the pair join shuffles on anyway).
    """
    if bucket_cap is not None:
        keep = (
            buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("bsz"))
            .where((F.col("bsz") >= 2) & (F.col("bsz") <= bucket_cap))
            .select("band", "bucket")
        )
        buckets = buckets.join(keep, ["band", "bucket"])
    ba = buckets.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    bb = buckets.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
    return (
        ba.join(bb, ["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    bands: tuple[tuple[int, ...], ...] = DUP_LSH_BANDS,
    threshold: float = 0.4,
    candidates: DataFrame | None = None,
    normed: DataFrame | None = None,
) -> DataFrame:
    """(vec_a, vec_b) near-dup pairs via multi-band sign-LSH — the scale path.

    Candidate generation is an equi-join on (band, bucket): vectors meet
    only if some band hashes them to the same bucket (OR across bands for
    recall), so candidate volume is O(collisions), never the O(n²)
    cartesian of ``embedding_dup_pairs``. Verification joins the vectors
    back by id (shuffle on key) and applies the exact cosine threshold.
    The whole pipeline is deterministic, so the DuckDB oracle replays it
    bucket-for-bucket.

    Band sizing: sign-LSH collision probability per band is (1-θ/π)^r;
    at cosine 0.4 (θ≈66°) that is ~0.25 for r=3 planes, so 4 bands give
    ~68% recall — raise the band count for higher recall, raise r for
    stronger pruning. Precision is exact (every candidate is verified).

    Pass a persisted ``candidates`` frame (from
    ``candidate_pairs_from_buckets``) to stop the verify join from
    re-deriving the whole bucket pipeline, and a held ``normed`` frame so
    the norm projection is computed once for buckets AND both verify
    sides — the pattern the registered query uses (plans/similarity.py),
    mirroring the MinHash path.
    """
    n = normed if normed is not None else with_norm(embeddings)
    cand = (
        candidates
        if candidates is not None
        else candidate_pairs_from_buckets(lsh_buckets_multi(embeddings, bands, normed=n))
    )
    va = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .where(
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) > threshold
        )
        .select("vec_a", "vec_b")
    )


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """(vec_a, vec_b) with cosine above threshold — exact ground truth.

    This is the exact O(n²/2) self-join, kept as the recall baseline for
    tests; the registered query and any at-scale use go through
    ``embedding_dup_pairs_lsh`` (bucketed candidates, no cartesian).
    """
    n = with_norm(embeddings)
    a = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) > threshold
        )
        .select("vec_a", "vec_b")
    )


def semantic_dup_pairs(
    embeddings: DataFrame,
    centroid_mod: int = 25,
    threshold: float = 0.4,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(cluster, vec_a, vec_b) — SemDeDup-style cluster-bounded near-dups.

    The SemDeDup recipe (Abbas et al., arXiv:2303.09540): cluster the
    embedding space first, then search for semantic duplicates ONLY within
    each cluster — the pairwise cosine check never crosses cluster
    boundaries, so the candidate space is Σ|cluster|² instead of n².
    At 100 TB this is the key cut: the within-cluster self-join is an
    equi-join on the cluster id (one shuffle co-locating each cluster),
    and cluster granularity (k = n/centroid_mod) bounds the per-task
    quadratic work. Complements ``embedding_dup_pairs_lsh``: LSH bounds
    candidates by hash collision (exact-recall knob per band), SemDeDup
    bounds them by semantic locality (recall limited to same-cluster
    pairs — the documented tradeoff of the paper).

    Pass a persisted ``assigned`` frame (from ``assign_clusters``) when
    the caller reuses the assignment (e.g. for the keeper roll-up).
    """
    a = assigned if assigned is not None else assign_clusters(embeddings, centroid_mod)
    va = a.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = a.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        va.join(vb, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) > threshold
        )
        .select("cluster", "vec_a", "vec_b")
    )


# Round-5 geometry: finer subspaces + bigger codebooks. 16 subspaces x
# 4 dims x 64 codes (6-bit) = 12 B per 64-dim vector (21x compression vs
# float32) and, with one Lloyd round, recall@5 = 0.58 at sf0.01 — vs 0.30
# for the old 8x8x16 (4-bit, 64x) geometry. Measured A/B 2026-08-14:
# 8x8x16 sampled 0.18 / lloyd 0.30; 16x4x16 sampled 0.36; 16x4x64
# sampled 0.45 / lloyd 0.58. The memory-vs-recall knob is explicit: drop
# back to 8x8x16 when 64x compression matters more than recall.
PQ_M = 16  # subspaces (64-dim vectors -> 16 x 4-dim subvectors)
PQ_DIM = 4
PQ_CODES = 64  # codes per subspace (6-bit codes)


def opq_permute(embeddings: DataFrame, perm: tuple[int, ...]) -> DataFrame:
    """OPQ-style dimension reordering before PQ subspace slicing.

    Optimized Product Quantization rotates the space so each subquantizer
    captures comparable structure; the hash-exact distributed analogue is
    a dimension permutation (a signed permutation IS an orthogonal
    rotation), applied here as a zero-shuffle projection — downstream
    ``pq_codebook``/``pq_encode``/``pq_topk`` compose unchanged, and a
    DuckDB oracle replays it by permuting the view's list column.

    ``perm`` is 0-based: output dim i = input dim perm[i]. Measured A/B on
    the sf0.01 fixture (recall@5, one Lloyd round): identity 0.58,
    variance-balanced snake fill 0.51, correlation-greedy grouping 0.43,
    stride interleave 0.47 — this corpus's natural dim order is already
    block-correlated, so the production default keeps identity and the
    knob exists for corpora whose embedding layouts are not (real encoder
    outputs often interleave heads). Permuting the float dims before the
    permille floor is elementwise-exact, so every downstream integer is
    identical to permuting after.
    """
    arr = F.array(*[F.element_at(F.col("embedding"), p + 1) for p in perm])
    return embeddings.withColumn("embedding", arr)


def _pq_sqdist(a, b):
    """Exact integer squared L2 over two permille long arrays.

    Expanded to PQ_DIM scalar terms (element_at + multiply) instead of
    aggregate(zip_with(...)): the higher-order-function form allocates an
    intermediate array per candidate row, and the encode stage evaluates
    this corpus x PQ_M x PQ_CODES times — the expanded form stays inside
    whole-stage codegen with zero allocations."""
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, PQ_DIM + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _pq_subvectors(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, j, sv): integer-permille 8-dim subvectors, one row per
    (vector, subspace). The permille floor is IEEE-identical in DuckDB, so
    the whole PQ pipeline is hash-exact."""
    iv = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    subs = F.array(*[F.slice(iv, j * PQ_DIM + 1, PQ_DIM) for j in range(PQ_M)])
    # no spread here: measured — the added exchange + 32-task scheduling
    # overhead exceeds the parallelism gain for the ~1 s encode stage
    # (sim_pq_topk 1.7 s -> 2.1 s with it); the posexplode itself fans
    # out to PQ_M rows/vector which downstream shuffles then distribute
    return embeddings.select(
        F.col("vec_id").alias(id_col), F.posexplode(subs).alias("j", "sv")
    )


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """(code, j, cv): the deterministic sampled codebooks — the PQ_CODES
    permille subvectors of vec_id < PQ_CODES per subspace. (A production
    build would Lloyd-refine each subspace like ``kmeans_int_iterate``;
    sampling keeps the certified surface simple.)"""
    return _pq_subvectors(embeddings).where(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").cast("int").alias("code"), "j", F.col("sv").alias("cv")
    )


def pq_encode(embeddings: DataFrame, codebook: DataFrame | None = None) -> DataFrame:
    """(vec_id, j, code): every corpus vector's per-subspace argmin-L2
    code (ties -> smaller code id). One broadcast join of PQ_M x PQ_CODES
    codebook rows + one min_by hash aggregation — NOT a window: the
    argmin over corpus x PQ_M x PQ_CODES candidate rows partial-combines
    map-side (each task reduces its own candidates before the shuffle),
    where a row_number window would sort the full candidate fanout.
    Semantics identical: min_by ordered by (d, code) == rank-1 of
    ORDER BY d, code."""
    sub = _pq_subvectors(embeddings)
    cb = codebook if codebook is not None else pq_codebook(embeddings)
    # (d, code) packs losslessly into ONE BIGINT (d is exact integer
    # squared-L2 over permille values, code < PQ_CODES), so the argmin is
    # a plain min() with a primitive buffer — whole-stage-codegen
    # HashAggregate with map-side combine. The min_by(struct) spelling
    # has a struct aggregation buffer, which HashAggregateExec cannot
    # host: Spark planned a SortAggregate that SORTED the corpus x PQ_M x
    # PQ_CODES fanout per task (410M rows at the 100x probe — the other
    # owner of its production spill, r10 verdict #4). Semantics
    # identical: min(d * PQ_CODES + code) == lexicographic (d, code) min.
    packed = F.col("d") * F.lit(PQ_CODES).cast("long") + F.col("code")
    return (
        sub.join(F.broadcast(cb), "j")
        .select(
            "vec_id", "j", "code", _pq_sqdist(F.col("sv"), F.col("cv")).alias("d")
        )
        .groupBy("vec_id", "j")
        .agg(
            F.pmod(F.min(packed), F.lit(PQ_CODES).cast("long"))
            .cast("int")
            .alias("code")
        )
    )


def pq_dtable(
    embeddings: DataFrame,
    max_query_id: int = 20,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """(query_id, j, code, qd): per-query ADC distance tables — the
    query-subvector-to-code integer squared-L2 for every (subspace, code).
    Broadcast-sized: queries x PQ_M x PQ_CODES rows."""
    cb = codebook if codebook is not None else pq_codebook(embeddings)
    qsub = _pq_subvectors(
        embeddings.where(F.col("vec_id") < max_query_id), id_col="query_id"
    )
    return qsub.join(F.broadcast(cb), "j").select(
        "query_id", "j", "code", _pq_sqdist(F.col("sv"), F.col("cv")).alias("qd")
    )


def pq_refine_codebook(embeddings: DataFrame) -> DataFrame:
    """One Lloyd round per subspace: the sampled codebooks updated to the
    elementwise floor-mean of their argmin-assigned subvectors — the
    data-adaptive training step production PQ runs (FAISS trains each
    subquantizer with k-means; one integer-exact round keeps the whole
    pipeline hash-checkable, same arithmetic as ``kmeans_int_iterate``).
    A code that attracts no vectors keeps its sampled centroid."""
    sub = _pq_subvectors(embeddings)
    cb0 = pq_codebook(embeddings)
    # same map-side-combining min_by argmin as pq_encode (keeps sv for
    # the mean update)
    assigned = (
        sub.join(F.broadcast(cb0), "j")
        .select(
            "vec_id", "j", "code", "sv",
            _pq_sqdist(F.col("sv"), F.col("cv")).alias("d"),
        )
        .groupBy("vec_id", "j")
        .agg(F.min_by(F.struct("code", "sv"), F.struct("d", "code")).alias("best"))
        .select("j", F.col("best.code").alias("code"), F.col("best.sv").alias("sv"))
    )
    means = (
        assigned.select("j", "code", F.posexplode("sv").alias("p", "val"))
        .groupBy("j", "code", "p")
        .agg(F.floor(F.sum("val") / F.count("*")).cast("long").alias("m"))
        .groupBy("j", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("m")))),
                lambda s: s.getField("m"),
            ).alias("cv1")
        )
    )
    return cb0.join(means, ["j", "code"], "left").select(
        "code", "j", F.coalesce(F.col("cv1"), F.col("cv")).alias("cv")
    )


def pq_lloyd_topk(
    embeddings: DataFrame, k: int = 5, max_query_id: int = 20
) -> DataFrame:
    """PQ ANN with one Lloyd-refined codebook round (see
    ``pq_refine_codebook``); same ADC evaluation as ``pq_topk``."""
    cb1 = pq_refine_codebook(embeddings)
    scored = (
        pq_encode(embeddings, codebook=cb1)
        .join(
            F.broadcast(pq_dtable(embeddings, max_query_id, codebook=cb1)),
            ["j", "code"],
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist"))
    )
    return _adc_topk(scored, k)


def pq_rerank_topk(
    embeddings: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    max_query_id: int = 20,
) -> DataFrame:
    """(query_id, neighbor_id, rnk) — PQ ADC shortlist + exact re-rank.

    The FAISS ``IndexRefineFlat`` pattern: ADC (sampled codebooks) ranks a
    ``shortlist`` of candidates per query from the compressed codes alone,
    then the exact float cosine re-ranks ONLY those candidates to the
    final top-k. The refinement step touches ``queries x shortlist`` raw
    vectors (1000 rows here) regardless of corpus size, so at 100 TB the
    raw-vector reads stay O(shortlist) per query while recall jumps past
    what any pure-code ranking can reach (0.70 vs 0.45 sampled /
    0.58 Lloyd at sf0.01). Cosine ranking is deterministic (identical
    fold order both engines), so the result is hash-exact.
    """
    short = pq_topk(embeddings, k=shortlist, max_query_id=max_query_id).select(
        "query_id", "neighbor_id"
    )
    n = with_norm(embeddings)
    qs = n.where(F.col("vec_id") < max_query_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cs = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    rr = (
        short.join(F.broadcast(qs), "query_id")
        .join(cs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        rr.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def coarse_probes(
    embeddings: DataFrame,
    max_query_id: int = 20,
    centroid_mod: int = 25,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cluster): each query's nprobe nearest IVF centroids by
    float cosine (deterministic — identical fold order both engines).

    ``centroids``: a prebuilt (cid, cv, cn) frame — pass the index's
    persisted centroid sidecar so the probe never derives centroids from
    a corpus scan; when None they are derived from ``embeddings`` (the
    certified in-memory spelling)."""
    n = with_norm(embeddings)
    cent = (
        centroids
        if centroids is not None
        else n.where(F.pmod(F.col("vec_id"), F.lit(centroid_mod)) == 0).select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    qbase = n.where(F.col("vec_id") < max_query_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qscored = qbase.join(F.broadcast(cent)).select(
        "query_id",
        "cid",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    qw = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        qscored.withColumn("rn", F.row_number().over(qw))
        .where(F.col("rn") <= nprobe)
        .select("query_id", F.col("cid").alias("cluster"))
    )


def _adc_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "adist")
    )


def pq_topk(
    embeddings: DataFrame, k: int = 5, max_query_id: int = 20
) -> DataFrame:
    """(query_id, neighbor_id, rnk, adist) — product-quantization ANN.

    The memory-side scale technique IVF doesn't cover: corpus vectors are
    compressed to PQ_M 6-bit codes (here 16 codes = 12 bytes per 64-dim
    vector, a 21x compression over float32) and distances are evaluated
    against the codes, not the vectors:

    - codebooks: per subspace j, the ``PQ_CODES`` permille subvectors of
      vec_id < PQ_CODES (deterministic sampled codebook — a production
      build would Lloyd-refine each subspace like ``kmeans_int_iterate``;
      sampling keeps the certified surface simple);
    - encode: per (vector, subspace), argmin integer squared-L2 code
      (ties -> smaller code id). One broadcast join of PQ_M x PQ_CODES
      codebook rows + one per-(vector, subspace) window;
    - ADC (asymmetric distance computation): per query, the
      PQ_M x PQ_CODES table of query-subvector-to-code distances is
      broadcast; approximate distance is the SUM over subspaces of the
      table entry for the corpus code — an equi-join on (j, code) + one
      hash agg, never touching corpus vectors again;
    - top-k per query by (adist, neighbor_id).

    Everything is integer, so the DuckDB oracle replays it bit-for-bit.
    At 100 TB the encoded corpus (12 B/vector) is what sits in RAM/disk
    cache, and the same ADC join composes with the IVF cluster pruning of
    ``sim_ivf_topk`` (probe only the encoded vectors of nprobe clusters).
    """
    scored = (
        pq_encode(embeddings)
        .join(F.broadcast(pq_dtable(embeddings, max_query_id)), ["j", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist"))
    )
    return _adc_topk(scored, k)


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    max_query_id: int = 20,
    centroid_mod: int = 25,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, rnk, adist) — IVF-pruned PQ: the production
    ANN composition.

    IVF contributes the COMPUTE cut (only ``nprobe`` clusters' vectors are
    scored per query — partition pruning against the persisted index,
    operators/ivf_index.py) and PQ contributes the MEMORY cut (scored
    vectors are 12-byte code blocks, distances come from the broadcast
    ADC table). The two are orthogonal, exactly as in FAISS's IVFPQ: cluster
    assignment/probing uses the float cosine coarse quantizer
    (deterministic — identical fold order both engines), in-cluster
    ranking uses the integer ADC distance (hash-exact).
    """
    assigned = assign_clusters(embeddings, centroid_mod).select("vec_id", "cluster")
    probes = coarse_probes(embeddings, max_query_id, centroid_mod, nprobe)
    # candidate set: vectors of the probed clusters (at most one row per
    # (query, vector) — each vector lives in exactly one cluster)
    cand = (
        assigned.join(F.broadcast(probes), "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        cand.join(pq_encode(embeddings), "vec_id")
        .join(
            F.broadcast(pq_dtable(embeddings, max_query_id)),
            ["query_id", "j", "code"],
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist"))
    )
    return _adc_topk(scored, k)


def kmeans_int_iterate(
    embeddings: DataFrame, centroid_mod: int = 25, iterations: int = 2
) -> DataFrame:
    """Integer-exact Lloyd k-means — the hash-checkable iterative tier.

    The float variant (``kmeans_iterate``) can't be oracle-hash-checked:
    float mean accumulation is partition-order-dependent. This variant is
    exact end-to-end, so DuckDB replays it bit-for-bit:

    - vectors become integer permille components (floor(x*1000) — the
      double multiply and floor are IEEE-identical in both engines);
    - assignment maximizes the raw integer dot product (magnitudes stay
      within 2^53, so even a double-typed sum is exact), ties broken by
      smallest centroid id;
    - centroid update is the elementwise floor-division mean
      (sum DIV count), which keeps centroids integer vectors.

    Plan shape per iteration: one broadcast of k centroid rows for the
    argmax join + one posexplode/groupBy for the means — both linear in
    corpus size, no driver round-trips inside the loop.
    """
    # spread: the per-iteration corpus x centroids dot-product join is
    # the CPU stage; a single-file scan would pin it to one task
    iv = spread(embeddings).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("iv"),
    )
    cents = iv.where(F.pmod(F.col("vec_id"), F.lit(centroid_mod)) == 0).select(
        F.col("vec_id").alias("cid"), F.col("iv").alias("cv")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dp").desc(), F.col("cid"))
    assigned = None
    for _ in range(iterations):
        scored = iv.join(F.broadcast(cents)).select(
            "vec_id",
            "iv",
            "cid",
            F.aggregate(
                F.zip_with(F.col("iv"), F.col("cv"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dp"),
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "iv", F.col("cid").alias("cluster"))
        )
        cents = (
            assigned.select(
                "cluster", F.posexplode(F.col("iv")).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            # floor, not cast-truncation: means of negative components
            # must round toward -inf identically in the DuckDB replay
            .agg(F.floor(F.sum("val") / F.count("*")).cast("long").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s.getField("m"),
                ).alias("cv")
            )
            .select(F.col("cluster").alias("cid"), "cv")
        )
    return assigned.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def _int_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, iv): permille integer vectors — shared by the residual
    pipeline's corpus, centroid and query branches."""
    return embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("iv"),
    )


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivfpq_residual_topk(
    embeddings: DataFrame,
    k: int = 5,
    max_query_id: int = 20,
    centroid_mod: int = 25,
    nprobe: int = 2,
) -> DataFrame:
    """Residual-quantized IVFPQ — the REAL FAISS IVFPQ structure.

    ``ivfpq_topk`` PQ-encodes raw vectors; production IVFPQ encodes the
    RESIDUAL x − c(x) against the assigned coarse centroid, because
    residuals concentrate near zero and the same codebook budget buys far
    lower quantization error. The cost is probe-side: the ADC distance
    table becomes per-(query, probed cluster) — the query's residual
    differs per cluster — which is exactly why FAISS precomputes
    per-cluster tables. Everything here is integer-exact (permille
    vectors, integer dots for assignment, integer squared-L2 for
    encode/ADC), so the DuckDB oracle replays it bit-for-bit.

    Plan shape: centroids and codebook broadcast (tiny); corpus encode is
    one broadcast join + map-side-combining min_by argmin; probing joins
    the (queries × nprobe × PQ_M × PQ_CODES)-row broadcast table on
    (cluster, j, code). No cartesian, no raw-vector reads at probe time.
    """
    iv = _int_vectors(embeddings)
    cent = iv.where(F.pmod(F.col("vec_id"), F.lit(centroid_mod)) == 0).select(
        F.col("vec_id").alias("cid"), F.col("iv").alias("cv")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dp").desc(), F.col("cid"))
    assigned = (
        iv.join(F.broadcast(cent))
        .select("vec_id", "iv", "cid", _int_dot(F.col("iv"), F.col("cv")).alias("dp"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "iv", F.col("cid").alias("cluster"))
    )
    res = assigned.join(
        F.broadcast(cent.select(F.col("cid").alias("cluster"), "cv")), "cluster"
    ).select(
        "vec_id",
        "cluster",
        F.zip_with(F.col("iv"), F.col("cv"), lambda a, b: a - b).alias("r"),
    )
    subs = res.select(
        "vec_id",
        "cluster",
        F.posexplode(
            F.array(*[F.slice(F.col("r"), j * PQ_DIM + 1, PQ_DIM) for j in range(PQ_M)])
        ).alias("j", "sv"),
    )
    cb = subs.where(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").cast("int").alias("code"), "j", F.col("sv").alias("cv2")
    )
    encoded = (
        subs.join(F.broadcast(cb), "j")
        .select(
            "vec_id",
            "cluster",
            "j",
            "code",
            _pq_sqdist(F.col("sv"), F.col("cv2")).alias("d"),
        )
        .groupBy("vec_id", "cluster", "j")
        .agg(F.min_by("code", F.struct(F.col("d"), F.col("code"))).alias("code"))
    )
    # probe side: per query, nprobe clusters by the SAME integer dot
    qiv = iv.where(F.col("vec_id") < max_query_id).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qiv")
    )
    qw = Window.partitionBy("query_id").orderBy(F.col("dp").desc(), F.col("cid"))
    probes = (
        qiv.join(F.broadcast(cent))
        .select(
            "query_id", "qiv", "cid", _int_dot(F.col("qiv"), F.col("cv")).alias("dp")
        )
        .withColumn("rn", F.row_number().over(qw))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qiv", F.col("cid").alias("cluster"))
    )
    qsub = probes.join(
        F.broadcast(cent.select(F.col("cid").alias("cluster"), "cv")), "cluster"
    ).select(
        "query_id",
        "cluster",
        F.posexplode(
            F.array(
                *[
                    F.slice(
                        F.zip_with(F.col("qiv"), F.col("cv"), lambda a, b: a - b),
                        j * PQ_DIM + 1,
                        PQ_DIM,
                    )
                    for j in range(PQ_M)
                ]
            )
        ).alias("j", "sv"),
    )
    dtable = qsub.join(F.broadcast(cb), "j").select(
        "query_id",
        "cluster",
        "j",
        "code",
        _pq_sqdist(F.col("sv"), F.col("cv2")).alias("qd"),
    )
    scored = (
        encoded.join(F.broadcast(dtable), ["cluster", "j", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist"))
    )
    return _adc_topk(scored, k)
