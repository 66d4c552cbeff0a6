"""Declared similarity-search queries — DataFrame operators + DuckDB oracles.

Cosine scores are computed in identical double-precision left-fold order on
both engines (Spark ``aggregate`` over zip_with vs DuckDB
``list_inner_product`` over DOUBLE[] casts), so rankings are deterministic
and only ids/ranks are emitted (FIXTURES.md: float scores are never hashed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..catalog import register_views
from ..functions.hashing import HASH_PRIME as _HASH_PRIME
from ..functions.vector import sql_int_array
from ..operators import similarity as S
from .registry import CacheSlot, df_query, sql_query

EMB = ("embeddings",)

# Q20 [north-star: similarity prep] embeddings array scan
sql_query(
    "q20_label_counts",
    "SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label ORDER BY label",
    tables=EMB,
    tags=("similarity", "agg"),
    doc="Q20: embeddings table scan + label histogram (SURVEY §2.11)",
)

_DUCK_NORM = (
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)"
)


def _brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.brute_force_topk(emb, k=5, max_query_id=20).orderBy("query_id", "rnk")


df_query(
    "sim_topk_brute",
    _brute,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "      WHERE vec_id < 20), "
        "scored AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "           list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "           FROM n c, q WHERE c.vec_id <> query_id), "
        "r AS (SELECT query_id, neighbor_id, "
        "      ROW_NUMBER() OVER (PARTITION BY query_id "
        "                         ORDER BY cos DESC, neighbor_id) AS rnk "
        "      FROM scored) "
        "SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM r "
        "WHERE rnk <= 5 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "topk"),
    doc="brute-force cosine top-5 (exact baseline; broadcast queries)",
)


def _ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.ivf_topk(emb, k=3, max_query_id=20, centroid_mod=25).orderBy(
        "query_id", "rnk"
    )


df_query(
    "sim_ivf_topk",
    _ivf,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n "
        "         WHERE vec_id % 25 = 0), "
        "ascore AS (SELECT n.vec_id, n.v, n.nrm, cid, "
        "           list_inner_product(n.v, cv) / (n.nrm * cn) AS cos "
        "           FROM n, cent), "
        "assigned AS (SELECT vec_id, v, nrm, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "   ORDER BY cos DESC, cid) AS rn FROM ascore) t WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cluster "
        "      FROM assigned WHERE vec_id < 20), "
        "scored AS (SELECT query_id, a.vec_id AS neighbor_id, "
        "           list_inner_product(qv, a.v) / (qn * a.nrm) AS cos "
        "           FROM assigned a JOIN q USING (cluster) "
        "           WHERE a.vec_id <> query_id), "
        "r AS (SELECT query_id, neighbor_id, "
        "      ROW_NUMBER() OVER (PARTITION BY query_id "
        "                         ORDER BY cos DESC, neighbor_id) AS rnk "
        "      FROM scored) "
        "SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM r "
        "WHERE rnk <= 3 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ivf"),
    doc="IVF top-3 (nprobe=1): nearest-centroid bucketing prunes the search",
)


def _ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.ivf_topk(emb, k=3, max_query_id=20, centroid_mod=25, nprobe=2).orderBy(
        "query_id", "rnk"
    )


df_query(
    "sim_ivf_multiprobe",
    _ivf_multiprobe,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n "
        "         WHERE vec_id % 25 = 0), "
        "ascore AS (SELECT n.vec_id, n.v, n.nrm, cid, "
        "           list_inner_product(n.v, cv) / (n.nrm * cn) AS cos "
        "           FROM n, cent), "
        "assigned AS (SELECT vec_id, v, nrm, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "   ORDER BY cos DESC, cid) AS rn FROM ascore) t WHERE rn = 1), "
        "qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "       WHERE vec_id < 20), "
        "qscore AS (SELECT query_id, qv, qn, cid, "
        "           list_inner_product(qv, cv) / (qn * cn) AS cos "
        "           FROM qs, cent), "
        "probes AS (SELECT query_id, qv, qn, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
        "   ORDER BY cos DESC, cid) AS rn FROM qscore) t WHERE rn <= 2), "
        "scored AS (SELECT query_id, a.vec_id AS neighbor_id, "
        "           list_inner_product(qv, a.v) / (qn * a.nrm) AS cos "
        "           FROM assigned a JOIN probes USING (cluster) "
        "           WHERE a.vec_id <> query_id), "
        "r AS (SELECT query_id, neighbor_id, "
        "      ROW_NUMBER() OVER (PARTITION BY query_id "
        "                         ORDER BY cos DESC, neighbor_id) AS rnk "
        "      FROM scored) "
        "SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM r "
        "WHERE rnk <= 3 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ivf"),
    doc="IVF top-3 with nprobe=2: two nearest clusters probed per query",
)


def _quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import absmax_scale, quantize_int8, to_double_vec

    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    v = to_double_vec("embedding")
    scale = absmax_scale(v)
    q = quantize_int8(v, scale)
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q"),
    ).orderBy("vec_id")


df_query(
    "sim_quantize_int8",
    _quantize,
    oracle=(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "s AS (SELECT vec_id, v, "
        "      list_max(list_transform(v, x -> abs(x))) AS scale FROM e) "
        "SELECT vec_id, CAST(scale AS DOUBLE) AS scale, "
        "array_to_string(list_transform(v, "
        "  x -> CAST(CAST(FLOOR(x * 127 / scale) AS INT) AS VARCHAR)), ',') AS q "
        "FROM s ORDER BY vec_id"
    ),
    tables=EMB,
    tags=("similarity", "quantize"),
    doc="symmetric int8 vector quantization (floor, max-abs scale) — the "
    "compact ANN storage format; exact cross-engine by floor-not-round",
)


def _lsh_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return (
        S.lsh_buckets(emb)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


df_query(
    "sim_lsh_buckets",
    _lsh_hist,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "planes AS (SELECT vec_id AS pid, v AS pv, "
        "           ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS bit "
        "           FROM n WHERE vec_id IN (1, 3, 5, 7)), "
        "signs AS (SELECT n.vec_id, bit, "
        "          CASE WHEN list_inner_product(n.v, pv) > 0 THEN 1 ELSE 0 END "
        "          AS sgn FROM n, planes), "
        "buckets AS (SELECT vec_id, "
        "            CAST(SUM(CAST(sgn AS BIGINT) << bit) AS BIGINT) AS bucket "
        "            FROM signs GROUP BY vec_id) "
        "SELECT bucket, COUNT(*) AS n FROM buckets GROUP BY bucket ORDER BY bucket"
    ),
    tables=EMB,
    tags=("similarity", "lsh"),
    doc="sign-LSH bucket histogram (4 hyperplanes → 16 buckets)",
)


_DUP_BANDS = S.DUP_LSH_BANDS

_emb_cache = CacheSlot()


def _emb_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    _emb_cache.release()
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    # r15 hold-policy refit (guide §5, VERDICT r14 #1): every frame is now
    # held LAZILY — the r14 policy (normed eager + cand eager) paid two
    # blocking count jobs per run. The plane-vector collect inside
    # lsh_buckets_multi is itself a full pass over normed, so it fills the
    # normed cache in-flight (no count job and no consumer race: the
    # collect runs before any other consumer exists); cand's cache fills
    # during the final job's own build stages. Interleaved same-session
    # A/B (scripts/ab_emb.py, all six policies × min-of-3): lazy-all
    # 2.99 s vs committed-eager 4.43 s min (3.44 vs 7.09 median) — the
    # two deleted count jobs were pure floor. Values are hold-policy
    # independent; dedup_embedding + dedup_cross_lingual re-verified
    # against the oracle.
    normed = _emb_cache.hold(S.with_norm(emb), materialize=False)
    buckets = _emb_cache.hold(
        S.lsh_buckets_multi(emb, _DUP_BANDS, normed=normed), materialize=False
    )
    cand = _emb_cache.hold(
        S.candidate_pairs_from_buckets(buckets), materialize=False
    )
    # the verify join is held too: the final global sort runs it twice
    # otherwise (range-partition sampling job + the map stage); lazily
    # held, the sampling job fills the cache and the map stage reads it
    pairs = _emb_cache.hold(
        S.embedding_dup_pairs_lsh(
            emb, bands=_DUP_BANDS, threshold=0.4, candidates=cand, normed=normed
        ),
        materialize=False,
    )
    return pairs.orderBy("vec_a", "vec_b")


# bit index per plane = rank of the plane's vec_id within its band — the
# same stable ordering lsh_buckets derives with dense_rank over pid
_DUCK_BAND_PLANES = " UNION ALL ".join(
    f"SELECT {i} AS band, vec_id AS pid, v AS pv, "
    "ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS bit "
    f"FROM n WHERE vec_id IN {planes}"
    for i, planes in enumerate(_DUP_BANDS)
)


df_query(
    "dedup_embedding",
    _emb_dups,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"planes AS ({_DUCK_BAND_PLANES}), "
        "signs AS (SELECT n.vec_id, band, bit, "
        "          CASE WHEN list_inner_product(n.v, pv) > 0 THEN 1 ELSE 0 END "
        "          AS sgn FROM n, planes), "
        "buckets AS (SELECT vec_id, band, "
        "            CAST(SUM(CAST(sgn AS BIGINT) << bit) AS BIGINT) AS bucket "
        "            FROM signs GROUP BY vec_id, band), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "         FROM buckets a JOIN buckets b "
        "         ON a.band = b.band AND a.bucket = b.bucket "
        "         WHERE a.vec_id < b.vec_id) "
        "SELECT vec_a, vec_b FROM cand "
        "JOIN n na ON na.vec_id = cand.vec_a "
        "JOIN n nb ON nb.vec_id = cand.vec_b "
        "WHERE list_inner_product(na.v, nb.v) / (na.nrm * nb.nrm) > 0.4 "
        "ORDER BY vec_a, vec_b"
    ),
    tables=EMB,
    tags=("dedup", "similarity", "lsh"),
    doc="embedding near-dup pairs via 2-band sign-LSH candidates + exact verify",
)


_EMB_BUCKET_CAP = 70  # bites at sf0.01 (bucket sizes run 40-89) so the
# oracle certifies the sign-LSH cap logic itself


def _emb_dups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    normed = S.with_norm(emb)
    buckets = S.lsh_buckets_multi(emb, _DUP_BANDS, normed=normed)
    cand = S.candidate_pairs_from_buckets(buckets, bucket_cap=_EMB_BUCKET_CAP)
    return S.embedding_dup_pairs_lsh(
        emb, bands=_DUP_BANDS, threshold=0.4, candidates=cand, normed=normed
    ).orderBy("vec_a", "vec_b")


df_query(
    "dedup_embedding_capped",
    _emb_dups_capped,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"planes AS ({_DUCK_BAND_PLANES}), "
        "signs AS (SELECT n.vec_id, band, bit, "
        "          CASE WHEN list_inner_product(n.v, pv) > 0 THEN 1 ELSE 0 END "
        "          AS sgn FROM n, planes), "
        "buckets AS (SELECT vec_id, band, "
        "            CAST(SUM(CAST(sgn AS BIGINT) << bit) AS BIGINT) AS bucket "
        "            FROM signs GROUP BY vec_id, band), "
        "keep AS (SELECT band, bucket FROM buckets GROUP BY band, bucket "
        f"         HAVING COUNT(*) BETWEEN 2 AND {_EMB_BUCKET_CAP}), "
        "kept AS (SELECT b.* FROM buckets b JOIN keep k "
        "         ON b.band = k.band AND b.bucket = k.bucket), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "         FROM kept a JOIN kept b "
        "         ON a.band = b.band AND a.bucket = b.bucket "
        "         WHERE a.vec_id < b.vec_id) "
        "SELECT vec_a, vec_b FROM cand "
        "JOIN n na ON na.vec_id = cand.vec_a "
        "JOIN n nb ON nb.vec_id = cand.vec_b "
        "WHERE list_inner_product(na.v, nb.v) / (na.nrm * nb.nrm) > 0.4 "
        "ORDER BY vec_a, vec_b"
    ),
    tables=EMB,
    tags=("dedup", "similarity", "lsh", "scale"),
    doc="embedding near-dup pairs with the sign-LSH hot-bucket cap: "
    f"buckets over {_EMB_BUCKET_CAP} members are dropped before pairing "
    "(the crawl-scale boilerplate-embedding guard, twin of "
    "dedup_lsh_capped) - candidate volume O(cap²)/bucket, exact verify "
    "unchanged",
)


def _ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF(nprobe=1) against the exact brute-force truth.

    The quality gauge every ANN deployment needs: both pipelines run as
    declarative plans and a left join + non-null count scores each query.
    """
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    brute = S.brute_force_topk(emb, k=5, max_query_id=20).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        S.ivf_topk(emb, k=5, max_query_id=20, centroid_mod=25)
        .select("query_id", "neighbor_id")
        .withColumn("m", F.lit(1))
    )
    return (
        brute.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("m").alias("hits"))
        .select(
            "query_id",
            F.col("hits").cast("long").alias("hits"),
            (F.col("hits") * 200).cast("long").alias("recall_permille"),
        )
        .orderBy("query_id")
    )


df_query(
    "sim_ivf_recall",
    _ivf_recall,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "      WHERE vec_id < 20), "
        "bscored AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "            list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "            FROM n c, q WHERE c.vec_id <> query_id), "
        "brute AS (SELECT query_id, neighbor_id FROM "
        "  (SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        "   FROM bscored) t WHERE rnk <= 5), "
        "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n "
        "         WHERE vec_id % 25 = 0), "
        "ascore AS (SELECT n.vec_id, n.v, n.nrm, cid, "
        "           list_inner_product(n.v, cv) / (n.nrm * cn) AS cos "
        "           FROM n, cent), "
        "assigned AS (SELECT vec_id, v, nrm, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "   ORDER BY cos DESC, cid) AS rn FROM ascore) t WHERE rn = 1), "
        "iq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cluster "
        "       FROM assigned WHERE vec_id < 20), "
        "iscored AS (SELECT query_id, a.vec_id AS neighbor_id, "
        "            list_inner_product(qv, a.v) / (qn * a.nrm) AS cos "
        "            FROM assigned a JOIN iq USING (cluster) "
        "            WHERE a.vec_id <> query_id), "
        "ivf AS (SELECT query_id, neighbor_id FROM "
        "  (SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        "   FROM iscored) t WHERE rnk <= 5), "
        "hits AS (SELECT b.query_id, COUNT(i.neighbor_id) AS hits "
        "         FROM brute b LEFT JOIN ivf i "
        "         ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id "
        "         GROUP BY b.query_id) "
        "SELECT query_id, CAST(hits AS BIGINT) AS hits, "
        "CAST(hits * 200 AS BIGINT) AS recall_permille "
        "FROM hits ORDER BY query_id"
    ),
    tables=EMB,
    tags=("similarity", "recall"),
    doc="recall@5 of IVF nprobe=1 vs exact brute force, per query vector",
)


def _kmeans_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.kmeans_int_iterate(emb, centroid_mod=25, iterations=2).orderBy(
        "vec_id"
    )


def _duck_kmeans_iter(src_e: str, src_c: str, out_a: str, out_c: str) -> str:
    """One Lloyd iteration: argmax-dot assignment + floor-mean update."""
    return (
        f"{out_a} AS (SELECT vec_id, iv, cid AS cluster FROM ("
        f"  SELECT e.vec_id, e.iv, c.cid, "
        f"  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY "
        f"    list_inner_product(e.iv, c.cv) DESC, c.cid) AS rn "
        f"  FROM {src_e} e, {src_c} c) t WHERE rn = 1), "
        f"{out_c}_m AS (SELECT cluster, i, "
        f"  CAST(FLOOR(CAST(SUM(iv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m "
        f"  FROM {out_a}, (SELECT unnest(generate_series(1, 64)) AS i) d "
        f"  GROUP BY cluster, i), "
        f"{out_c} AS (SELECT cluster AS cid, list(m ORDER BY i) AS cv "
        f"  FROM {out_c}_m GROUP BY cluster)"
    )


df_query(
    "sim_kmeans_int",
    _kmeans_int,
    oracle=(
        "WITH e0 AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "  x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS iv FROM embeddings), "
        "c0 AS (SELECT vec_id AS cid, iv AS cv FROM e0 WHERE vec_id % 25 = 0), "
        f"{_duck_kmeans_iter('e0', 'c0', 'a1', 'c1')}, "
        f"{_duck_kmeans_iter('e0', 'c1', 'a2', 'c2')} "
        "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a2 "
        "ORDER BY vec_id"
    ),
    tables=EMB,
    tags=("similarity", "iterative", "kmeans"),
    doc="integer-exact Lloyd k-means (2 iterations): permille vectors, "
    "argmax-dot assignment, floor-mean centroids — the iterative tier "
    "hash-checked (the float variant stays rows-only by design)",
)


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.pq_topk(emb).orderBy("query_id", "rnk")


# PQ geometry shared with the operators (oracle SQL is generated from the
# same constants so a geometry change lands in exactly one place)
_PM, _PD, _PC = S.PQ_M, S.PQ_DIM, S.PQ_CODES

# integer squared-L2 between two permille subvectors, DuckDB spelling
_DUCK_PQ_D = (
    f"CAST(list_sum(list_transform(generate_series(1, {_PD}), "
    "i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS BIGINT)"
)

df_query(
    "sim_pq_topk",
    _pq_topk,
    oracle=(
        "WITH iv AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "  x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v FROM embeddings), "
        f"sub AS (SELECT vec_id, j, v[j*{_PD}+1 : j*{_PD}+{_PD}] AS sv FROM iv, "
        f"        (SELECT unnest(generate_series(0, {_PM - 1})) AS j) js), "
        "cb AS (SELECT CAST(vec_id AS INT) AS code, j, sv AS cv FROM sub "
        f"       WHERE vec_id < {_PC}), "
        f"enc0 AS (SELECT s.vec_id, s.j, c.code, {_DUCK_PQ_D} AS d "
        "         FROM sub s JOIN cb c ON s.j = c.j), "
        "encoded AS (SELECT vec_id, j, code FROM ("
        "  SELECT vec_id, j, code, ROW_NUMBER() OVER ("
        "    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc0) t "
        "  WHERE rn = 1), "
        f"dtable AS (SELECT s.vec_id AS query_id, s.j, c.code, {_DUCK_PQ_D} AS qd "
        "           FROM sub s JOIN cb c ON s.j = c.j WHERE s.vec_id < 20), "
        "scored AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        "           CAST(SUM(qd) AS BIGINT) AS adist "
        "           FROM encoded e JOIN dtable d "
        "           ON e.j = d.j AND e.code = d.code "
        "           WHERE e.vec_id <> d.query_id GROUP BY 1, 2) "
        "SELECT query_id, neighbor_id, rnk, adist FROM ("
        "  SELECT query_id, neighbor_id, adist, CAST(ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rnk "
        "  FROM scored) t WHERE rnk <= 5 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ann", "pq"),
    doc="product-quantization ANN top-5: 16x6-bit codes per vector (21x "
    "compression), integer sampled codebooks, broadcast ADC tables, "
    "equi-join distance evaluation — hash-exact vs DuckDB",
)


def _ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.ivfpq_topk(emb).orderBy("query_id", "rnk")


df_query(
    "sim_ivfpq_topk",
    _ivfpq_topk,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        # -- IVF coarse quantizer: float-cosine assignment + nprobe=2 probes
        "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n "
        "         WHERE vec_id % 25 = 0), "
        "ascore AS (SELECT n.vec_id, cid, "
        "           list_inner_product(n.v, cv) / (n.nrm * cn) AS cos "
        "           FROM n, cent), "
        "assigned AS (SELECT vec_id, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "   ORDER BY cos DESC, cid) AS rn FROM ascore) t WHERE rn = 1), "
        "qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "       WHERE vec_id < 20), "
        "qscore AS (SELECT query_id, cid, "
        "           list_inner_product(qv, cv) / (qn * cn) AS cos "
        "           FROM qs, cent), "
        "probes AS (SELECT query_id, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
        "   ORDER BY cos DESC, cid) AS rn FROM qscore) t WHERE rn <= 2), "
        "cand AS (SELECT query_id, a.vec_id FROM assigned a "
        "         JOIN probes USING (cluster) WHERE a.vec_id <> query_id), "
        # -- PQ fine quantizer: integer codes + broadcast ADC tables
        "iv AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "  x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v FROM embeddings), "
        f"sub AS (SELECT vec_id, j, v[j*{_PD}+1 : j*{_PD}+{_PD}] AS sv FROM iv, "
        f"        (SELECT unnest(generate_series(0, {_PM - 1})) AS j) js), "
        "cb AS (SELECT CAST(vec_id AS INT) AS code, j, sv AS cv FROM sub "
        f"       WHERE vec_id < {_PC}), "
        f"enc0 AS (SELECT s.vec_id, s.j, c.code, {_DUCK_PQ_D} AS d "
        "         FROM sub s JOIN cb c ON s.j = c.j), "
        "encoded AS (SELECT vec_id, j, code FROM ("
        "  SELECT vec_id, j, code, ROW_NUMBER() OVER ("
        "    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc0) t "
        "  WHERE rn = 1), "
        f"dtable AS (SELECT s.vec_id AS query_id, s.j, c.code, {_DUCK_PQ_D} AS qd "
        "           FROM sub s JOIN cb c ON s.j = c.j WHERE s.vec_id < 20), "
        "scored AS (SELECT cand.query_id, e.vec_id AS neighbor_id, "
        "           CAST(SUM(qd) AS BIGINT) AS adist "
        "           FROM cand JOIN encoded e ON cand.vec_id = e.vec_id "
        "           JOIN dtable d ON d.query_id = cand.query_id "
        "             AND d.j = e.j AND d.code = e.code "
        "           GROUP BY 1, 2) "
        "SELECT query_id, neighbor_id, rnk, adist FROM ("
        "  SELECT query_id, neighbor_id, adist, CAST(ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rnk "
        "  FROM scored) t WHERE rnk <= 5 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ann", "ivf", "pq"),
    doc="IVFPQ ANN top-5: nprobe=2 cosine cluster pruning (compute cut) "
    "composed with 6-bit PQ ADC ranking (memory cut) — the FAISS-style "
    "production composition, hash-exact vs DuckDB",
)


def _pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the production PQ config (Lloyd-refined codebooks, see
    ``pq_refine_codebook``) against the exact brute-force truth — the
    compression-quality gauge for the 16x4x64 code budget (IVF recall
    gauges the pruning; this gauges the quantization). One summary row so
    the gauge value is the query output, not a post-hoc mean."""
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    brute = S.brute_force_topk(emb, k=5, max_query_id=20).select(
        "query_id", "neighbor_id"
    )
    pq = (
        S.pq_lloyd_topk(emb, k=5, max_query_id=20)
        .select("query_id", "neighbor_id")
        .withColumn("m", F.lit(1))
    )
    return brute.join(pq, ["query_id", "neighbor_id"], "left").agg(
        F.count("m").cast("long").alias("hits"),
        F.count("*").cast("long").alias("n_truth"),
        F.floor(F.count("m") * 1000 / F.count("*")).cast("long").alias(
            "recall_permille"
        ),
    )


# the shared PQ front half: permille vectors -> subvectors -> sampled cb
_DUCK_PQ_BASE = (
    "iv AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
    "  x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v FROM embeddings), "
    f"sub AS (SELECT vec_id, j, v[j*{_PD}+1 : j*{_PD}+{_PD}] AS sv FROM iv, "
    f"        (SELECT unnest(generate_series(0, {_PM - 1})) AS j) js), "
    "cb AS (SELECT CAST(vec_id AS INT) AS code, j, sv AS cv FROM sub "
    f"       WHERE vec_id < {_PC})"
)

# one Lloyd round: assign vs sampled cb (keeping sv for the mean update),
# elementwise floor-mean per (subspace, code); empty codes keep sampled cv
_DUCK_PQ_LLOYD_CB = (
    f"asg0 AS (SELECT s.vec_id, s.j, c.code, s.sv, {_DUCK_PQ_D} AS d "
    "         FROM sub s JOIN cb c ON s.j = c.j), "
    "asg AS (SELECT j, code, sv FROM ("
    "  SELECT j, code, sv, ROW_NUMBER() OVER ("
    "    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM asg0) t "
    "  WHERE rn = 1), "
    "mupd AS (SELECT j, code, i, "
    "  CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m "
    f"  FROM asg, (SELECT unnest(generate_series(1, {_PD})) AS i) d "
    "  GROUP BY j, code, i), "
    "cb1m AS (SELECT j, code, list(m ORDER BY i) AS cv1 "
    "         FROM mupd GROUP BY j, code), "
    "cb1 AS (SELECT cb.code, cb.j, COALESCE(cb1m.cv1, cb.cv) AS cv "
    "        FROM cb LEFT JOIN cb1m "
    "        ON cb.j = cb1m.j AND cb.code = cb1m.code)"
)

# re-encode + per-query ADC tables against the refined codebooks
_DUCK_PQ_LLOYD_EVAL = (
    f"enc0 AS (SELECT s.vec_id, s.j, c.code, {_DUCK_PQ_D} AS d "
    "         FROM sub s JOIN cb1 c ON s.j = c.j), "
    "encoded AS (SELECT vec_id, j, code FROM ("
    "  SELECT vec_id, j, code, ROW_NUMBER() OVER ("
    "    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc0) t "
    "  WHERE rn = 1), "
    f"dtable AS (SELECT s.vec_id AS query_id, s.j, c.code, {_DUCK_PQ_D} AS qd "
    "           FROM sub s JOIN cb1 c ON s.j = c.j WHERE s.vec_id < 20)"
)

df_query(
    "sim_pq_recall",
    _pq_recall,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "      WHERE vec_id < 20), "
        "bscored AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "            list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "            FROM n c, q WHERE c.vec_id <> query_id), "
        "brute AS (SELECT query_id, neighbor_id FROM "
        "  (SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        "   FROM bscored) t WHERE rnk <= 5), "
        f"{_DUCK_PQ_BASE}, {_DUCK_PQ_LLOYD_CB}, {_DUCK_PQ_LLOYD_EVAL}, "
        "pscored AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        "            CAST(SUM(qd) AS BIGINT) AS adist "
        "            FROM encoded e JOIN dtable d "
        "            ON e.j = d.j AND e.code = d.code "
        "            WHERE e.vec_id <> d.query_id GROUP BY 1, 2), "
        "pq AS (SELECT query_id, neighbor_id, 1 AS m FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk "
        "  FROM pscored) t WHERE rnk <= 5) "
        "SELECT CAST(COUNT(pq.m) AS BIGINT) AS hits, "
        "CAST(COUNT(*) AS BIGINT) AS n_truth, "
        "CAST(FLOOR(COUNT(pq.m) * 1000.0 / COUNT(*)) AS BIGINT) "
        "  AS recall_permille "
        "FROM brute b LEFT JOIN pq "
        "ON b.query_id = pq.query_id AND b.neighbor_id = pq.neighbor_id"
    ),
    tables=EMB,
    tags=("similarity", "ann", "pq", "recall"),
    doc="recall@5 of the production PQ config (16x4x64 Lloyd-refined) vs "
    "exact brute force, one summary row: the quantization-quality gauge "
    "(complements sim_ivf_recall's pruning gauge)",
)


def _pq_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.pq_lloyd_topk(emb).orderBy("query_id", "rnk")


df_query(
    "sim_pq_lloyd",
    _pq_lloyd,
    oracle=(
        f"WITH {_DUCK_PQ_BASE}, {_DUCK_PQ_LLOYD_CB}, {_DUCK_PQ_LLOYD_EVAL}, "
        "scored AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        "           CAST(SUM(qd) AS BIGINT) AS adist "
        "           FROM encoded e JOIN dtable d "
        "           ON e.j = d.j AND e.code = d.code "
        "           WHERE e.vec_id <> d.query_id GROUP BY 1, 2) "
        "SELECT query_id, neighbor_id, rnk, adist FROM ("
        "  SELECT query_id, neighbor_id, adist, CAST(ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rnk "
        "  FROM scored) t WHERE rnk <= 5 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ann", "pq", "kmeans"),
    doc="PQ ANN with one integer-exact Lloyd refinement of the sampled "
    "codebooks (floor-mean subquantizer training, FAISS-style) — "
    "hash-exact vs DuckDB",
)


def _pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.pq_rerank_topk(emb).orderBy("query_id", "rnk")


df_query(
    "sim_pq_rerank",
    _pq_rerank,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"{_DUCK_PQ_BASE}, "
        # sampled-codebook ADC shortlist (top-50 per query by approx dist)
        f"enc0 AS (SELECT s.vec_id, s.j, c.code, {_DUCK_PQ_D} AS d "
        "         FROM sub s JOIN cb c ON s.j = c.j), "
        "encoded AS (SELECT vec_id, j, code FROM ("
        "  SELECT vec_id, j, code, ROW_NUMBER() OVER ("
        "    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc0) t "
        "  WHERE rn = 1), "
        f"dtable AS (SELECT s.vec_id AS query_id, s.j, c.code, {_DUCK_PQ_D} AS qd "
        "           FROM sub s JOIN cb c ON s.j = c.j WHERE s.vec_id < 20), "
        "pscored AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        "            CAST(SUM(qd) AS BIGINT) AS adist "
        "            FROM encoded e JOIN dtable d "
        "            ON e.j = d.j AND e.code = d.code "
        "            WHERE e.vec_id <> d.query_id GROUP BY 1, 2), "
        "short AS (SELECT query_id, neighbor_id FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk "
        "  FROM pscored) t WHERE rnk <= 50), "
        # exact cosine re-rank of the shortlist only
        "qv AS (SELECT vec_id AS query_id, v, nrm FROM n WHERE vec_id < 20), "
        "rr AS (SELECT s.query_id, s.neighbor_id, "
        "       list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cos "
        "       FROM short s JOIN qv q ON s.query_id = q.query_id "
        "       JOIN n c ON s.neighbor_id = c.vec_id) "
        "SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        "  FROM rr) t WHERE rnk <= 5 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ann", "pq", "rerank"),
    doc="PQ ADC shortlist-50 + exact cosine re-rank to top-5 (the FAISS "
    "IndexRefineFlat pattern): raw-vector reads stay O(shortlist) per "
    "query at any corpus size; recall@5 0.70 at sf0.01 vs 0.45 pure-ADC",
)


# ---- SemDeDup: cluster-bounded semantic dedup ------------------------------

# nearest-centroid assignment CTE shared by the two SemDeDup queries —
# identical text to the assignment stage of the IVF oracles above
_DUCK_ASSIGNED = (
    f"{_DUCK_NORM}, "
    "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n "
    "         WHERE vec_id % 25 = 0), "
    "ascore AS (SELECT n.vec_id, n.v, n.nrm, cid, "
    "           list_inner_product(n.v, cv) / (n.nrm * cn) AS cos "
    "           FROM n, cent), "
    "assigned AS (SELECT vec_id, v, nrm, cid AS cluster FROM "
    "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
    "   ORDER BY cos DESC, cid) AS rn FROM ascore) t WHERE rn = 1), "
    "sempairs AS (SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b "
    "             FROM assigned a JOIN assigned b "
    "             ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
    "             WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) > 0.4)"
)

_sem_cache = CacheSlot()


def _semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _sem_cache.release()
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    # the assignment is consumed by both sides of the within-cluster
    # self-join; hold it so the centroid argmax runs once, not twice
    assigned = _sem_cache.hold(S.assign_clusters(emb, centroid_mod=25))
    return S.semantic_dup_pairs(emb, threshold=0.4, assigned=assigned).orderBy(
        "cluster", "vec_a", "vec_b"
    )


df_query(
    "dedup_semantic_pairs",
    _semantic_pairs,
    oracle=(
        f"WITH {_DUCK_ASSIGNED} "
        "SELECT cluster, vec_a, vec_b FROM sempairs "
        "ORDER BY cluster, vec_a, vec_b"
    ),
    tables=EMB,
    tags=("dedup", "similarity", "semantic"),
    doc="SemDeDup (arXiv:2303.09540) semantic near-dup pairs: k-means-style "
    "cluster assignment bounds the pairwise cosine check to within-cluster "
    "equi-joins — candidate volume is sum(|cluster|^2), never n^2",
)


def _semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    pairs = _semantic_pairs(spark, sf_dir)
    # greedy min-id keeper rule: any vector that collides with a lower id
    # in its cluster is dropped (one pass — no iterative components; a
    # chain a<b<c drops b and c, keeping exactly one rep per chain head)
    drops = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    return (
        emb.join(drops, "vec_id", "left_anti")
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("n_kept"))
        .orderBy("label")
    )


df_query(
    "dedup_semantic",
    _semantic_keepers,
    oracle=(
        f"WITH {_DUCK_ASSIGNED}, "
        "drops AS (SELECT DISTINCT vec_b AS vec_id FROM sempairs) "
        "SELECT label, COUNT(*) AS n_kept FROM embeddings e "
        "WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = e.vec_id) "
        "GROUP BY label ORDER BY label"
    ),
    tables=EMB,
    tags=("dedup", "similarity", "semantic", "pipeline"),
    doc="SemDeDup end-to-end: corpus anti-joined against the semantic-dup "
    "drop list (greedy min-id keeper per within-cluster dup chain), rolled "
    "up per label — the dedup tier's output shape over embeddings",
)


# ---- per-dim feature normalization ----------------------------------------


def _minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max normalization — the feature-scaling pass a
    training pipeline runs before quantization or mixing embedding
    sources. Stats are a per-dim aggregate (map-side partials over the
    posexplode, tiny 64-row result broadcast back); the scaled values
    floor to permille, so the whole thing is hash-exact (the double
    arithmetic (x - min) / (max - min) is IEEE-identical in both
    engines).
    """
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select("vec_id", "dim", F.col("x").cast("double").alias("x"))
    stats = comp.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    return (
        comp.where(F.col("vec_id") < 20)
        .join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            F.when(
                F.col("hi") == F.col("lo"), F.lit(0).cast("long")
            ).otherwise(
                F.floor(
                    (F.col("x") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 1000
                ).cast("long")
            ).alias("scaled_permille"),
        )
        .orderBy("vec_id", "dim")
    )


df_query(
    "feat_minmax_normalize",
    _minmax,
    oracle=(
        "WITH comp AS (SELECT vec_id, i - 1 AS dim, "
        "              CAST(embedding[i] AS DOUBLE) AS x "
        "              FROM embeddings, "
        "              unnest(generate_series(1, len(embedding))) AS t(i)), "
        "stats AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM comp "
        "          GROUP BY dim) "
        "SELECT c.vec_id, c.dim, "
        "CASE WHEN s.hi = s.lo THEN 0 "
        "ELSE CAST(FLOOR((c.x - s.lo) / (s.hi - s.lo) * 1000) AS BIGINT) END "
        "  AS scaled_permille "
        "FROM comp c JOIN stats s ON c.dim = s.dim WHERE c.vec_id < 20 "
        "ORDER BY c.vec_id, c.dim"
    ),
    tables=EMB,
    tags=("similarity", "features", "normalize"),
    doc="per-dim min-max feature normalization to floor-permille: corpus "
    "dim stats (tiny agg, broadcast back) applied to a query sample — "
    "IEEE-identical double arithmetic, hash-exact",
)


# ---- SemDeDup over TRAINED clusters ---------------------------------------


def _semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the integer-exact Lloyd assignment instead of the
    modulo-centroid stand-in: the paper's actual recipe (k-means first,
    within-cluster cosine second), fully hash-checked because the
    2-iteration kmeans tier is. Same scale shape as dedup_semantic_pairs
    — the pairwise check never crosses cluster boundaries."""
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    # no cache hold: the self-join's two branches are byte-identical
    # subplans, so Catalyst's ReusedExchange already executes the Lloyd
    # pipeline once (measured: uncached 3.1 s beats eager-held 3.6 s and
    # lazy-held 7 s cold at sf0.1)
    assigned = S.kmeans_int_iterate(emb, centroid_mod=25, iterations=2)
    n = S.with_norm(emb)
    an = assigned.join(n, "vec_id")
    a = an.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = an.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    from ..functions.vector import dot

    return (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) > 0.4
        )
        .select("cluster", "vec_a", "vec_b")
        .orderBy("cluster", "vec_a", "vec_b")
    )


df_query(
    "dedup_semantic_kmeans",
    _semantic_kmeans,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "e0 AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "  x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS iv FROM embeddings), "
        "c0 AS (SELECT vec_id AS cid, iv AS cv FROM e0 WHERE vec_id % 25 = 0), "
        f"{_duck_kmeans_iter('e0', 'c0', 'a1', 'c1')}, "
        f"{_duck_kmeans_iter('e0', 'c1', 'a2', 'c2')}, "
        "an AS (SELECT a2.vec_id, a2.cluster, n.v, n.nrm FROM a2 "
        "       JOIN n ON a2.vec_id = n.vec_id) "
        "SELECT CAST(a.cluster AS BIGINT) AS cluster, "
        "a.vec_id AS vec_a, b.vec_id AS vec_b "
        "FROM an a JOIN an b ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        "WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) > 0.4 "
        "ORDER BY cluster, vec_a, vec_b"
    ),
    tables=EMB,
    tags=("dedup", "similarity", "semantic", "kmeans", "iterative"),
    doc="SemDeDup over TRAINED clusters: 2-round integer Lloyd assignment "
    "bounds the exact-cosine pair check — the paper's full recipe, "
    "hash-exact end-to-end (upgrades dedup_semantic_pairs' stand-in "
    "assignment)",
)


# ---- residual-quantized IVFPQ ----------------------------------------------


def _ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    return S.ivfpq_residual_topk(emb).orderBy("query_id", "rnk")


def _l2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {_PD}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


_DUCK_IDOT = "list_inner_product({a}::DOUBLE[], {b}::DOUBLE[])"

df_query(
    "sim_ivfpq_residual",
    _ivfpq_residual,
    oracle=(
        "WITH e0 AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "  x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS iv FROM embeddings), "
        "c0 AS (SELECT vec_id AS cid, iv AS cv FROM e0 WHERE vec_id % 25 = 0), "
        "a0 AS (SELECT vec_id, cluster FROM ("
        "  SELECT e.vec_id, c.cid AS cluster, ROW_NUMBER() OVER ("
        "    PARTITION BY e.vec_id ORDER BY "
        f"    {_DUCK_IDOT.format(a='e.iv', b='c.cv')} DESC, c.cid) AS rn "
        "  FROM e0 e, c0 c) t WHERE rn = 1), "
        "res AS (SELECT a.vec_id, a.cluster, list_transform("
        "  generate_series(1, 64), i -> e.iv[i] - c.cv[i]) AS r "
        "  FROM a0 a JOIN e0 e ON a.vec_id = e.vec_id "
        "  JOIN c0 c ON a.cluster = c.cid), "
        f"sub AS (SELECT vec_id, cluster, j, r[j*{_PD}+1 : j*{_PD}+{_PD}] AS sv "
        f"  FROM res, (SELECT unnest(generate_series(0, {_PM - 1})) AS j) js), "
        "cb AS (SELECT CAST(vec_id AS INT) AS code, j, sv AS cv2 FROM sub "
        f"  WHERE vec_id < {_PC}), "
        f"enc0 AS (SELECT s.vec_id, s.cluster, s.j, c.code, "
        f"  {_l2('s.sv', 'c.cv2')} AS d FROM sub s JOIN cb c ON s.j = c.j), "
        "encoded AS (SELECT vec_id, cluster, j, code FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j "
        "  ORDER BY d, code) AS rn FROM enc0) t WHERE rn = 1), "
        "probes AS (SELECT query_id, cluster FROM ("
        "  SELECT e.vec_id AS query_id, c.cid AS cluster, ROW_NUMBER() OVER ("
        "    PARTITION BY e.vec_id ORDER BY "
        f"    {_DUCK_IDOT.format(a='e.iv', b='c.cv')} DESC, c.cid) AS rn "
        "  FROM e0 e, c0 c WHERE e.vec_id < 20) t WHERE rn <= 2), "
        "qres AS (SELECT p.query_id, p.cluster, list_transform("
        "  generate_series(1, 64), i -> e.iv[i] - c.cv[i]) AS r "
        "  FROM probes p JOIN e0 e ON p.query_id = e.vec_id "
        "  JOIN c0 c ON p.cluster = c.cid), "
        f"qsub AS (SELECT query_id, cluster, j, r[j*{_PD}+1 : j*{_PD}+{_PD}] AS sv "
        f"  FROM qres, (SELECT unnest(generate_series(0, {_PM - 1})) AS j) js), "
        f"dt AS (SELECT q.query_id, q.cluster, q.j, c.code, "
        f"  {_l2('q.sv', 'c.cv2')} AS qd FROM qsub q JOIN cb c ON q.j = c.j), "
        "scored AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        "  CAST(SUM(qd) AS BIGINT) AS adist "
        "  FROM encoded e JOIN dt d ON e.cluster = d.cluster "
        "  AND e.j = d.j AND e.code = d.code "
        "  WHERE e.vec_id <> d.query_id GROUP BY 1, 2) "
        "SELECT query_id, neighbor_id, rnk, adist FROM ("
        "  SELECT query_id, neighbor_id, adist, CAST(ROW_NUMBER() OVER ("
        "    PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rnk "
        "  FROM scored) t WHERE rnk <= 5 ORDER BY query_id, rnk"
    ),
    tables=EMB,
    tags=("similarity", "ann", "pq", "ivf", "residual"),
    doc="residual-quantized IVFPQ (the true FAISS structure): PQ codes "
    "encode x - c(x) against the assigned coarse centroid; probe-side "
    "ADC tables are per-(query, probed cluster) — integer-exact "
    "end-to-end, hash-checked",
)


# ---- Matryoshka truncation gauge -------------------------------------------
# Matryoshka-style embedding truncation (arXiv:2205.13147): serve the
# first d dims of a trained vector and pay recall instead of memory.
# Before committing a 100 TB index to truncated vectors, measure what
# each prefix width costs: recall@5 of truncated-cosine top-5 against
# the full-dim exact truth, per width. Same broadcast-query brute-force
# kernel as sim_topk_brute, run once per width over sliced arrays.

_MK_DIMS = (8, 16, 32)
_MK_Q = 20
_MK_K = 5


def _matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    truth = S.brute_force_topk(emb, k=_MK_K, max_query_id=_MK_Q).select(
        "query_id", "neighbor_id"
    )
    outs = []
    for d in _MK_DIMS:
        trunc = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        approx = (
            S.brute_force_topk(trunc, k=_MK_K, max_query_id=_MK_Q)
            .select("query_id", "neighbor_id")
            .withColumn("m", F.lit(1))
        )
        outs.append(
            truth.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy()
            .agg(F.count("m").alias("hits"))
            .select(
                F.lit(d).cast("long").alias("dim"),
                F.col("hits").cast("long").alias("hits"),
                F.expr(f"CAST(hits * 1000 DIV {_MK_Q * _MK_K} AS BIGINT)").alias(
                    "recall_permille"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("dim")


def _mk_arm(d: int) -> str:
    return (
        f"t{d} AS (SELECT vec_id, v[1:{d}] AS v, "
        f"         sqrt(list_inner_product(v[1:{d}], v[1:{d}])) AS nrm FROM e), "
        f"q{d} AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM t{d} "
        f"         WHERE vec_id < {_MK_Q}), "
        f"s{d} AS (SELECT query_id, c.vec_id AS neighbor_id, "
        f"         list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        f"         FROM t{d} c, q{d} WHERE c.vec_id <> query_id), "
        f"a{d} AS (SELECT query_id, neighbor_id FROM "
        f"  (SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        f"   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        f"   FROM s{d}) x WHERE rnk <= {_MK_K}), "
        f"h{d} AS (SELECT CAST({d} AS BIGINT) AS dim, "
        f"  CAST(COUNT(a{d}.neighbor_id) AS BIGINT) AS hits "
        f"  FROM brute b LEFT JOIN a{d} "
        f"  ON b.query_id = a{d}.query_id AND b.neighbor_id = a{d}.neighbor_id)"
    )


df_query(
    "sim_matryoshka_recall",
    _matryoshka,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        f"      WHERE vec_id < {_MK_Q}), "
        "bs AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "       list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "       FROM n c, q WHERE c.vec_id <> query_id), "
        "brute AS (SELECT query_id, neighbor_id FROM "
        "  (SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        f"   FROM bs) x WHERE rnk <= {_MK_K}), "
        + ", ".join(_mk_arm(d) for d in _MK_DIMS)
        + " SELECT dim, hits, "
        f"CAST(hits * 1000 // {_MK_Q * _MK_K} AS BIGINT) AS recall_permille "
        + " FROM (" 
        + " UNION ALL ".join(f"SELECT * FROM h{d}" for d in _MK_DIMS)
        + ") u ORDER BY dim"
    ),
    tables=EMB,
    tags=("similarity", "recall", "matryoshka"),
    doc="Matryoshka truncation gauge: recall@5 of prefix-width cosine "
    "top-5 (dims 8/16/32) vs the full-dim exact truth — the "
    "memory-vs-recall curve for serving truncated embeddings",
)


# ---- retrieval-quality evaluation ------------------------------------------
# The metric layer over the ANN tier: treat label agreement as graded
# relevance (neighbor relevant iff it shares the query's label) and
# score exact cosine top-5 with the three standard retrieval metrics —
# MRR, hit-rate@k, precision@k — as integers (reciprocal ranks scaled
# by 1e6, rates in permille). One summary row; every input rank is
# already hash-certified by sim_topk_brute, so this certifies the
# metric arithmetic itself.

_EV_Q = 20
_EV_K = 5


def _retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    topk = S.brute_force_topk(emb, k=_EV_K, max_query_id=_EV_Q)
    labels = emb.select("vec_id", "label")
    scored = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rnk",
            F.when(F.col("ql") == F.col("nl"), 1).otherwise(0).alias("rel"),
        )
    )
    per_q = scored.groupBy("query_id").agg(
        F.sum("rel").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
    )
    return per_q.groupBy().agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.expr(
            "CAST(SUM(COALESCE(1000000 DIV first_rel, 0)) DIV COUNT(*) "
            "AS BIGINT)"
        ).alias("mrr_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) * 1000 "
            "DIV COUNT(*) AS BIGINT)"
        ).alias("hit_rate_permille"),
        F.expr(
            f"CAST(SUM(n_rel) * 1000 DIV (COUNT(*) * {_EV_K}) AS BIGINT)"
        ).alias("precision_at_k_permille"),
    )


df_query(
    "rag_eval_metrics",
    _retrieval_eval,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        f"      WHERE vec_id < {_EV_Q}), "
        "scored AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "           list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "           FROM n c, q WHERE c.vec_id <> query_id), "
        "topk AS (SELECT query_id, neighbor_id, rnk FROM "
        "  (SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        f"   FROM scored) t WHERE rnk <= {_EV_K}), "
        "rel AS (SELECT t.query_id, t.rnk, "
        "  CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel "
        "  FROM topk t "
        "  JOIN embeddings ql ON ql.vec_id = t.query_id "
        "  JOIN embeddings nl ON nl.vec_id = t.neighbor_id), "
        "per_q AS (SELECT query_id, SUM(rel) AS n_rel, "
        "  MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel FROM rel "
        "  GROUP BY query_id) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, "
        "CAST(SUM(COALESCE(1000000 // first_rel, 0)) // COUNT(*) AS BIGINT) "
        "  AS mrr_micro, "
        "CAST(SUM(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) * 1000 "
        "  // COUNT(*) AS BIGINT) AS hit_rate_permille, "
        f"CAST(SUM(n_rel) * 1000 // (COUNT(*) * {_EV_K}) AS BIGINT) "
        "  AS precision_at_k_permille "
        "FROM per_q ORDER BY n_queries"
    ),
    tables=EMB,
    tags=("similarity", "rag", "evaluation"),
    doc="retrieval-quality metrics over exact cosine top-5 with "
    "label-match relevance: integer MRR (x1e6), hit-rate@5 and "
    "precision@5 in permille — the evaluation layer of the ANN tier",
)


# ---- IVF cluster-balance gauge ---------------------------------------------
# The IVF analog of agg_key_skew: probe cost at scale is driven by the
# HOTTEST inverted list, not the average one. balance_permille = 1000 *
# max_cluster * n_clusters / n_vectors (1000 = perfectly uniform); a
# 10x-hot list means nprobe hits routinely pay 10 uniform shares and the
# coarse quantizer wants retraining (or the list wants splitting). One
# broadcast-assignment pass + two tiny aggregations.


def _ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    assigned = S.assign_clusters(emb, centroid_mod=25)
    per = assigned.groupBy("cluster").agg(F.count("*").alias("cnt"))
    return per.groupBy().agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("cnt").cast("bigint").alias("n_vectors"),
        F.min("cnt").cast("bigint").alias("min_cluster"),
        F.max("cnt").cast("bigint").alias("max_cluster"),
        F.expr(
            "CAST(MAX(cnt) * 1000 * COUNT(*) DIV SUM(cnt) AS BIGINT)"
        ).alias("balance_permille"),
    )


df_query(
    "sim_ivf_balance",
    _ivf_balance,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n "
        "         WHERE vec_id % 25 = 0), "
        "ascore AS (SELECT n.vec_id, cid, "
        "           list_inner_product(n.v, cv) / (n.nrm * cn) AS cos "
        "           FROM n, cent), "
        "assigned AS (SELECT vec_id, cid AS cluster FROM "
        "  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "   ORDER BY cos DESC, cid) AS rn FROM ascore) t WHERE rn = 1), "
        "per AS (SELECT cluster, COUNT(*) AS cnt FROM assigned "
        "        GROUP BY cluster) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters, "
        "CAST(SUM(cnt) AS BIGINT) AS n_vectors, "
        "CAST(MIN(cnt) AS BIGINT) AS min_cluster, "
        "CAST(MAX(cnt) AS BIGINT) AS max_cluster, "
        "CAST(MAX(cnt) * 1000 * COUNT(*) // SUM(cnt) AS BIGINT) "
        "  AS balance_permille "
        "FROM per ORDER BY n_clusters"
    ),
    tables=EMB,
    tags=("similarity", "ivf", "telemetry"),
    doc="IVF inverted-list balance gauge: cluster-size min/max + hottest-"
    "list permille (1000 = uniform) — the probe-cost skew signal that "
    "decides coarse-quantizer retraining at scale",
)


# ---- cross-lingual pair mining (bitext candidates) -------------------------
# Parallel-corpus (bitext) mining, the multilingual-training data step:
# embedding near-dup pairs whose DOCUMENTS carry different languages are
# translation candidates (same meaning, different surface). Reuses the
# full sign-LSH + exact-verify pipeline and adds two broadcastable
# lang-lookup joins on the shared doc/vec id space — the same shape
# LASER/LaBSE margin-mining runs at corpus scale.


def _cross_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = register_views(spark, sf_dir, EMB + ("documents",))
    pairs = _emb_dups(spark, sf_dir)
    langs = views["documents"].select("doc_id", "lang")
    la = langs.select(
        F.col("doc_id").alias("vec_a"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("vec_b"), F.col("lang").alias("lang_b")
    )
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .where(F.col("lang_a") != F.col("lang_b"))
        .select("vec_a", "vec_b", "lang_a", "lang_b")
        .orderBy("vec_a", "vec_b")
    )


df_query(
    "dedup_cross_lingual",
    _cross_lingual,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"planes AS ({_DUCK_BAND_PLANES}), "
        "signs AS (SELECT n.vec_id, band, bit, "
        "          CASE WHEN list_inner_product(n.v, pv) > 0 THEN 1 ELSE 0 END "
        "          AS sgn FROM n, planes), "
        "buckets AS (SELECT vec_id, band, "
        "            CAST(SUM(CAST(sgn AS BIGINT) << bit) AS BIGINT) AS bucket "
        "            FROM signs GROUP BY vec_id, band), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "         FROM buckets a JOIN buckets b "
        "         ON a.band = b.band AND a.bucket = b.bucket "
        "         WHERE a.vec_id < b.vec_id), "
        "pairs AS (SELECT vec_a, vec_b FROM cand "
        "  JOIN n na ON na.vec_id = cand.vec_a "
        "  JOIN n nb ON nb.vec_id = cand.vec_b "
        "  WHERE list_inner_product(na.v, nb.v) / (na.nrm * nb.nrm) > 0.4) "
        "SELECT p.vec_a, p.vec_b, da.lang AS lang_a, db.lang AS lang_b "
        "FROM pairs p "
        "JOIN documents da ON da.doc_id = p.vec_a "
        "JOIN documents db ON db.doc_id = p.vec_b "
        "WHERE da.lang <> db.lang "
        "ORDER BY p.vec_a, p.vec_b"
    ),
    tables=EMB + ("documents",),
    tags=("similarity", "bitext", "multilingual"),
    doc="bitext candidate mining: embedding near-dup pairs whose docs "
    "carry different languages (sign-LSH candidates + exact cosine "
    "verify + lang lookup) — the parallel-corpus extraction step",
)


# ---- hard-negative mining --------------------------------------------------
# The contrastive-training upgrade of sample_negatives (plans/dedup.py):
# the BEST negatives are the closest embeddings that are provably not
# duplicates — maximally confusable, maximally informative. Anchor set
# (vec_id < 10) broadcasts; candidate scoring is the same broadcast-query
# cosine kernel as sim_topk_brute; the not-a-duplicate constraint is a
# zero-shared-shingle anti-join on the text side of the shared id space.


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    views = register_views(spark, sf_dir, EMB + ("documents",))
    emb, docs = views["embeddings"], views["documents"]
    scored = S.brute_force_topk(emb, k=50, max_query_id=10)
    ids = D.doc_shingle_ids(docs)
    qids = ids.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "tid"
    )
    overlap = (
        qids.join(
            ids.select(F.col("doc_id").alias("neighbor_id"), "tid"), "tid"
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    clean = scored.join(overlap, ["query_id", "neighbor_id"], "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rnk")
    return (
        clean.withColumn("hard_rnk", F.row_number().over(w))
        .where(F.col("hard_rnk") <= 3)
        .selectExpr(
            "query_id",
            "neighbor_id AS neg_doc",
            "CAST(hard_rnk AS INT) AS hard_rnk",
        )
        .orderBy("query_id", "hard_rnk")
    )


df_query(
    "sample_hard_negatives",
    _hard_negatives,
    oracle=(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l "
        "  FROM documents WHERE len(string_split(text, ' ')) >= 3), "
        "sh AS (SELECT doc_id, unnest(list_transform("
        "  generate_series(1, len(l)-2), i -> array_to_string(l[i:i+2], ' '))) "
        "  AS s FROM toks), "
        "ids AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s),1,15))::BIGINT "
        f"  % {_HASH_PRIME} AS tid FROM sh), "
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e), "
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "      WHERE vec_id < 10), "
        "scored AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "           list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "           FROM n c, q WHERE c.vec_id <> query_id), "
        "top50 AS (SELECT query_id, neighbor_id, rnk FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        "  FROM scored) t WHERE rnk <= 50), "
        "overlap AS (SELECT DISTINCT a.doc_id AS query_id, "
        "  b.doc_id AS neighbor_id FROM ids a JOIN ids b ON a.tid = b.tid "
        "  WHERE a.doc_id < 10), "
        "clean AS (SELECT t.query_id, t.neighbor_id, t.rnk FROM top50 t "
        "  WHERE NOT EXISTS (SELECT 1 FROM overlap o "
        "    WHERE o.query_id = t.query_id "
        "    AND o.neighbor_id = t.neighbor_id)) "
        "SELECT query_id, neighbor_id AS neg_doc, "
        "CAST(hard_rnk AS INT) AS hard_rnk FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "  (PARTITION BY query_id ORDER BY rnk) AS hard_rnk FROM clean) x "
        "WHERE hard_rnk <= 3 ORDER BY query_id, hard_rnk"
    ),
    tables=EMB + ("documents",),
    tags=("sampling", "contrastive", "similarity"),
    doc="hard-negative mining: top-3 closest-by-cosine candidates per "
    "anchor that share ZERO text shingles (not-a-duplicate anti-join) — "
    "the maximally-confusable negatives contrastive training wants",
)


# ---- contrastive triplet construction --------------------------------------
# The last mile of contrastive data prep: (anchor, positive, negative)
# rows ready for a triplet/InfoNCE loss. positive = nearest same-label
# neighbor (the weak-supervision positive); negative = nearest
# DIFFERENT-label neighbor (a hard negative by construction). Both come
# from one scored candidate frame — a single broadcast-query cosine pass
# feeding two ranked picks, then one join.


def _triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    topk = S.brute_force_topk(emb, k=50, max_query_id=10)
    labels = emb.select("vec_id", "label")
    scored = topk.join(
        labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql")),
        "query_id",
    ).join(
        labels.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
        ),
        "neighbor_id",
    )
    wp = Window.partitionBy("query_id").orderBy("rnk")
    pos = (
        scored.where(F.col("ql") == F.col("nl"))
        .withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") == 1)
        .select("query_id", F.col("neighbor_id").alias("positive"))
    )
    neg = (
        scored.where(F.col("ql") != F.col("nl"))
        .withColumn("nr", F.row_number().over(wp))
        .where(F.col("nr") == 1)
        .select("query_id", F.col("neighbor_id").alias("negative"))
    )
    return (
        pos.join(neg, "query_id")
        .selectExpr("query_id AS anchor", "positive", "negative")
        .orderBy("anchor")
    )


df_query(
    "pipeline_triplets",
    _triplets,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n "
        "      WHERE vec_id < 10), "
        "scored AS (SELECT query_id, c.vec_id AS neighbor_id, "
        "           list_inner_product(qv, c.v) / (qn * c.nrm) AS cos "
        "           FROM n c, q WHERE c.vec_id <> query_id), "
        "top50 AS (SELECT query_id, neighbor_id, rnk FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk "
        "  FROM scored) t WHERE rnk <= 50), "
        "lbl AS (SELECT t.query_id, t.neighbor_id, t.rnk, "
        "  ql.label AS ql, nl.label AS nl FROM top50 t "
        "  JOIN embeddings ql ON ql.vec_id = t.query_id "
        "  JOIN embeddings nl ON nl.vec_id = t.neighbor_id), "
        "pos AS (SELECT query_id, neighbor_id AS positive FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "  (PARTITION BY query_id ORDER BY rnk) AS pr FROM lbl "
        "  WHERE ql = nl) x WHERE pr = 1), "
        "neg AS (SELECT query_id, neighbor_id AS negative FROM ("
        "  SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "  (PARTITION BY query_id ORDER BY rnk) AS nr FROM lbl "
        "  WHERE ql <> nl) x WHERE nr = 1) "
        "SELECT p.query_id AS anchor, p.positive, g.negative "
        "FROM pos p JOIN neg g ON p.query_id = g.query_id "
        "ORDER BY anchor"
    ),
    tables=EMB,
    tags=("sampling", "contrastive", "pipeline"),
    doc="contrastive triplets: nearest same-label neighbor (positive) + "
    "nearest different-label neighbor (hard negative) per anchor from "
    "ONE scored candidate pass — triplet-loss data prep",
)


# ---- kNN density / outlier probe -------------------------------------------

# Embedding-space density estimation for curation: low-density points are
# the embedding outliers (mislabeled, off-distribution, or encoder-garbage
# rows) that contrastive pipelines prune, and high-density points flag
# over-represented regions that diversity sampling thins. The estimator is
# the standard probe-panel shape — a genuinely CONSTANT panel of _DEN_K
# probes (vec_id < _DEN_K; r8 advice — the earlier vec_id % 10 panel grew
# linearly with the corpus) scored against the corpus, so the broadcast
# side is O(K) no matter the corpus size and the scan is O(n*K), not
# O(n^2/10); the full kNN graph at threshold lives in dedup_embedding's
# sign-LSH path. Only integer counts/ids are emitted; cosines order and
# threshold but are never hashed.

_DEN_K = 32  # constant probe panel size: vec_id < _DEN_K
_DEN_COS = 0.25  # radius for the density count (fixture cos max ~0.49)
_DEN_LOW = 10  # n_close below this => low-density outlier flag


_den_cache = CacheSlot()


def _knn_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    _den_cache.release()
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    n = S.with_norm(emb)
    p = n.where(F.col("vec_id") < _DEN_K).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    from ..functions.vector import dot

    # the panel-vs-corpus scan feeds BOTH the radius-count agg and the
    # nn1 window; hold it so the O(n*K) cosine pass runs once (r8 advice)
    scored = _den_cache.hold(
        n.join(F.broadcast(p), F.col("vec_id") != F.col("probe_id")).select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("pv"), F.col("v")) / (F.col("pn") * F.col("nrm"))).alias(
                "cos"
            ),
        )
    )
    agg = scored.groupBy("probe_id").agg(
        F.sum(F.when(F.col("cos") >= _DEN_COS, 1).otherwise(0))
        .cast("long")
        .alias("n_close")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    nn1 = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("probe_id", F.col("neighbor_id").alias("nn1_id"))
    )
    return (
        agg.join(nn1, "probe_id")
        .select(
            "probe_id",
            "n_close",
            "nn1_id",
            F.when(F.col("n_close") < _DEN_LOW, 1).otherwise(0)
            .cast("int")
            .alias("low_density"),
        )
        .orderBy("probe_id")
    )


df_query(
    "sim_knn_density",
    _knn_density,
    oracle=(
        f"WITH {_DUCK_NORM}, "
        f"p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n "
        f"      WHERE vec_id < {_DEN_K}), "
        "s AS (SELECT probe_id, c.vec_id AS neighbor_id, "
        "      list_inner_product(pv, c.v) / (pn * c.nrm) AS cos "
        "      FROM n c, p WHERE c.vec_id <> probe_id), "
        "a AS (SELECT probe_id, "
        f"     CAST(SUM(CASE WHEN cos >= {_DEN_COS} THEN 1 ELSE 0 END) "
        "          AS BIGINT) AS n_close FROM s GROUP BY probe_id), "
        "r AS (SELECT probe_id, neighbor_id AS nn1_id, "
        "      ROW_NUMBER() OVER (PARTITION BY probe_id "
        "                         ORDER BY cos DESC, neighbor_id) AS rnk "
        "      FROM s) "
        "SELECT a.probe_id, a.n_close, r.nn1_id, "
        f"CAST(CASE WHEN a.n_close < {_DEN_LOW} THEN 1 ELSE 0 END AS INT) "
        "AS low_density "
        "FROM a JOIN r ON a.probe_id = r.probe_id AND r.rnk = 1 "
        "ORDER BY a.probe_id"
    ),
    tables=EMB,
    tags=("similarity", "density", "outlier"),
    doc="probe-panel kNN density: per-probe radius count (cos >= 0.25), "
    "nearest-neighbor id and low-density outlier flag — embedding-space "
    "curation signal (outlier pruning / diversity thinning)",
)


# ---- greedy k-center coreset (diversity sampling) --------------------------

# Farthest-point k-center (Gonzalez 1985) is THE classic diversity-coreset
# selector for training-data curation: k rounds, each picking the point
# farthest from every center chosen so far — a 2-approximation of the
# optimal k-center cover. The selection chain is inherently sequential, so
# the k-1 argmax steps run as bounded driver actions (one 1-row collect
# each, the vocab_bpe_merges precedent); every distance scan is a full
# codegen'd pass with the centers inlined as literals — at 100 TB each
# round is one broadcast-free map + top-1 reduce, and k stays O(10).
#
# Cross-engine exactness: distances are INTEGER squared-L2 over int8-
# quantized vectors (floor-quantization, sim_quantize_int8's format), so
# the argmax chain — where one flipped comparison would diverge the whole
# downstream selection — never touches float accumulation order.

_KC_K = 6
_kc_cache = CacheSlot()


def _d2q(cq) -> Column:
    """Integer squared-L2 from each row's int8-quantized ``q`` to the
    literal center ``cq`` (exact), parsed from one SQL string."""
    return F.expr(
        f"aggregate(zip_with(q, {sql_int_array(cq)}, "
        "(x, y) -> CAST((x - y) * (x - y) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


def _kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import absmax_scale, quantize_int8, to_double_vec
    from ..tools import plan_probe

    _kc_cache.release()
    emb = register_views(spark, sf_dir, EMB)["embeddings"]
    v = to_double_vec(F.col("embedding"))
    # lazy: the seed's orderBy().first() below scans every partition, so
    # it fills the cache in-flight and an eager count would be a pure
    # extra job
    q = _kc_cache.hold(
        emb.select(
            "vec_id",
            absmax_scale(v).alias("scale"),
            quantize_int8(v, absmax_scale(v)).alias("q"),
        )
        .where(F.col("scale") > 0)
        .select("vec_id", "q"),
        materialize=False,
    )

    seed = q.orderBy("vec_id").first()
    centers = [(seed["vec_id"], list(seed["q"]))]

    def fold(frame: DataFrame, i: int) -> DataFrame:
        """Fold center ``i`` into the running (mind, step) columns."""
        d = _d2q(centers[i][1])
        if i == 0:
            return frame.select("vec_id", "q", d.alias("mind"), F.lit(0).alias("step"))
        return frame.select(
            "vec_id",
            "q",
            F.least(F.col("mind"), d).alias("mind"),
            F.when(d < F.col("mind"), F.lit(i)).otherwise(F.col("step")).alias("step"),
        )

    # Each round carries the classic Gonzalez distance array as two
    # columns: ``mind`` (distance to the nearest center so far) and
    # ``step`` (that center's index). A round folds in only the newest
    # center — one distance per row, a constant-size plan per round —
    # and ``step`` moves on a strict ``<`` only, so it names the FIRST
    # center attaining the min, the oracle CASE's tie rule. Each round's
    # frame is held lazily and filled by that round's own top-1 job; the
    # final assignment folds just the last center over the last held
    # round. Distances are exact integers, so mind, step and the argmax
    # chain equal the oracle's unrolled all-centers form bit for bit.
    cur = q
    for i in range(_KC_K - 1):
        cur = _kc_cache.hold(fold(cur, i), materialize=False)
        plan_probe(f"kcenter_round{i + 1}", cur)
        nxt = cur.orderBy(F.col("mind").desc(), "vec_id").first()
        centers.append((nxt["vec_id"], list(nxt["q"])))

    assigned = (
        fold(cur, _KC_K - 1)
        .groupBy("step")
        .agg(F.count("*").alias("n_assigned"), F.max("mind").alias("radius"))
    )
    cent = spark.createDataFrame(
        [(i, int(cid)) for i, (cid, _) in enumerate(centers)],
        "step int, center_id long",
    )
    return (
        cent.join(assigned, "step", "left")
        .select(
            "step",
            "center_id",
            F.coalesce(F.col("n_assigned"), F.lit(0)).cast("long").alias("n_assigned"),
            F.coalesce(F.col("radius"), F.lit(0)).cast("long").alias("radius"),
        )
        .orderBy("step")
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy chain: one 1-row CTE per center, cross-joined into
    the next round's distance scan (every prior CTE is a single row, so
    the 'join' is a constant inline)."""

    def d2(a, b):
        return (
            f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
        )

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) "
        "AS scale FROM e)",
        "q AS (SELECT vec_id, list_transform(v, "
        "x -> CAST(FLOOR(x * 127 / scale) AS BIGINT)) AS q "
        "FROM s WHERE scale > 0)",
        "c0 AS (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, k):
        priors = ", ".join(f"c{j}" for j in range(i))
        ds = [d2("p.q", f"c{j}.q") for j in range(i)]
        mind = ds[0] if i == 1 else "least(" + ", ".join(ds) + ")"
        parts.append(
            f"c{i} AS (SELECT p.vec_id, p.q FROM q p, {priors} "
            f"ORDER BY {mind} DESC, p.vec_id LIMIT 1)"
        )
    all_c = ", ".join(f"c{j}" for j in range(k))
    dsel = ", ".join(d2("p.q", f"c{j}.q") + f" AS d{j}" for j in range(k))
    least = "least(" + ", ".join(f"d{j}" for j in range(k)) + ")"
    case = (
        "CASE " + " ".join(f"WHEN d{j} = mind THEN {j}" for j in range(k)) + " END"
    )
    cent = " UNION ALL ".join(
        f"SELECT {j} AS step, vec_id AS center_id FROM c{j}" for j in range(k)
    )
    parts += [
        f"d AS (SELECT p.vec_id, {dsel} FROM q p, {all_c})",
        f"m AS (SELECT *, {least} AS mind FROM d)",
        f"a AS (SELECT vec_id, mind, {case} AS step FROM m)",
        "g AS (SELECT step, COUNT(*) AS n_assigned, MAX(mind) AS radius "
        "FROM a GROUP BY step)",
        f"cent AS ({cent})",
    ]
    return (
        "WITH " + ", ".join(parts) + " "
        "SELECT CAST(c.step AS INT) AS step, c.center_id, "
        "CAST(COALESCE(g.n_assigned, 0) AS BIGINT) AS n_assigned, "
        "CAST(COALESCE(g.radius, 0) AS BIGINT) AS radius "
        "FROM cent c LEFT JOIN g USING (step) ORDER BY step"
    )


df_query(
    "sample_kcenter",
    _kcenter,
    oracle=_kcenter_oracle(_KC_K),
    tables=EMB,
    tags=("sampling", "coreset", "similarity"),
    doc=f"greedy farthest-point k-center coreset (k={_KC_K}, Gonzalez "
    "2-approx): diversity sampling over int8-quantized embeddings with "
    "integer squared-L2 — emits selection order, coverage count and "
    "radius per center; the argmax chain is integer-exact so the oracle "
    "hashes the full selection, not just counts",
)


# Top principal direction by two unrolled power-iteration steps over the
# int8-quantized vectors (sim_quantize_int8's floor/absmax format) — the
# covariance-free distributed PCA shape: v_{t+1}[d] = sum_i q_i[d] *
# <q_i, v_t>. Each step is one per-dim SUM after a posexplode — the Gram
# matrix is never materialized and no driver-side linear algebra runs at
# all; cost is linear in rows per step, which is exactly how a 100 TB
# whitening/decorrelation pass has to be shaped (MLlib's RowMatrix PCA
# builds the dim*dim Gram the same streaming way, but on the driver).
# All arithmetic is BIGINT-exact except the two between-step rescalings,
# which divide by the max-abs component and floor: one exactly-rounded
# IEEE division + FLOOR on both engines, so the permille output is
# bit-replayable. v_0 = all-ones (deterministic, never orthogonal to the
# top direction of a nonneg-correlation bulk); the 1024 rescale keeps the
# second step inside BIGINT for corpus sizes up to ~1e9 rows (127 * 1024
# * 64 * 1e9 < 2^63).

def _power_direction_sql(dialect: str) -> str:
    if dialect == "spark":
        head = (
            "WITH e AS (SELECT vec_id, transform(embedding, "
            "           x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
            "s AS (SELECT vec_id, v, array_max(transform(v, x -> abs(x))) "
            "      AS scale FROM e), "
            "q AS (SELECT vec_id, transform(v, x -> CAST(FLOOR(x * 127 / scale) "
            "      AS BIGINT)) AS q FROM s WHERE scale > 0), "
            "d0 AS (SELECT vec_id, q, aggregate(q, CAST(0 AS BIGINT), "
            "       (a, x) -> a + x) AS dot0 FROM q), "
            "x1 AS (SELECT pos AS d, SUM(x * dot0) AS p1 "
            "       FROM d0 LATERAL VIEW posexplode(q) t AS pos, x GROUP BY pos), "
            "ex AS (SELECT vec_id, pos AS d, x "
            "       FROM q LATERAL VIEW posexplode(q) t AS pos, x), "
        )
    else:
        head = (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) "
            "      AS scale FROM e), "
            "q AS (SELECT vec_id, list_transform(v, x -> CAST(FLOOR(x * 127 / scale) "
            "      AS BIGINT)) AS q FROM s WHERE scale > 0), "
            "d0 AS (SELECT vec_id, q, CAST(list_sum(q) AS BIGINT) AS dot0 FROM q), "
            "x1 AS (SELECT i - 1 AS d, CAST(SUM(q[i] * dot0) AS BIGINT) AS p1 "
            "       FROM d0, unnest(generate_series(1, len(q))) AS t(i) GROUP BY i), "
            "ex AS (SELECT vec_id, i - 1 AS d, q[i] AS x "
            "       FROM q, unnest(generate_series(1, len(q))) AS t(i)), "
        )
    cast = "" if dialect == "spark" else "CAST("
    endc = "" if dialect == "spark" else " AS BIGINT)"
    return head + (
        "m1 AS (SELECT MAX(ABS(p1)) AS mx FROM x1), "
        "v1 AS (SELECT d, CAST(FLOOR(p1 * 1024.0 / mx) AS BIGINT) AS w "
        "       FROM x1 CROSS JOIN m1), "
        f"d1 AS (SELECT vec_id, {cast}SUM(x * w){endc} AS dot1 "
        "       FROM ex JOIN v1 ON ex.d = v1.d GROUP BY vec_id), "
        f"x2 AS (SELECT ex.d, {cast}SUM(ex.x * d1.dot1){endc} AS p2 "
        "       FROM ex JOIN d1 ON ex.vec_id = d1.vec_id GROUP BY ex.d), "
        "m2 AS (SELECT MAX(ABS(p2)) AS mx2 FROM x2) "
        "SELECT d AS dim, CAST(FLOOR(p2 * 1000.0 / mx2) AS BIGINT) AS dir_permille "
        "FROM x2 CROSS JOIN m2 ORDER BY dim"
    )


sql_query(
    "sim_power_direction",
    _power_direction_sql("spark"),
    oracle=_power_direction_sql("duck"),
    tables=EMB,
    tags=("similarity", "pca", "scale"),
    doc="top principal direction via two unrolled power-iteration steps "
    "over int8-quantized vectors: per-dim SUM of q[d] * <q, v> (linear in "
    "rows, Gram matrix never built, zero driver math) - the distributed "
    "whitening/decorrelation primitive; permille components, integer-exact "
    "up to two floored IEEE rescales",
)


# Per-dimension class-separation (Fisher) scores over the int8-quantized
# vectors: fisher_d = between-class / total sum-of-squares for dimension d
# against the embedding labels — the embedding-space feature diagnostic
# (which dims carry the label signal; the pruning/whitening companion to
# sim_power_direction). One posexplode + ONE groupBy(dim, label) — the
# aggregate frame is dims*classes rows (1,600 here) no matter the corpus
# size, so the reduce side is constant-width at 100 TB. All sums are
# BIGINT-exact; the only non-integer steps are per-group floor DIVs
# (deterministic both engines; the floored numerator is clamped at 0).
# BIGINT bound (corrected per r8 advice): the binding term is
# n*qq <= 127^2 * n^2 per dim, under 2^63 for n <~ 2.4e7 rows per job —
# NOT the previously claimed ~1e8. The ppm step is shift-normalized
# (both operands floor-DIV'd by the same sh = max(1, t DIV 1e12) before
# the 1e6 multiply) so it is never the first term to overflow:
# b DIV sh < 2e12, hence (b DIV sh)*1e6 < 2e18 < 2^63. When t <= 1e12
# (every test scale) sh = 1 and the ppm is bit-exact to floor(b*1e6/t);
# beyond that both engines run the identical integer shift, diverging
# from the unshifted value by <= 2 ppm but never from each other. Past
# 2.4e7 rows/dim, shard the job or demean per class first — documented,
# not silently wrapped.

def _fisher_dims_sql(dialect: str) -> str:
    if dialect == "spark":
        idiv = "DIV"
        head = (
            "WITH e AS (SELECT vec_id, label, transform(embedding, "
            "           x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
            "s AS (SELECT vec_id, label, v, array_max(transform(v, "
            "      x -> abs(x))) AS scale FROM e), "
            "q AS (SELECT vec_id, label, transform(v, x -> CAST(FLOOR("
            "      x * 127 / scale) AS BIGINT)) AS q FROM s WHERE scale > 0), "
            "ex AS (SELECT label, pos AS d, x "
            "       FROM q LATERAL VIEW posexplode(q) t AS pos, x), "
            "g AS (SELECT d, label, COUNT(*) AS ng, SUM(x) AS sg, "
            "      SUM(x * x) AS qg FROM ex GROUP BY d, label), "
            "agg AS (SELECT d, SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS qq, "
            f"        SUM(sg * sg {idiv} ng) AS bsum FROM g GROUP BY d), "
        )
    else:
        idiv = "//"
        head = (
            "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v "
            "           FROM embeddings), "
            "s AS (SELECT vec_id, label, v, list_max(list_transform(v, "
            "      x -> abs(x))) AS scale FROM e), "
            "q AS (SELECT vec_id, label, list_transform(v, x -> CAST(FLOOR("
            "      x * 127 / scale) AS BIGINT)) AS q FROM s WHERE scale > 0), "
            "ex AS (SELECT label, i - 1 AS d, q[i] AS x "
            "       FROM q, unnest(generate_series(1, len(q))) AS t(i)), "
            "g AS (SELECT d, label, COUNT(*) AS ng, CAST(SUM(x) AS BIGINT) "
            "      AS sg, CAST(SUM(x * x) AS BIGINT) AS qg "
            "      FROM ex GROUP BY d, label), "
            "agg AS (SELECT d, CAST(SUM(ng) AS BIGINT) AS n, "
            "        CAST(SUM(sg) AS BIGINT) AS s, "
            "        CAST(SUM(qg) AS BIGINT) AS qq, "
            f"        CAST(SUM(sg * sg {idiv} ng) AS BIGINT) AS bsum "
            "        FROM g GROUP BY d), "
        )
    return head + (
        "f0 AS (SELECT d, GREATEST(CAST(0 AS BIGINT), n * bsum - s * s) AS b, "
        "       n * qq - s * s AS t FROM agg), "
        f"f1 AS (SELECT d, b, t, GREATEST(CAST(1 AS BIGINT), "
        f"       t {idiv} 1000000000000) AS sh FROM f0), "
        "f AS (SELECT d, CASE WHEN t > 0 "
        f"      THEN ((b {idiv} sh) * 1000000) "
        f"           {idiv} GREATEST(CAST(1 AS BIGINT), t {idiv} sh) "
        "      ELSE 0 END AS fisher_ppm FROM f1) "
        "SELECT d AS dim, CAST(fisher_ppm AS BIGINT) AS fisher_ppm, "
        "CAST(ROW_NUMBER() OVER (ORDER BY fisher_ppm DESC, d) AS INT) AS rnk "
        "FROM f ORDER BY dim"
    )


sql_query(
    "sim_fisher_dims",
    _fisher_dims_sql("spark"),
    oracle=_fisher_dims_sql("duck"),
    tables=EMB,
    tags=("similarity", "feature_selection", "quality"),
    doc="per-dimension Fisher class-separation score (between/total "
    "sum-of-squares ppm, integer-exact sums, floored per-class terms) "
    "with a separability ranking - embedding feature diagnostics over a "
    "constant-width dims*classes aggregate",
)


# ---- late-interaction (ColBERT-style) MaxSim retrieval ----------------------

# ColBERT (Khattab & Zaharia 2020) keeps PER-TOKEN embeddings and scores
#   score(q, d) = sum_i max_j <q_i, d_j>
# — "late interaction": each query token independently finds its best
# document token. Restated over the fixture embeddings: each 64-d vector
# is treated as 8 token slots x 8 dims (a deterministic reshape — the
# real pipeline would carry a genuine array<array<float>> column of the
# same shape), elements floor-quantized at 1e3 into BIGINT so every dot
# product, max and sum is exact integer arithmetic and the SCORE ITSELF
# hash-certifies (DuckDB's double list_inner_product over integer-valued
# inputs is exact below 2^53 and is cast back to BIGINT). Scale shape:
# the 8-query frame broadcasts into a scan over candidates (same join
# geometry as sim_topk_brute); at 100 TB the production composition is
# LSH/IVF candidate generation first, MaxSim as the rerank kernel over
# the survivors — this query certifies that kernel exactly.

_MAXSIM_T = 8  # token slots
_MAXSIM_D = 8  # dims per token
_MAXSIM_NQ = 8  # query vectors: vec_id < 8
_MAXSIM_K = 5


def _maxsim_sql(dialect: str) -> str:
    t, d, nq, k = _MAXSIM_T, _MAXSIM_D, _MAXSIM_NQ, _MAXSIM_K
    if dialect == "spark":
        toks = (
            f"transform(sequence(0, {t - 1}), tt -> "
            f"transform(slice(embedding, tt * {d} + 1, {d}), x -> "
            "CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)))"
        )
        maxsim = (
            "aggregate(q.qt, CAST(0 AS BIGINT), (acc, qi) -> acc + "
            "array_max(transform(c.toks, dj -> "
            "aggregate(zip_with(qi, dj, (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (s, v) -> s + v))))"
        )
    else:
        toks = (
            f"list_transform(range(0, {t}), tt -> "
            f"list_transform((embedding::DOUBLE[])"
            f"[tt * {d} + 1 : tt * {d} + {d}], x -> "
            "CAST(FLOOR(x * 1000) AS BIGINT)))"
        )
        maxsim = (
            "list_sum(list_transform(q.qt, qi -> "
            "list_max(list_transform(c.toks, dj -> "
            "CAST(list_inner_product(qi::DOUBLE[], dj::DOUBLE[]) "
            "AS BIGINT)))))"
        )
    src = (
        # the per-pair HOF kernel is CPU-bound and small-SF parquet is a
        # single file = a single task without the repartition
        "(SELECT /*+ REPARTITION(__PAR__) */ * FROM embeddings)"
        if dialect == "spark"
        else "embeddings"
    )
    return (
        f"WITH e AS (SELECT vec_id, {toks} AS toks FROM {src}), "
        f"q AS (SELECT vec_id AS query_id, toks AS qt FROM e "
        f"      WHERE vec_id < {nq}), "
        f"scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, "
        f"  CAST({maxsim} AS BIGINT) AS maxsim "
        "  FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id), "
        "r AS (SELECT query_id, neighbor_id, maxsim, "
        "  ROW_NUMBER() OVER (PARTITION BY query_id "
        "  ORDER BY maxsim DESC, neighbor_id) AS rnk FROM scored) "
        "SELECT query_id, neighbor_id, maxsim, CAST(rnk AS INT) AS rnk "
        f"FROM r WHERE rnk <= {k} ORDER BY query_id, rnk"
    )


sql_query(
    "sim_maxsim_late_interaction",
    _maxsim_sql("spark"),
    oracle=_maxsim_sql("duck"),
    tables=EMB,
    tags=("similarity", "colbert", "maxsim", "rerank", "topk"),
    doc="ColBERT-style late-interaction MaxSim top-5: per-token integer "
    "dot products (floor-quantized at 1e3), max over document tokens, "
    "summed over query tokens — the exact rerank kernel an IVF/LSH "
    "candidate stage feeds at scale; scores are integers so the ranking "
    "AND the score hash-certify",
)
