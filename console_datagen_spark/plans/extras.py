"""Remaining inventory coverage: A2 collect-list, scalar regexp battery,
and the multimodal feature pipeline (rows-only check — Pandas-UDF decode
is not batch-SQL-expressible, SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import register_views
from ..operators import multimodal as M
from .registry import CacheSlot, df_query, sql_query

# A2: group-by + collect list (DataGenerator.java:256-258 groupingBy+toList);
# sorted for determinism (collect order is not defined in either engine)
sql_query(
    "agg_collect_list",
    # serialized to a delimited string: the driver's pandas canonicalizer
    # cannot sort/hash raw array columns (unhashable list), so the list is
    # flattened in-query on both dialects
    "SELECT event_type, "
    "array_join(sort_array(collect_set(user_id)), ',') AS users "
    "FROM events WHERE user_id < 20 GROUP BY event_type ORDER BY event_type",
    oracle=(
        "SELECT event_type, "
        "array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users "
        "FROM events WHERE user_id < 20 GROUP BY event_type ORDER BY event_type"
    ),
    tables=("events",),
    tags=("agg", "collect"),
    doc="A2: grouped id-list collection (DataGenerator.java:256-258)",
)

# §2.9 string battery #2: quote-strip regex (ClientConfigFactory.java:133-135),
# split + part extraction, concat_ws join (CCF:165, 188-191)
sql_query(
    "scalar_string_battery",
    "SELECT event_id, "
    "regexp_replace(concat('\"', event_type, '\"'), '(^[\"\\'])|([\"\\']$)', '') "
    "AS unquoted, "
    "element_at(split(props, ':'), 1) AS json_head, "
    "concat_ws('|', event_type, CAST(user_id AS STRING), CAST(event_id AS STRING)) "
    "AS joined "
    "FROM events WHERE event_id < 50 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        # DuckDB regexp_replace is first-match unless the 'g' flag is given
        "regexp_replace(concat('\"', event_type, '\"'), '(^[\"''])|([\"'']$)', '', 'g') "
        "AS unquoted, "
        "string_split(props, ':')[1] AS json_head, "
        "concat_ws('|', event_type, CAST(user_id AS VARCHAR), "
        "          CAST(event_id AS VARCHAR)) AS joined "
        "FROM events WHERE event_id < 50 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar",),
    doc="§2.9: quote-strip regex / split / concat_ws (ClientConfigFactory.java:133-191)",
)


def _grouped_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.grouped import event_gaps

    ev = register_views(spark, sf_dir, ("events",))["events"]
    return event_gaps(ev.where("user_id < 10")).orderBy("user_id", "seq")


df_query(
    "grouped_event_gaps",
    _grouped_gaps,
    oracle=(
        # exact integer-microsecond gaps: LAG + epoch_us difference
        "SELECT user_id, event_id, "
        "CAST(ROW_NUMBER() OVER w AS INT) AS seq, "
        "CAST(COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER w, 0) AS BIGINT) "
        "AS gap_us "
        "FROM events WHERE user_id < 10 "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) "
        "ORDER BY user_id, seq"
    ),
    tables=("events",),
    tags=("grouped", "pandas"),
    doc="applyInPandas per-user event gaps in exact integer µs (§2.10 grouped map)",
)


# null-semantics battery: synthesized nulls + COALESCE/NULLIF/explicit
# NULLS ordering (fixtures are null-free, so nulls are derived)
sql_query(
    "scalar_null_battery",
    "SELECT event_id, "
    "NULLIF(event_type, 'error') AS et_nonerr, "
    "COALESCE(NULLIF(event_type, 'error'), 'was-error') AS et_filled, "
    "CAST(CASE WHEN event_type = 'view' THEN NULL ELSE user_id END AS BIGINT) "
    "AS uid_maybe "
    "FROM events WHERE event_id < 200 "
    "ORDER BY uid_maybe ASC NULLS FIRST, event_id",
    tables=("events",),
    tags=("scalar", "null"),
    doc="NULLIF/COALESCE + explicit NULLS FIRST ordering (D1 null rule)",
)

# date/time battery: extraction + arithmetic with portable spellings
sql_query(
    "scalar_date_battery",
    "SELECT event_id, CAST(ts AS DATE) AS d, "
    "CAST(QUARTER(ts) AS INT) AS q, "
    "CAST(DAYOFMONTH(ts) AS INT) AS dom, "
    "CAST(DATEDIFF(CAST(ts AS DATE), DATE '2024-01-01') AS INT) AS days_in, "
    "date_add(CAST(ts AS DATE), 30) AS plus30, "
    "last_day(CAST(ts AS DATE)) AS eom "
    "FROM events WHERE event_id < 100 ORDER BY event_id",
    oracle=(
        "SELECT event_id, CAST(ts AS DATE) AS d, "
        "CAST(QUARTER(ts) AS INT) AS q, "
        "CAST(DAYOFMONTH(ts) AS INT) AS dom, "
        "CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) "
        "AS days_in, "
        "CAST(ts AS DATE) + 30 AS plus30, "
        "last_day(CAST(ts AS DATE)) AS eom "
        "FROM events WHERE event_id < 100 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "date"),
    doc="date extraction/arithmetic battery (§2.9 date/time row)",
)

# bitwise battery (SimHash support ops): and/or/xor/shifts
sql_query(
    "scalar_bitwise_battery",
    "SELECT event_id, "
    "CAST(event_id & 255 AS BIGINT) AS lo_byte, "
    "CAST(event_id | 4096 AS BIGINT) AS with_flag, "
    "CAST(event_id ^ user_id AS BIGINT) AS xored, "
    "CAST(shiftleft(event_id, 3) AS BIGINT) AS shl3, "
    "CAST(shiftright(event_id, 2) AS BIGINT) AS shr2, "
    "CAST(bit_count(event_id) AS INT) AS bits "
    "FROM events WHERE event_id < 200 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "CAST(event_id & 255 AS BIGINT) AS lo_byte, "
        "CAST(event_id | 4096 AS BIGINT) AS with_flag, "
        "CAST(xor(event_id, user_id) AS BIGINT) AS xored, "
        "CAST(event_id << 3 AS BIGINT) AS shl3, "
        "CAST(event_id >> 2 AS BIGINT) AS shr2, "
        "CAST(bit_count(event_id) AS INT) AS bits "
        "FROM events WHERE event_id < 200 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "bitwise"),
    doc="bitwise op battery (& | ^ shifts popcount — SimHash support surface)",
)

# set-op completion: INTERSECT + UNION distinct (E3 + §2.8 INTERSECT note)
sql_query(
    "setop_intersect_union",
    "SELECT user_id, 'both' AS tag FROM "
    "(SELECT user_id FROM events WHERE event_type = 'click' "
    " INTERSECT "
    " SELECT user_id FROM events WHERE event_type = 'purchase') t "
    "UNION "
    "SELECT user_id, 'neither' AS tag FROM "
    "(SELECT user_id FROM events "
    " EXCEPT SELECT user_id FROM events "
    " WHERE event_type IN ('click', 'purchase')) u "
    "ORDER BY tag, user_id",
    tables=("events",),
    tags=("setop",),
    doc="INTERSECT + UNION distinct + EXCEPT composition (§2.8)",
)


# exact quantiles: Spark percentile()/median() and DuckDB quantile_cont()
# use the same linear interpolation over doubles — verified bit-identical
sql_query(
    "agg_quantiles",
    "SELECT event_type, "
    "CAST(percentile(value, 0.25) AS DOUBLE) AS q25, "
    "CAST(median(value) AS DOUBLE) AS med, "
    "CAST(percentile(value, 0.75) AS DOUBLE) AS q75, "
    "CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi "
    "FROM events GROUP BY event_type ORDER BY event_type",
    oracle=(
        "SELECT event_type, "
        "quantile_cont(value, 0.25) AS q25, "
        "median(value) AS med, "
        "quantile_cont(value, 0.75) AS q75, "
        "MIN(value) AS lo, MAX(value) AS hi "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    tables=("events",),
    tags=("agg", "quantile"),
    doc="exact interpolated quantiles / median per group (§2.5 extension)",
)

# JSON construction battery: to_json(struct) emits byte-identical compact
# JSON in both engines (same guarantee the generator relies on)
sql_query(
    "scalar_json_construct",
    "SELECT event_id, "
    "to_json(named_struct('et', event_type, 'uid', user_id)) AS j, "
    "CAST(get_json_object(to_json(named_struct('et', event_type, "
    "     'uid', user_id)), '$.uid') AS BIGINT) AS uid_back "
    "FROM events WHERE event_id < 100 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        'to_json(struct_pack("et" := event_type, "uid" := user_id)) AS j, '
        'CAST(json_extract_string(to_json(struct_pack("et" := event_type, '
        '     "uid" := user_id)), \'$.uid\') AS BIGINT) AS uid_back '
        "FROM events WHERE event_id < 100 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "json"),
    doc="G6: JSON construction + extraction roundtrip (DataGenerator.java:469-503)",
)


# map-function battery (§2.9 map/array row: map_concat / element_at /
# map_keys — ClientConfigFactory.java:98-106 merge semantics analog).
# DuckDB's element_at returns a single-element LIST; [1] unwraps it.
sql_query(
    "scalar_map_battery",
    "SELECT event_id, "
    "element_at(map('et', event_type, 'uid', CAST(user_id AS STRING)), 'et') "
    "AS et_val, "
    "CAST(cardinality(map_concat(map('a', 1), map('b', 2))) AS INT) AS mc, "
    "array_join(map_keys(map('x', 1, 'y', 2)), ',') AS mk "
    "FROM events WHERE event_id < 50 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "element_at(MAP {'et': event_type, 'uid': CAST(user_id AS VARCHAR)}, "
        "'et')[1] AS et_val, "
        "CAST(cardinality(map_concat(MAP {'a': 1}, MAP {'b': 2})) AS INT) AS mc, "
        "array_to_string(map_keys(MAP {'x': 1, 'y': 2}), ',') AS mk "
        "FROM events WHERE event_id < 50 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "map"),
    doc="§2.9: map merge/lookup/keys battery (config-map semantics analog)",
)


# array + higher-order-function battery (§2.9 map/array row; the lambda
# machinery the dedup/similarity operators are built on). Integer-only so
# both engines agree exactly; DuckDB spells aggregate as list_aggregate.
sql_query(
    "scalar_array_hof_battery",
    "SELECT event_id, "
    "CAST(aggregate(transform(sequence(1, CAST(event_id % 5 + 1 AS INT)), "
    "     x -> x * 2 + 1), 0L, (acc, x) -> acc + x) AS BIGINT) AS hof_sum, "
    "CAST(size(filter(sequence(1, 10), x -> x % 2 = 0)) AS INT) AS n_even, "
    "array_join(slice(array('a','b','c','d'), 2, 2), '-') AS sliced, "
    "CAST(array_contains(array(1, 2, 3), CAST(event_id % 4 AS INT)) AS BOOLEAN) "
    "AS has_it, "
    "array_join(array_sort(array('c','a','b')), '') AS sorted_arr, "
    "CAST(array_position(array('x','y','z'), 'y') AS BIGINT) AS pos_y "
    "FROM events WHERE event_id < 50 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "CAST(list_aggregate(list_transform(generate_series(1, "
        "     CAST(event_id % 5 + 1 AS INT)), x -> x * 2 + 1), 'sum') "
        "     AS BIGINT) AS hof_sum, "
        "CAST(len(list_filter(generate_series(1, 10), x -> x % 2 = 0)) AS INT) "
        "AS n_even, "
        "array_to_string((['a','b','c','d'])[2:3], '-') AS sliced, "
        "CAST(list_contains([1, 2, 3], CAST(event_id % 4 AS INT)) AS BOOLEAN) "
        "AS has_it, "
        "array_to_string(list_sort(['c','a','b']), '') AS sorted_arr, "
        "CAST(list_position(['x','y','z'], 'y') AS BIGINT) AS pos_y "
        "FROM events WHERE event_id < 50 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "array", "hof"),
    doc="§2.9: array + lambda (transform/filter/aggregate/slice/sort) battery",
)


_BUCKET_SPARK = (
    "(CAST(conv(substr(md5(concat('v1:', CAST(doc_id AS STRING))),1,15),16,10) "
    "AS BIGINT) % 1000)"
)
_BUCKET_DUCK = (
    "(('0x' || substr(md5(concat('v1:', CAST(doc_id AS VARCHAR))),1,15))::BIGINT "
    "% 1000)"
)


def _sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import deterministic_sample

    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    return deterministic_sample(docs, "doc_id", permille=200).select(
        "doc_id", "lang"
    ).orderBy("doc_id")


df_query(
    "sample_deterministic",
    _sample,
    oracle=(
        f"SELECT doc_id, lang FROM documents WHERE {_BUCKET_DUCK} < 200 "
        "ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("sampling",),
    doc="stable 20% sample via portable hash bucket (partition-invariant)",
)


def _split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import deterministic_split

    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    return (
        deterministic_split(
            docs, "doc_id", {"train": 800, "val": 100, "test": 100}
        )
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy("split")
    )


df_query(
    "sample_split",
    _split,
    oracle=(
        "SELECT CASE "
        f"WHEN {_BUCKET_DUCK} < 800 THEN 'train' "
        f"WHEN {_BUCKET_DUCK} < 900 THEN 'val' "
        "ELSE 'test' END AS split, COUNT(*) AS n "
        "FROM documents GROUP BY 1 ORDER BY split"
    ),
    tables=("documents",),
    tags=("sampling", "split"),
    doc="stable train/val/test split (800/100/100 permille) by hash bucket",
)

# scalar + correlated subquery battery (the subquery shapes q10's NOT
# EXISTS doesn't cover): scalar agg subquery, IN, cross-table join of the
# text and embedding fixtures
sql_query(
    "subquery_battery",
    "SELECT d.lang, COUNT(*) AS n_above, "
    "CAST(SUM(CASE WHEN d.doc_id IN (SELECT vec_id FROM embeddings "
    "     WHERE label < 5) THEN 1 ELSE 0 END) AS BIGINT) AS in_low_label "
    "FROM documents d "
    "WHERE d.n_chars > (SELECT CAST(median(n_chars) AS DOUBLE) FROM documents) "
    "GROUP BY d.lang ORDER BY d.lang",
    tables=("documents", "embeddings"),
    tags=("subquery",),
    doc="scalar subquery (median gate) + IN subquery + cross-fixture join",
)


# part-table coverage: LIKE filter + grouped stats (the one fixture table
# not otherwise exercised)
sql_query(
    "q_part_type_stats",
    "SELECT p_brand, COUNT(*) AS n, "
    "CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "     AS DOUBLE) AS total_price, "
    "CAST(MAX(p_size) AS INT) AS max_size "
    "FROM part WHERE p_type LIKE 'ECO%' "
    "GROUP BY p_brand ORDER BY p_brand",
    tables=("part",),
    tags=("agg", "filter"),
    doc="part-table scan: LIKE predicate pushdown + grouped decimal stats",
)


def _kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_iterate

    emb = register_views(spark, sf_dir, ("embeddings",))["embeddings"]
    return kmeans_iterate(emb, k=5, iterations=2).orderBy("vec_id")


df_query(
    "sim_kmeans_assign",
    _kmeans,
    oracle=None,  # iterative float means: rows-only check (SURVEY §5 clause)
    tables=("embeddings",),
    tags=("similarity", "iterative"),
    doc="k-means (2 Lloyd iterations) cluster assignment — iterative algorithm tier",
)


def _mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_media(docs, "image", n_bytes=256)
    feats = M.extract_features(media)
    # The operator API returns feature ARRAY<DOUBLE>; the *registered* query
    # serializes it (fixed 9-decimal rendering) so external harnesses that
    # canonicalize by sorting every column can factorize the value — pandas
    # cannot hash a list column (r5 driver crash).
    return feats.select(
        "doc_id",
        "media_type",
        "fmt",
        "n_bytes",
        F.concat_ws(
            ",", F.transform("feature", lambda x: F.format_number(x, 9))
        ).alias("feature_csv"),
    ).orderBy("doc_id")


df_query(
    "mm_features",
    _mm_features,
    oracle=(
        # Full SQL replay of the FLOAT feature path (r8 verdict #5,
        # upgrading this query from rows-only): md5-chain bytes -> 4
        # chunks of 64 -> mean/255 computed with the SAME two double
        # divisions the numpy kernel does ((s/64)/255 — s <= 16320 is
        # exact in float64, /64 is a pow-2 shift, so exactly one IEEE
        # rounding in both engines), rendered to 9 decimals. DuckDB's
        # printf and Spark's format_number both correctly round the
        # binary double to 9 decimal digits, so the strings agree; the
        # integer-permille twin (mm_features_checked) remains the
        # formatter-independent certification.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 512) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 15) AS t(i) "
        "  GROUP BY doc_id), "
        "bytes AS (SELECT doc_id, i, "
        "  ('0x' || substr(hx, 2 * i + 1, 2))::BIGINT AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 255)) AS i) t), "
        "chunks AS (SELECT doc_id, i // 64 AS c, SUM(b) AS s "
        "  FROM bytes GROUP BY doc_id, i // 64) "
        "SELECT doc_id, 'image' AS media_type, "
        "CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt, "
        "CAST(256 AS INT) AS n_bytes, "
        "string_agg(printf('%.9f', (CAST(s AS DOUBLE) / 64) / 255), "
        "           ',' ORDER BY c) AS feature_csv "
        "FROM chunks GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal",),
    doc="multimodal decode+feature-extract via mapInPandas (stubbed codec)",
)


def _mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_bitmap_media(docs, width=8, height=8, fmt="ppm")
    resized = M.resize_images(media, 4, 4)
    return M.channel_sums(resized).orderBy("doc_id")


df_query(
    "mm_resize_checked",
    _mm_resize,
    oracle=(
        # Full SQL replay of decode -> nearest-neighbor resize ->
        # re-encode: 8x8 RGB pixels are the md5-chain bytes (192 = 12
        # blocks); nearest 8->4 keeps even rows/cols exactly (src = dst*8
        # DIV 4 = 2*dst), so each channel sum of the RESIZED image is the
        # sum of source bytes at even (row, col). n_bytes = 59 is the
        # resized P6 payload: 11-byte header 'P6\\n4 4\\n255\\n' + 48
        # raster bytes — certifying the re-encode framing too.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 384) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 11) AS t(i) "
        "  GROUP BY doc_id), "
        "bytes AS (SELECT doc_id, i, "
        "  ('0x' || substr(hx, 2 * i + 1, 2))::BIGINT AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 191)) AS i) t), "
        "kept AS (SELECT doc_id, i % 3 AS c, b FROM bytes "
        "  WHERE ((i // 3) % 8) % 2 = 0 AND ((i // 3) // 8) % 2 = 0) "
        "SELECT doc_id, CAST(59 AS INT) AS n_bytes, "
        # CAST: DuckDB SUM(BIGINT) is HUGEINT, which pandas degrades to
        # float64 ("3882.0" vs "3882" under the driver's string canon)
        "CAST(SUM(CASE WHEN c = 0 THEN b END) AS BIGINT) AS r_sum, "
        "CAST(SUM(CASE WHEN c = 1 THEN b END) AS BIGINT) AS g_sum, "
        "CAST(SUM(CASE WHEN c = 2 THEN b END) AS BIGINT) AS b_sum "
        "FROM kept GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "pandas_udf"),
    doc="REAL image resize path (pure-numpy PPM codec, no codec library "
    "needed for uncompressed rasters): synth 8x8 P6 -> decode -> "
    "nearest-neighbor 4x4 -> re-encode -> channel sums, certified by a "
    "full SQL replay of the even-(row,col) pixel selection",
)


def _mm_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_bitmap_media(docs, width=8, height=8, fmt="png")
    resized = M.resize_images(media, 4, 4)
    return M.png_stats(resized).orderBy("doc_id")


df_query(
    "mm_resize_png",
    _mm_resize_png,
    oracle=(
        # Same even-(row,col) pixel replay as mm_resize_checked, but the
        # payload is a REAL PNG: synth encodes with cycling row filters
        # (y % 5 — None/Sub/Up/Average/Paeth all exercised), resize
        # decodes (zlib inflate + filter reconstruction), re-encodes
        # filter-0, and png_stats re-parses the re-encoded bytes. The
        # oracle replays only the PIXELS (compressed byte lengths are
        # zlib-version-bound, so the output carries IHDR geometry, not
        # payload size): decode(encode(px)) == px makes channel sums of
        # the 4x4 resize the sums of source bytes at even (row, col).
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 384) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 11) AS t(i) "
        "  GROUP BY doc_id), "
        "bytes AS (SELECT doc_id, i, "
        "  ('0x' || substr(hx, 2 * i + 1, 2))::BIGINT AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 191)) AS i) t), "
        "kept AS (SELECT doc_id, i % 3 AS c, b FROM bytes "
        "  WHERE ((i // 3) % 8) % 2 = 0 AND ((i // 3) // 8) % 2 = 0) "
        "SELECT doc_id, CAST(4 AS INT) AS ihdr_w, CAST(4 AS INT) AS ihdr_h, "
        "CAST(SUM(CASE WHEN c = 0 THEN b END) AS BIGINT) AS r_sum, "
        "CAST(SUM(CASE WHEN c = 1 THEN b END) AS BIGINT) AS g_sum, "
        "CAST(SUM(CASE WHEN c = 2 THEN b END) AS BIGINT) AS b_sum "
        "FROM kept GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "pandas_udf"),
    doc="REAL compressed-image path (stdlib-zlib PNG codec, all 5 scanline "
    "filters exercised via cycling-filter synth): synth 8x8 PNG -> decode "
    "-> nearest-neighbor 4x4 -> re-encode -> re-decode stats, certified "
    "by a full SQL replay of the even-(row,col) pixel selection",
)


_jpeg_cache = CacheSlot()


def _mm_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _jpeg_cache.release()
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_bitmap_media(docs, width=8, height=8, fmt="jpeg")
    # lossy in, lossless out: decode the real JPEG, resize, re-encode
    # as PPM so the downstream sum pass reads exact bytes
    resized = M.resize_images(media, 4, 4, out_fmt="ppm")
    # held lazily: the final global sort otherwise runs the whole Python
    # kernel chain twice (range-partition sampling job + map stage)
    sums = _jpeg_cache.hold(M.channel_sums(resized), materialize=False)
    return sums.orderBy("doc_id")


def _mm_resize_jpeg_oracle() -> str:
    """The replay constants: JPEG is lossy, so the synthesis uses the
    codec's import-verified exact-round-trip tiles (operators/jpeg.py
    EXACT_TILES — quantization is exact because every coefficient is an
    exact multiple of its Annex K quant step, re-verified at import for
    all 29 DC offsets). decode(encode(px)) == px therefore holds by
    construction, and the oracle replays the tile definition: channel
    sums of the 4x4 nearest-neighbor resize are the even-(row, col)
    tile subsums plus 16 pixels x the per-doc DC offset 2*(doc_id %
    29)."""
    from ..operators.jpeg import EXACT_TILES, N_EXACT_TILES, N_TILE_OFFSETS

    subsums = [int(t[::2, ::2].sum()) for t in EXACT_TILES]
    case = (
        "CASE CAST(doc_id % " + str(N_EXACT_TILES) + " AS INT) "
        + " ".join(f"WHEN {k} THEN {s}" for k, s in enumerate(subsums))
        + " END"
    )
    total = f"CAST({case} + 32 * (doc_id % {N_TILE_OFFSETS}) AS BIGINT)"
    return (
        f"SELECT doc_id, CAST(59 AS INT) AS n_bytes, "
        f"{total} AS r_sum, {total} AS g_sum, {total} AS b_sum "
        "FROM documents ORDER BY doc_id"
    )


df_query(
    "mm_resize_jpeg",
    _mm_resize_jpeg,
    oracle=_mm_resize_jpeg_oracle(),
    tables=("documents",),
    tags=("multimodal", "pandas_udf"),
    doc="REAL lossy-image path (pure-numpy baseline JPEG codec: "
    "fixed-point integer DCT, Annex K quant + Huffman tables, byte "
    "stuffing): synth 8x8 grayscale JPEG from verified exact-round-trip "
    "tiles -> decode -> nearest-neighbor 4x4 -> PPM re-encode -> channel "
    "sums, certified by a SQL replay of the tile subsums (the encoder is "
    "in the certified loop — the decoder reads its bytes)",
)


def _mm_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_wav_media(docs, n_samples=96, rate=16_000)
    return M.wav_decimate_stats(media, factor=2).orderBy("doc_id")


df_query(
    "mm_audio_wav",
    _mm_audio_wav,
    oracle=(
        # Full SQL replay of the REAL audio path: the WAV payload's PCM
        # data is the md5-chain bytes read as little-endian int16 (96
        # mono samples = 192 bytes = 12 blocks); decode -> decimate-by-2
        # keeps even sample indices, re-encode framing fixes n_bytes at
        # 44 + 2*48. Sample i = byte(2i) + 256*byte(2i+1), sign-extended
        # past 32767 — the oracle computes the decimated sum of squares
        # / min / max from the same chain, certifying RIFF parse, PCM
        # decode, decimation AND re-encode header arithmetic.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 384) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 11) AS t(i) "
        "  GROUP BY doc_id), "
        "smp AS (SELECT doc_id, "
        "  ('0x' || substr(hx, 4 * i + 1, 2))::BIGINT "
        "  + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT AS u "
        "  FROM m, (SELECT unnest(generate_series(0, 95)) AS i) t "
        "  WHERE i % 2 = 0), "
        "sv AS (SELECT doc_id, "
        "  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp) "
        "SELECT doc_id, CAST(140 AS INT) AS n_bytes, "
        "CAST(16000 AS INT) AS rate, CAST(48 AS INT) AS n_samples, "
        "CAST(SUM(v * v) AS BIGINT) AS sumsq, "
        "CAST(MIN(v) AS INT) AS min_s, CAST(MAX(v) AS INT) AS max_s "
        "FROM sv GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "audio", "pandas_udf"),
    doc="REAL audio path (pure-numpy RIFF/PCM WAV codec, no audio "
    "library): synth mono 16-bit WAV from md5-chain samples -> RIFF "
    "decode -> integer decimate-by-2 -> re-encode -> exact sample stats "
    "(sum-of-squares/min/max), certified by a full SQL replay of the "
    "little-endian int16 sample derivation",
)


def _mm_audio_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    # one parquet fixture file -> one input partition -> ONE Python
    # worker for both Arrow kernels; the ~1 MB repartition shuffle buys
    # full-core codec passes (A/B at sf0.1 warm: 6.4 -> 2.5 s)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    media = M.synth_flac_media(docs, n_samples=96, rate=16_000)
    return M.flac_decimate_stats(media, factor=2).orderBy("doc_id")


df_query(
    "mm_audio_flac",
    _mm_audio_flac,
    oracle=(
        # Full SQL replay of the REAL compressed-audio path: the FLAC
        # payload encodes the SAME md5-chain int16 samples as the WAV
        # query (96 mono samples = 192 bytes = 12 blocks), Rice/fixed-
        # predictor coded. Losslessness means decode -> decimate-by-2
        # yields exactly the even-index samples, so the oracle computes
        # the decimated sum-of-squares / min / max from the chain —
        # certifying metadata walk, frame-header CRC-8, Rice decode,
        # fixed-predictor reconstruction, frame CRC-16 AND the
        # STREAMINFO sample-MD5 check (any decode slip breaks one of
        # them loudly). roundtrip_ok pins encode∘decode == id on the
        # decimated signal (FLAC's encoded size is residual-dependent,
        # so the WAV query's fixed-framing n_bytes check has no FLAC
        # analog — the roundtrip is the re-encode certification).
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 384) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 11) AS t(i) "
        "  GROUP BY doc_id), "
        "smp AS (SELECT doc_id, "
        "  ('0x' || substr(hx, 4 * i + 1, 2))::BIGINT "
        "  + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT AS u "
        "  FROM m, (SELECT unnest(generate_series(0, 95)) AS i) t "
        "  WHERE i % 2 = 0), "
        "sv AS (SELECT doc_id, "
        "  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp) "
        "SELECT doc_id, CAST(16000 AS INT) AS rate, "
        "CAST(48 AS INT) AS n_samples, "
        "CAST(SUM(v * v) AS BIGINT) AS sumsq, "
        "CAST(MIN(v) AS INT) AS min_s, CAST(MAX(v) AS INT) AS max_s, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM sv GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "audio", "flac", "pandas_udf"),
    doc="REAL compressed-audio path (pure-numpy FLAC codec: Rice/fixed-"
    "predictor subset of RFC 9639, CRC-8/16 + sample-MD5 verified, no "
    "audio library): synth mono 16-bit FLAC from md5-chain samples -> "
    "full verified decode -> integer decimate-by-2 -> re-encode+re-decode "
    "roundtrip -> exact sample stats, certified by a full SQL replay of "
    "the little-endian int16 sample derivation",
)


def _mm_audio_flac_lpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return M.flac_lpc_stats(docs, n_samples=96).orderBy("doc_id")


df_query(
    "mm_audio_flac_lpc",
    _mm_audio_flac_lpc,
    oracle=(
        # Same chain replay as mm_audio_flac, WITHOUT decimation: the
        # payload is an explicit-coefficient LPC stream over the chain
        # int16 samples, so the Spark side must run the integer-FIR
        # reconstruction (acc += coef*prior; acc >> shift; + residual)
        # sample-by-sample to reproduce them — any LPC slip breaks the
        # STREAMINFO MD5 verify and the kernel throws. The oracle
        # certifies the reconstructed values; roundtrip_ok pins the
        # cost-driven re-encode of the decoded signal.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 384) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 11) AS t(i) "
        "  GROUP BY doc_id), "
        "smp AS (SELECT doc_id, "
        "  ('0x' || substr(hx, 4 * i + 1, 2))::BIGINT "
        "  + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT AS u "
        "  FROM m, (SELECT unnest(generate_series(0, 95)) AS i) t), "
        "sv AS (SELECT doc_id, "
        "  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp) "
        "SELECT doc_id, CAST(16000 AS INT) AS rate, "
        "CAST(96 AS INT) AS n_samples, "
        "CAST(SUM(v * v) AS BIGINT) AS sumsq, "
        "CAST(MIN(v) AS INT) AS min_s, CAST(MAX(v) AS INT) AS max_s, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM sv GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "audio", "flac", "lpc", "pandas_udf"),
    doc="decode-side LPC in the hash-certified loop: md5-chain int16 "
    "samples wrapped in an explicit-coefficient LPC stream (predictor "
    "[2047,-1023]/shift 10), fully decoded via the integer FIR (CRC-8/16 "
    "+ sample-MD5 verified), cost-driven re-encode roundtrip pinned - "
    "certified by the same SQL chain replay as the fixed-predictor twin",
)


def _mm_audio_flac_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    media = M.synth_flac_stereo_media(docs, n_frames=48, rate=16_000)
    return M.flac_stereo_stats(media).orderBy("doc_id")


df_query(
    "mm_audio_flac_stereo",
    _mm_audio_flac_stereo,
    oracle=(
        # Full SQL replay of the STEREO compressed-audio path: the FLAC
        # payload encodes the md5-chain bytes as interleaved little-
        # endian int16 (L,R,L,R..., 48 frames = 192 bytes = 12 blocks),
        # FORCED mid/side decorrelation across 3 sequentially numbered
        # 16-sample frames. Losslessness means the decoded channels are
        # exactly the even-/odd-index chain samples, so the oracle
        # replays per-channel sumsq/min/max AND the cross-channel dot
        # product (the de-interleave certificate) straight from the
        # chain — certifying multi-frame walk, frame-number sequence,
        # per-frame CRC-8/16, mid/side reconstruction (mid2=(mid<<1)|
        # (side&1)), the 17-bit side subframe, AND the interleaved
        # sample MD5. roundtrip_ok pins the left/side re-encode path.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 384) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 11) AS t(i) "
        "  GROUP BY doc_id), "
        "smp AS (SELECT doc_id, i, "
        "  ('0x' || substr(hx, 4 * i + 1, 2))::BIGINT "
        "  + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT AS u "
        "  FROM m, (SELECT unnest(generate_series(0, 95)) AS i) t), "
        "sv AS (SELECT doc_id, i, "
        "  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp), "
        "pairs AS (SELECT doc_id, i // 2 AS j, "
        "  MAX(CASE WHEN i % 2 = 0 THEN v END) AS l, "
        "  MAX(CASE WHEN i % 2 = 1 THEN v END) AS r "
        "  FROM sv GROUP BY doc_id, i // 2) "
        "SELECT doc_id, CAST(16000 AS INT) AS rate, "
        "CAST(48 AS INT) AS n_samples, "
        "CAST(SUM(l * l) AS BIGINT) AS sumsq_l, "
        "CAST(SUM(r * r) AS BIGINT) AS sumsq_r, "
        "CAST(MIN(l) AS INT) AS min_l, CAST(MAX(l) AS INT) AS max_l, "
        "CAST(MIN(r) AS INT) AS min_r, CAST(MAX(r) AS INT) AS max_r, "
        "CAST(SUM(l * r) AS BIGINT) AS dot_lr, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM pairs GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "audio", "flac", "stereo", "pandas_udf"),
    doc="REAL stereo compressed-audio path (r14: the FLAC codec grew "
    "LPC subframes, all four channel assignments and multi-frame "
    "streams): synth interleaved stereo int16 from the md5 chain -> "
    "forced mid/side multi-frame encode -> full verified decode "
    "(sequence + CRC-8/16 + interleaved MD5) -> left/side re-encode "
    "roundtrip -> exact per-channel stats + cross-channel dot product, "
    "certified by a full SQL replay of the interleaved sample derivation",
)


def _mm_video_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_y4m_media(docs, n_frames=8, width=8, height=8)
    return M.y4m_frame_stats(media, stride=2).orderBy("doc_id")


df_query(
    "mm_video_y4m",
    _mm_video_y4m,
    oracle=(
        # Full SQL replay of the REAL video-container path: each doc's
        # Y4M wraps 8 mono 8x8 frames whose pixels are the md5-chain
        # bytes (512 bytes = 32 blocks = 1024 hex chars); frame k covers
        # bytes [64k, 64(k+1)), stride-2 sampling keeps k in {0,2,4,6}.
        # The oracle computes the kept frames' luma sum/min/max from the
        # same chain — certifying the tagged-header parse, FRAME-marker
        # walk, exact plane-length slicing AND (via roundtrip_ok) the
        # sampled stream's re-encode/re-decode identity. Y4M is raw
        # bytes, so unlike MP4/WebM the replay is exact by construction.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 1024) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 31) AS t(i) "
        "  GROUP BY doc_id), "
        "px AS (SELECT doc_id, "
        "  ('0x' || substr(hx, 2 * p + 1, 2))::BIGINT AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 511)) AS p) t "
        "  WHERE (p // 64) % 2 = 0) "
        "SELECT doc_id, CAST(8 AS INT) AS n_frames, "
        "CAST(4 AS INT) AS kept_frames, "
        "CAST(8 AS INT) AS width, CAST(8 AS INT) AS height, "
        "CAST(SUM(b) AS BIGINT) AS luma_sum, "
        "CAST(MIN(b) AS INT) AS luma_min, CAST(MAX(b) AS INT) AS luma_max, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM px GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "video", "y4m", "pandas_udf"),
    doc="REAL video-container path (pure-numpy Y4M/YUV4MPEG2 parser — "
    "the raw interchange format ffmpeg consumes; no codec library): "
    "synth 8-frame mono 8x8 Y4M from md5-chain luma -> tagged-header "
    "parse + FRAME walk -> stride-2 frame sampling -> re-encode+re-"
    "decode roundtrip -> exact luma stats, certified by a full SQL "
    "replay of the byte derivation; MP4/WebM stay permanent N/A (lossy "
    "codecs have no hash-exact replay)",
)


_ADPCM_N = 194  # two full 97-sample IMA blocks — the block walk is in-gate
_ADPCM_BLOCK = 97


def _mm_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    media = M.synth_adpcm_media(
        docs, n_samples=_ADPCM_N, rate=16_000, samples_per_block=_ADPCM_BLOCK
    )
    return M.adpcm_reconstruction_stats(media).orderBy("doc_id")


def _mm_audio_adpcm_oracle(with_bytes: bool = True) -> str:
    """Recursive-CTE replay of the IMA-ADPCM encoder+decoder recursion.

    The payload is LOSSY, yet the whole encode->decode chain replays in
    SQL because the quantizer is a deterministic integer recursion and
    the encoder's predictor state IS the decoder's reconstruction
    (operators/adpcm.py). Each recursion step reproduces one
    _encode_nibble + _step_update pair: successive approximation of
    |x - pred| against step, step/2, step/4, the reconstruction delta
    step/8 + b2*step + b1*step/2 + b0*step/4, int16 clamping, and the
    step-index walk; block-header samples (i % 97 == 0) pass through
    verbatim with the index carried over, exactly like the container's
    4-byte block headers. Any slip in either engine's 194-step walk
    changes sumsq/min/max and fails the hash."""
    from ..operators.adpcm import STEP_TABLE

    steps_vals = ",".join(f"({i},{s})" for i, s in enumerate(STEP_TABLE))
    ad = "ABS(n.x - d.pred)"
    s4 = f"(CASE WHEN {ad} >= st.step THEN 1 ELSE 0 END)"
    r4 = f"({ad} - {s4} * st.step)"
    s2 = f"(CASE WHEN {r4} >= st.step // 2 THEN 1 ELSE 0 END)"
    r2 = f"({r4} - {s2} * (st.step // 2))"
    s1 = f"(CASE WHEN {r2} >= st.step // 4 THEN 1 ELSE 0 END)"
    delta = (
        f"(st.step // 8 + {s4} * st.step + {s2} * (st.step // 2) "
        f"+ {s1} * (st.step // 4))"
    )
    step_pred = (
        f"GREATEST(-32768, LEAST(32767, d.pred + "
        f"CASE WHEN n.x < d.pred THEN -{delta} ELSE {delta} END))"
    )
    nmag = f"({s4} * 4 + {s2} * 2 + {s1})"
    step_idx = (
        f"GREATEST(0, LEAST(88, d.sidx + CASE {nmag} "
        "WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8 "
        "ELSE -1 END))"
    )
    blk = _ADPCM_BLOCK
    pred2 = f"(CASE WHEN (d.i + 1) % {blk} = 0 THEN n.x ELSE {step_pred} END)"
    idx2 = f"(CASE WHEN (d.i + 1) % {blk} = 0 THEN d.sidx ELSE {step_idx} END)"
    n_hex = 4 * _ADPCM_N
    n_md5 = (2 * _ADPCM_N + 15) // 16
    n_bytes = 12 + 28 + 12 + 8 + 2 * (4 + (blk - 1) // 2)
    return (
        "WITH RECURSIVE m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        f"  '' ORDER BY i), 1, {n_hex}) AS hx "
        f"  FROM documents CROSS JOIN generate_series(0, {n_md5 - 1}) AS t(i) "
        "  GROUP BY doc_id), "
        "smp AS (SELECT doc_id, i, "
        "  CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS INT) AS x "
        "  FROM (SELECT doc_id, i, "
        "    ('0x' || substr(hx, 4 * i + 1, 2))::BIGINT "
        "    + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT AS u "
        f"    FROM m, (SELECT unnest(generate_series(0, {_ADPCM_N - 1})) "
        "      AS i) t)), "
        f"steps(sidx, step) AS (VALUES {steps_vals}), "
        "dec AS ("
        "  SELECT doc_id, 0 AS i, x AS pred, 0 AS sidx, "
        "    CAST(x AS BIGINT) * x AS sumsq, x AS mn, x AS mx "
        "  FROM smp WHERE i = 0 "
        "  UNION ALL "
        f"  SELECT d.doc_id, d.i + 1, {pred2}, {idx2}, "
        f"    d.sumsq + CAST({pred2} AS BIGINT) * {pred2}, "
        f"    LEAST(d.mn, {pred2}), GREATEST(d.mx, {pred2}) "
        "  FROM dec d "
        "  JOIN smp n ON n.doc_id = d.doc_id AND n.i = d.i + 1 "
        "  JOIN steps st ON st.sidx = d.sidx) "
        "SELECT doc_id, "
        + (f"CAST({n_bytes} AS INT) AS n_bytes, " if with_bytes else "")
        + f"CAST(16000 AS INT) AS rate, CAST({_ADPCM_N} AS INT) AS n_samples, "
        "sumsq, CAST(mn AS INT) AS min_s, CAST(mx AS INT) AS max_s "
        f"FROM dec WHERE i = {_ADPCM_N - 1} ORDER BY doc_id"
    )


def _mm_audio_adpcm_jvm_sql() -> str:
    """The ADPCM recursion as a pure Spark SQL ``aggregate`` higher-order
    function — zero Python workers, zero Arrow transfer. The same
    194-step state walk the codec runs in numpy (and the oracle replays
    as a recursive CTE) is folded JVM-side over the per-doc sample array
    with a struct accumulator; the step table rides along as a 1-row
    broadcast array column so the lambda's 89-entry lookups stay short.
    Together the three spellings triangulate the recursion across three
    execution engines. Dialect/type trap pinned here: Spark's DIV always
    returns BIGINT, so the new predictor must be CAST back to INT or the
    CASE branches' struct types diverge and analysis fails.

    Performance shape (r14): HOF lambdas are evaluated OUTSIDE
    whole-stage codegen, so a textually substituted lambda pays for
    every repeated subexpression — the first spelling inlined ``pred2``
    five times (each carrying ``delta`` twice, each ``delta`` nesting
    the s4/s2/s1 successive-approximation chain), an ~600-node
    interpreted tree per sample, 42 s for 5k docs x 194 steps on ONE
    task. Spark SQL has no ``let``, but a unit ``transform`` —
    ``element_at(transform(array(e), v -> body), 1)`` — binds ``e``
    once and inner lambdas close over outer lambda variables, so the
    chain st -> s4 -> s2 -> s1 -> delta -> p2 evaluates each value
    exactly once per step (~40 nodes). With the same
    defaultParallelism repartition the Arrow twin uses (the sf0.1
    parquet is one file = one task otherwise), 42 s -> sub-second."""
    from ..operators.adpcm import STEP_TABLE

    steps = ",".join(str(s) for s in STEP_TABLE)
    n_md5 = (2 * _ADPCM_N + 15) // 16
    hexlen = 4 * _ADPCM_N

    def let(expr: str, var: str, body: str) -> str:
        return f"element_at(transform(array({expr}), {var} -> {body}), 1)"

    idx2 = (
        "GREATEST(0, LEAST(88, a.idx + element_at("
        "array(-1,-1,-1,-1,2,4,6,8), t2.s4 * 4 + t4 * 2 + t5.s1 + 1)))"
    )
    inner = (
        f"named_struct('pred', p2, 'idx', {idx2}, 'n', a.n + 1, "
        "'sumsq', a.sumsq + CAST(p2 AS BIGINT) * p2, "
        "'mn', LEAST(a.mn, p2), 'mx', GREATEST(a.mx, p2))"
    )
    # Bind the successive-approximation chain innermost-out: each layer
    # computes one value from already-bound ones, so nothing is ever
    # re-evaluated. t1 = (step, |x-pred|); t2 adds the 1/2/4-bit
    # thresholds and s4; t3 = r4; t4 = s2; t5 = (s1, delta); p2 = the
    # clamped reconstruction the struct uses five times.
    p2_expr = (
        "CAST(GREATEST(-32768, LEAST(32767, "
        "a.pred + IF(x < a.pred, -t5.delta, t5.delta))) AS INT)"
    )
    t5_expr = let(
        "IF(t3 - t4 * t2.h2 >= t2.h4, 1, 0)",
        "s1v",
        "named_struct('s1', s1v, 'delta', "
        "t1.st DIV 8 + t2.s4 * t1.st + t4 * t2.h2 + s1v * t2.h4)",
    )
    step_struct = let(
        "named_struct('st', element_at(st, a.idx + 1), "
        "'ad', ABS(CAST(x AS BIGINT) - a.pred))",
        "t1",
        let(
            "named_struct('s4', IF(t1.ad >= t1.st, 1, 0), "
            "'h2', t1.st DIV 2, 'h4', t1.st DIV 4)",
            "t2",
            let(
                "t1.ad - t2.s4 * t1.st",
                "t3",
                let(
                    "IF(t3 >= t2.h2, 1, 0)",
                    "t4",
                    let(t5_expr, "t5", let(p2_expr, "p2", inner)),
                ),
            ),
        ),
    )
    header_struct = (
        "named_struct('pred', x, 'idx', a.idx, 'n', a.n + 1, "
        "'sumsq', a.sumsq + CAST(x AS BIGINT) * x, "
        "'mn', LEAST(a.mn, x), 'mx', GREATEST(a.mx, x))"
    )
    return (
        "WITH m AS (SELECT doc_id, "
        f"substr(concat_ws('', transform(sequence(0, {n_md5 - 1}), "
        "i -> md5(concat(CAST(doc_id AS STRING), ':', "
        f"CAST(i AS STRING))))), 1, {hexlen}) AS hx FROM documents), "
        f"sm AS (SELECT doc_id, transform(sequence(0, {_ADPCM_N - 1}), i -> "
        "CAST((CAST(conv(substr(hx, 4 * i + 1, 2), 16, 10) AS BIGINT) "
        "+ 256 * CAST(conv(substr(hx, 4 * i + 3, 2), 16, 10) AS BIGINT) "
        "+ 32768) % 65536 - 32768 AS INT)) AS s FROM m), "
        "w AS (SELECT doc_id, aggregate("
        f"slice(s, 2, {_ADPCM_N - 1}), "
        "named_struct('pred', element_at(s, 1), 'idx', 0, 'n', 1, "
        "'sumsq', CAST(element_at(s, 1) AS BIGINT) * element_at(s, 1), "
        "'mn', element_at(s, 1), 'mx', element_at(s, 1)), "
        f"(a, x) -> CASE WHEN a.n % {_ADPCM_BLOCK} = 0 "
        f"THEN {header_struct} ELSE {step_struct} END) AS agg "
        f"FROM sm CROSS JOIN (SELECT array({steps}) AS st)) "
        "SELECT doc_id, CAST(16000 AS INT) AS rate, "
        f"CAST({_ADPCM_N} AS INT) AS n_samples, agg.sumsq AS sumsq, "
        "agg.mn AS min_s, agg.mx AS max_s FROM w ORDER BY doc_id"
    )


def _mm_audio_adpcm_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    # The per-row fold is CPU-bound (194 interpreted lambda steps each);
    # small-SF parquet is a single file = a single task without this.
    spark.table("documents").repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView("documents_adpcm_rp")
    return spark.sql(
        _mm_audio_adpcm_jvm_sql().replace(
            "FROM documents)", "FROM documents_adpcm_rp)", 1
        )
    )


df_query(
    "mm_audio_adpcm_jvm",
    _mm_audio_adpcm_jvm,
    oracle=_mm_audio_adpcm_oracle(with_bytes=False),
    tables=("documents",),
    tags=("multimodal", "audio", "adpcm", "hof", "jvm"),
    doc="the ADPCM encode->decode recursion as a pure JVM aggregate "
    "higher-order function (struct accumulator over the per-doc sample "
    "array, broadcast step-table column, no Python/Arrow) -- the 'stay "
    "JVM-side' twin of mm_audio_adpcm; three engines (numpy codec, "
    "Catalyst HOF, DuckDB recursive CTE) triangulate the same 194-step "
    "integer state walk",
)


df_query(
    "mm_audio_adpcm",
    _mm_audio_adpcm,
    oracle=_mm_audio_adpcm_oracle(),
    tables=("documents",),
    tags=("multimodal", "audio", "adpcm", "pandas_udf"),
    doc="REAL lossy-audio path inside the hash gate (pure-stdlib IMA/"
    "DVI4 ADPCM codec, WAV format tag 0x11): md5-chain int16 samples -> "
    "4-bit adaptive-quantizer encode (two full 97-sample blocks) -> "
    "container-validated decode -> exact reconstruction stats, certified "
    "by a recursive-CTE SQL replay of the encoder+decoder state walk. "
    "Sharpened classification the FLAC round left coarse: the hash-"
    "replay wall is ENTROPY CODING (MP3/Vorbis), not lossiness — ADPCM "
    "is lossy yet integer-deterministic, so decode(encode(x)) replays "
    "bit-exactly in both engines",
)


def _mm_image_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    media = M.synth_gif_media(docs, width=16, height=16)
    return M.gif_luma_stats(media).orderBy("doc_id")


df_query(
    "mm_image_gif",
    _mm_image_gif,
    oracle=(
        # Full SQL replay of the REAL dictionary-coded image path: each
        # doc's interlaced GIF89a wraps a 16x16 index raster whose
        # indices are the md5-chain bytes (256 bytes = 16 blocks = 512
        # hex chars) under the permutation gray palette
        # luma = (index*7 + 13) % 256. GIF's LZW is lossless, so the
        # oracle computes the luma stats straight from the chain; the
        # POSITION-weighted sum certifies LZW synchronization (late
        # width change), mid-stream dictionary resets, palette lookup
        # AND the 4-pass de-interlace row placement — any of those
        # slipping reorders or remaps pixels and moves luma_posw.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 512) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 15) AS t(i) "
        "  GROUP BY doc_id), "
        "px AS (SELECT doc_id, p, "
        "  (('0x' || substr(hx, 2 * p + 1, 2))::BIGINT * 7 + 13) % 256 AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 255)) AS p) t) "
        "SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height, "
        "CAST(SUM(b) AS BIGINT) AS luma_sum, "
        "CAST(SUM(p * b) AS BIGINT) AS luma_posw, "
        "CAST(MIN(b) AS INT) AS luma_min, CAST(MAX(b) AS INT) AS luma_max, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM px GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "image", "gif", "pandas_udf"),
    doc="REAL dictionary-coded image path (pure-stdlib GIF89a codec: "
    "12-bit LZW with late width change and mid-stream resets, global "
    "color table, 4-pass interlace): md5-chain palette indices -> "
    "interlaced encode -> full decode (LZW + palette + de-interlace) -> "
    "exact position-weighted luma stats, certified by a SQL replay of "
    "the permutation-palette arithmetic; completes the lossless image "
    "tier (PPM/BMP/PNG/GIF) alongside lossy-exact JPEG",
)


def _mm_video_gif_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    media = M.synth_gif_anim_media(docs, n_frames=8, width=8, height=8)
    return M.gif_anim_frame_stats(media, stride=2).orderBy("doc_id")


df_query(
    "mm_video_gif_anim",
    _mm_video_gif_anim,
    oracle=(
        # Full SQL replay of the COMPRESSED video path (the Y4M query's
        # LZW twin): each doc's animated GIF wraps 8 mono 8x8 frames
        # whose indices are the md5-chain bytes (512 bytes = 32 blocks)
        # under the permutation gray palette luma = (b*7+13) % 256;
        # frame k covers positions [64k, 64(k+1)), stride-2 keeps even
        # k. LZW is lossless, so the oracle computes the kept frames'
        # position-weighted luma stats straight from the chain —
        # certifying per-frame LZW decode, the multi-image block walk
        # (GCE + NETSCAPE extensions skipped), palette lookup AND frame
        # selection; roundtrip_ok pins the kept-stack re-encode.
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 1024) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 31) AS t(i) "
        "  GROUP BY doc_id), "
        "px AS (SELECT doc_id, p, "
        "  (('0x' || substr(hx, 2 * p + 1, 2))::BIGINT * 7 + 13) % 256 AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 511)) AS p) t "
        "  WHERE (p // 64) % 2 = 0) "
        "SELECT doc_id, CAST(8 AS INT) AS n_frames, "
        "CAST(4 AS INT) AS kept_frames, "
        "CAST(8 AS INT) AS width, CAST(8 AS INT) AS height, "
        "CAST(SUM(b) AS BIGINT) AS luma_sum, "
        "CAST(SUM(p * b) AS BIGINT) AS luma_posw, "
        "CAST(MIN(b) AS INT) AS luma_min, CAST(MAX(b) AS INT) AS luma_max, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM px GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "video", "gif", "pandas_udf"),
    doc="REAL compressed-video path (animated GIF89a: per-frame 12-bit "
    "LZW streams, graphic-control + NETSCAPE loop extensions, full-"
    "canvas frame walk): md5-chain indices -> 8-frame animated encode "
    "-> full multi-frame decode -> stride-2 frame sampling -> exact "
    "position-weighted luma stats + kept-stack re-encode roundtrip, "
    "certified by a SQL replay of the permutation-palette arithmetic",
)


def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_media(docs, "video", n_bytes=256)
    frames = M.sample_frames(media, frame_bytes=32, stride=2)
    # sha over the LOWERCASE hex rendering: DuckDB's sha256 takes VARCHAR
    # only, so both engines hash the same hex string of the frame bytes
    return frames.select(
        "doc_id",
        "frame_idx",
        F.sha2(F.lower(F.hex("frame")), 256).alias("frame_sha"),
    ).orderBy("doc_id", "frame_idx")


df_query(
    "mm_frames_checked",
    _mm_frames,
    oracle=(
        # replay synth_media's md5-chain bytes and the mapInPandas
        # frame chunking in SQL: 16 md5 blocks -> 512 hex chars; frame k
        # covers bytes [k*32, (k+1)*32) = hex [k*64+1 .. +64); stride 2
        "WITH hexc AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 512) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 15) AS t(i) "
        "  GROUP BY doc_id), "
        "fr AS (SELECT doc_id, CAST(k AS INT) AS frame_idx, "
        "  substr(hx, k * 64 + 1, 64) AS fhex "
        "  FROM hexc CROSS JOIN generate_series(0, 7) AS g(k) "
        "  WHERE k % 2 = 0) "
        "SELECT doc_id, frame_idx, sha256(fhex) AS frame_sha "
        "FROM fr ORDER BY doc_id, frame_idx"
    ),
    tables=("documents",),
    tags=("multimodal", "frames"),
    doc="hash-certified twin of the video frame-sampling path: "
    "sample_frames' mapInPandas chunking (32-byte frames, stride 2) "
    "replayed byte-for-byte by the oracle via the md5-chain content - "
    "certifies the Arrow kernel's batch iteration and slicing exactly "
    "(operators/multimodal.py:116)",
)


def _mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_media(docs, "audio", n_bytes=256)
    return M.audio_energy_windows(media, window_bytes=64, hop_bytes=32).orderBy(
        "doc_id", "win_idx"
    )


df_query(
    "mm_audio_energy",
    _mm_audio,
    oracle=(
        # replay synth_media's md5-chain bytes and the sliding-window
        # energy kernel in SQL: byte p of the payload is hex pair
        # [p*2+1, p*2+2]; window w covers bytes [w*32, w*32+64), 7
        # complete windows over 256 bytes; energy = floor-permille of
        # the byte mean, low_energy below 480
        "WITH hexc AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 512) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 15) AS t(i) "
        "  GROUP BY doc_id), "
        "wb AS (SELECT doc_id, w, "
        "  SUM(('0x' || substr(hx, (w * 32 + b) * 2 + 1, 2))::INT) AS s "
        "  FROM hexc CROSS JOIN generate_series(0, 6) AS gw(w) "
        "  CROSS JOIN generate_series(0, 63) AS gb(b) "
        "  GROUP BY doc_id, w) "
        "SELECT doc_id, CAST(w AS INT) AS win_idx, "
        "CAST(s * 1000 // (255 * 64) AS BIGINT) AS energy_permille, "
        "CAST(CASE WHEN s * 1000 // (255 * 64) < 480 THEN 1 ELSE 0 END "
        "     AS INT) AS low_energy "
        "FROM wb ORDER BY doc_id, win_idx"
    ),
    tables=("documents",),
    tags=("multimodal", "audio"),
    doc="hash-certified audio windowing path: audio_energy_windows' "
    "mapInPandas kernel (64-byte windows, 32-byte hop, floor-permille "
    "energy + silence flag) replayed byte-for-byte by the oracle via "
    "the md5-chain content (operators/multimodal.py audio analog of "
    "sample_frames)",
)


# §2.5 grouping-set tier beyond q7's ROLLUP: explicit GROUPING SETS incl.
# the grand total, with grouping() markers disambiguating "NULL because
# aggregated away" from data NULLs and a grouping_id-style composite key.
# Portable verbatim: both engines implement SQL:1999 GROUPING SETS.
sql_query(
    "agg_grouping_sets",
    "SELECT "
    "CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS et, "
    "CASE WHEN GROUPING(bucket) = 1 THEN -1 ELSE bucket END AS bucket, "
    "CAST(GROUPING(event_type) * 2 + GROUPING(bucket) AS BIGINT) AS gid, "
    "COUNT(*) AS n "
    "FROM (SELECT event_type, CAST(user_id % 5 AS BIGINT) AS bucket "
    "      FROM events) t "
    "GROUP BY GROUPING SETS ((event_type, bucket), (event_type), (bucket), ()) "
    "ORDER BY gid, et, bucket",
    tables=("events",),
    tags=("agg", "grouping_sets"),
    doc="GROUPING SETS + grouping() markers (§2.5 grouping-set tier)",
)

# §2.5 CUBE: all 4 grouping combinations over two low-cardinality dims
sql_query(
    "agg_cube",
    "SELECT "
    "CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END "
    "AS status, "
    "CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END "
    "AS priority, "
    "COUNT(*) AS n, "
    "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "     AS DOUBLE) AS total "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) "
    "ORDER BY status, priority",
    tables=("orders",),
    tags=("agg", "cube"),
    doc="CUBE over two dims with decimal-exact totals (§2.5 grouping-set tier)",
)

# §2.7/relational breadth: UNPIVOT (wide metrics -> long form). Spark uses
# the native UNPIVOT clause (stack() under the hood); the DuckDB oracle
# spells the same relation as a UNION ALL stack — identical rows either way.
_UNPIVOT_WIDE = (
    "SELECT o_orderpriority, "
    "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "     AS DOUBLE) AS total, "
    "CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "     AS DOUBLE) AS maxp, "
    "CAST(COUNT(*) AS DOUBLE) AS n "
    "FROM orders GROUP BY o_orderpriority"
)

sql_query(
    "unpivot_metrics",
    f"SELECT o_orderpriority, metric, val FROM ({_UNPIVOT_WIDE}) w "
    "UNPIVOT (val FOR metric IN (total, maxp, n)) "
    "ORDER BY o_orderpriority, metric",
    oracle=(
        f"WITH w AS ({_UNPIVOT_WIDE}) "
        "SELECT o_orderpriority, metric, val FROM ("
        "  SELECT o_orderpriority, 'total' AS metric, total AS val FROM w "
        "  UNION ALL "
        "  SELECT o_orderpriority, 'maxp' AS metric, maxp AS val FROM w "
        "  UNION ALL "
        "  SELECT o_orderpriority, 'n' AS metric, n AS val FROM w) u "
        "ORDER BY o_orderpriority, metric"
    ),
    tables=("orders",),
    tags=("reshape", "unpivot"),
    doc="UNPIVOT wide->long metrics (stack); oracle is the UNION ALL spelling",
)


def _stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    # rebalance: downsample dominant 'en', keep most of the rest
    out = stratified_sample(
        docs,
        "doc_id",
        ("lang",),
        permille={"en": 300, "zh": 800},
        default_permille=600,
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


df_query(
    "sample_stratified",
    _stratified,
    oracle=(
        "SELECT doc_id, lang FROM documents "
        "WHERE (('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)),1,15))"
        "::BIGINT) % 1000 < "
        "CASE lang WHEN 'en' THEN 300 WHEN 'zh' THEN 800 ELSE 600 END "
        "ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("sampling", "stratified"),
    doc="per-stratum deterministic rates (language rebalancing; scan-level "
    "filter, no shuffle)",
)

# normalize-then-hash dedup (the C4/RefinedWeb-style canonicalization tier):
# case-fold, strip non-alphanumerics, collapse whitespace, THEN exact-hash.
# Catches trivially-reformatted duplicates exact dedup misses, with exact
# dedup's one-shuffle groupBy cost.
_NORM_SPARK = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', ''), ' +', ' ')))"
)
_NORM_DUCK = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
)

sql_query(
    "dedup_normalized",
    f"SELECT {_NORM_SPARK} AS h, MIN(doc_id) AS keeper, COUNT(*) AS n "
    "FROM documents GROUP BY 1 ORDER BY h",
    oracle=(
        f"SELECT {_NORM_DUCK} AS h, MIN(doc_id) AS keeper, COUNT(*) AS n "
        "FROM documents GROUP BY 1 ORDER BY h"
    ),
    tables=("documents",),
    tags=("dedup", "normalize"),
    doc="canonicalize-then-hash dedup (case/punct/whitespace-insensitive)",
)


# §2.9 interval/date arithmetic battery: interval add, month arithmetic,
# end-of-month, day diffs, ISO week / quarter / weekday, week truncation.
# Spark's dayofweek is 1=Sunday..7 while DuckDB's is 0=Sunday..6 — the
# Spark side subtracts 1 so both emit ISO-ish Monday=1.
sql_query(
    "scalar_interval_battery",
    "SELECT event_id, "
    "ts + INTERVAL 90 MINUTE AS plus90m, "
    "CAST(last_day(CAST(ts AS DATE)) AS DATE) AS eom, "
    "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) "
    "AS days_since, "
    "CAST(add_months(CAST(ts AS DATE), 2) AS DATE) AS plus2mo, "
    "CAST(weekofyear(ts) AS BIGINT) AS woy, "
    "CAST(dayofweek(ts) - 1 AS BIGINT) AS dow, "
    "CAST(quarter(ts) AS BIGINT) AS q, "
    "date_trunc('week', ts) AS wk "
    "FROM events WHERE event_id < 200 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "ts + INTERVAL 90 MINUTE AS plus90m, "
        "CAST(last_day(CAST(ts AS DATE)) AS DATE) AS eom, "
        "CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) "
        "AS days_since, "
        "CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo, "
        "CAST(weekofyear(ts) AS BIGINT) AS woy, "
        "CAST(dayofweek(ts) AS BIGINT) AS dow, "
        "CAST(quarter(ts) AS BIGINT) AS q, "
        "date_trunc('week', ts) AS wk "
        "FROM events WHERE event_id < 200 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "interval"),
    doc="§2.9 interval/date arithmetic (interval add, add_months, last_day, "
    "datediff, ISO week/quarter/weekday, week truncation)",
)

# §2.9 JSON parse battery: Spark's schema-driven from_json (struct, nested
# struct, array index) certified against DuckDB's JSON-pointer extraction
# over the identical constructed document.
sql_query(
    "scalar_json_parse",
    "SELECT event_id, CAST(j.a AS BIGINT) AS a, j.b.c AS c, "
    "CAST(element_at(j.arr, 3) AS BIGINT) AS arr3, "
    "CAST(json_array_length(get_json_object(js, '$.arr')) AS BIGINT) AS alen "
    "FROM (SELECT event_id, "
    "concat('{\"a\":', CAST(event_id * 2 AS STRING), "
    "',\"b\":{\"c\":\"', event_type, '\"},\"arr\":[1,2,', "
    "CAST(event_id AS STRING), ']}') AS js, "
    "from_json(concat('{\"a\":', CAST(event_id * 2 AS STRING), "
    "',\"b\":{\"c\":\"', event_type, '\"},\"arr\":[1,2,', "
    "CAST(event_id AS STRING), ']}'), "
    "'a BIGINT, b STRUCT<c: STRING>, arr ARRAY<BIGINT>') AS j "
    "FROM events WHERE event_id < 100) s ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "CAST(json_extract(js, '$.a') AS BIGINT) AS a, "
        "json_extract_string(js, '$.b.c') AS c, "
        "CAST(json_extract(js, '$.arr[2]') AS BIGINT) AS arr3, "
        "CAST(json_array_length(js, '$.arr') AS BIGINT) AS alen "
        "FROM (SELECT event_id, "
        "concat('{\"a\":', CAST(event_id * 2 AS VARCHAR), "
        "',\"b\":{\"c\":\"', event_type, '\"},\"arr\":[1,2,', "
        "CAST(event_id AS VARCHAR), ']}') AS js "
        "FROM events WHERE event_id < 100) s ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "json"),
    doc="§2.9 JSON parse: from_json struct/nested/array extraction vs "
    "JSON-pointer oracle; json_array_length",
)


def _mm_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    media = M.synth_media(docs, "image", n_bytes=256)
    return M.extract_features_permille(media).orderBy("doc_id")


df_query(
    "mm_features_checked",
    _mm_features_checked,
    oracle=(
        # replay synth_media's md5-chain bytes and the integer-permille
        # chunk means entirely in SQL: 16 md5 blocks -> 512 hex chars ->
        # 256 byte values -> 4 chunks of 64 -> sum*1000 // (64*255)
        "WITH m AS (SELECT doc_id, substr(array_to_string(list_transform("
        "  generate_series(0, 15), "
        "  i -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))), "
        "  ''), 1, 512) AS hx FROM documents), "
        "bytes AS (SELECT doc_id, i, "
        "  ('0x' || substr(hx, 2 * i + 1, 2))::BIGINT AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 255)) AS i) t), "
        "chunks AS (SELECT doc_id, i // 64 AS c, SUM(b) AS s, COUNT(*) AS n "
        "  FROM bytes GROUP BY doc_id, i // 64) "
        "SELECT doc_id, CAST(256 AS INT) AS n_bytes, "
        "string_agg(CAST(s * 1000 // (n * 255) AS VARCHAR), ',' ORDER BY c) "
        "AS feature_permille "
        "FROM chunks GROUP BY doc_id ORDER BY doc_id"
    ),
    tables=("documents",),
    tags=("multimodal", "pandas_udf"),
    doc="multimodal decode+feature path, hash-checked: the mapInPandas "
    "kernel's integer-permille features vs a full SQL replay of the "
    "md5-chain bytes (upgrades §2.10 from rows-only certification)",
)


# Spark 4 VARIANT tier: parse_json into the binary VARIANT encoding,
# typed variant_get extraction (incl. array index), try_variant_get's
# NULL on a missing path. The oracle reads the same document with
# DuckDB's JSON pointers — semantics match, storage differs by design.
sql_query(
    "scalar_variant_battery",
    "SELECT event_id, "
    "CAST(variant_get(parse_json(props), '$.k', 'bigint') AS BIGINT) AS k, "
    "CAST(variant_get(parse_json(concat('{\"w\":[10,20,', "
    "CAST(event_id AS STRING), ']}')), '$.w[2]', 'bigint') AS BIGINT) AS w2, "
    "CAST(try_variant_get(parse_json(props), '$.missing', 'bigint') "
    "     AS BIGINT) AS absent "
    "FROM events WHERE event_id < 100 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "CAST(json_extract(props, '$.k') AS BIGINT) AS k, "
        "CAST(json_extract(concat('{\"w\":[10,20,', "
        "CAST(event_id AS VARCHAR), ']}'), '$.w[2]') AS BIGINT) AS w2, "
        "CAST(json_extract(props, '$.missing') AS BIGINT) AS absent "
        "FROM events WHERE event_id < 100 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "variant"),
    doc="Spark 4 VARIANT: parse_json + typed variant_get / try_variant_get "
    "vs JSON-pointer oracle",
)

# Spark 4 collation tier: UTF8_LCASE comparisons evaluated per row (the
# oracle lowercases both sides — identical ASCII semantics). Aggregated
# into one deterministic summary row plus per-row booleans.
sql_query(
    "scalar_collation_battery",
    "SELECT event_id, "
    "upper(event_type) = event_type COLLATE UTF8_LCASE AS eq_ci, "
    "startswith(upper(event_type) COLLATE UTF8_LCASE, substr(event_type, 1, 2)) "
    "AS prefix_ci, "
    "CAST(CASE WHEN upper(event_type) COLLATE UTF8_LCASE > event_type "
    "     THEN 1 ELSE 0 END AS INT) AS gt_ci "
    "FROM events WHERE event_id < 100 ORDER BY event_id",
    oracle=(
        "SELECT event_id, "
        "lower(upper(event_type)) = lower(event_type) AS eq_ci, "
        "starts_with(lower(upper(event_type)), lower(substr(event_type, 1, 2))) "
        "AS prefix_ci, "
        "CAST(CASE WHEN lower(upper(event_type)) > lower(event_type) "
        "     THEN 1 ELSE 0 END AS INT) AS gt_ci "
        "FROM events WHERE event_id < 100 ORDER BY event_id"
    ),
    tables=("events",),
    tags=("scalar", "collation"),
    doc="Spark 4 collations: UTF8_LCASE equality/prefix/ordering vs "
    "lowercased oracle",
)


# ---- G.711 mu-law companding in pure SQL ------------------------------------

# The telephony codec (ITU-T G.711, WAV format tag 0x07): logarithmic
# 8-bit companding of 16-bit PCM. Like IMA-ADPCM it is LOSSY, and like
# it the loss comes from a deterministic integer quantizer with NO
# entropy coding — but mu-law is MEMORYLESS (one sample in, one byte
# out), so where ADPCM needed a recursive CTE, the whole encode ->
# decode -> error-analysis chain is a single row-wise projection that
# stays inside whole-stage codegen on Spark and vectorizes on DuckDB:
# the cheapest possible spelling of a real codec in the hash gate.
# Encode per G.711: clip |x| to 32635, bias by 132, exponent = bit
# length - 8 (segment 0..7), 4-bit mantissa, one's-complement the
# packed byte (spelled 255 - v; the fields cannot overlap). Decode is
# the segment-midpoint reconstruction m = (2*mant + 33) << (e + 2)
# minus the bias. Certified per doc over the same md5-chain sample
# stream the ADPCM family uses: reconstruction energy, total squared
# error, worst-case error, and the used code-alphabet size — all exact
# integers. Scale shape: project + one hash aggregate; nothing else.


def _mm_audio_ulaw_sql(dialect: str) -> str:
    from ..operators.adpcm import STEP_TABLE  # noqa: F401  (family doc link)

    n = _ADPCM_N
    n_md5 = (2 * n + 15) // 16
    hexlen = 4 * n
    if dialect == "spark":
        idiv = "DIV"

        def shl(e: str) -> str:
            return f"shiftleft(CAST(1 AS BIGINT), CAST({e} AS INT))"

        m_cte = (
            # repartition BEFORE the fan-out: the md5 chain + per-sample
            # hex parsing is ~1M string ops at sf0.1, one task otherwise
            "SELECT doc_id, "
            f"substr(concat_ws('', transform(sequence(0, {n_md5 - 1}), "
            "i -> md5(concat(CAST(doc_id AS STRING), ':', "
            f"CAST(i AS STRING))))), 1, {hexlen}) AS hx "
            "FROM (SELECT /*+ REPARTITION(__PAR__) */ * FROM documents)"
        )
        smp = (
            "SELECT doc_id, i, "
            "CAST((CAST(conv(substr(hx, 4 * i + 1, 2), 16, 10) AS BIGINT) "
            "+ 256 * CAST(conv(substr(hx, 4 * i + 3, 2), 16, 10) AS BIGINT) "
            "+ 32768) % 65536 - 32768 AS INT) AS x "
            f"FROM m CROSS JOIN (SELECT explode(sequence(0, {n - 1})) AS i) t"
        )
    else:
        idiv = "//"

        def shl(e: str) -> str:
            return f"(CAST(1 AS BIGINT) << CAST({e} AS INT))"

        m_cte = (
            "SELECT doc_id, substr(string_agg("
            "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
            f"  '' ORDER BY i), 1, {hexlen}) AS hx "
            f"FROM documents CROSS JOIN generate_series(0, {n_md5 - 1}) "
            "AS t(i) GROUP BY doc_id"
        )
        smp = (
            "SELECT doc_id, i, "
            "CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS INT) AS x "
            "FROM (SELECT doc_id, i, "
            "  ('0x' || substr(hx, 4 * i + 1, 2))::BIGINT "
            "  + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT AS u "
            f"  FROM m, (SELECT unnest(generate_series(0, {n - 1})) AS i) t)"
        )
    # encode fields from the biased magnitude
    return (
        f"WITH m AS ({m_cte}), "
        f"smp AS ({smp}), "
        "enc AS (SELECT doc_id, x, sgn, e, "
        f"  (mb {idiv} {shl('e + 3')}) % 16 AS mant "
        "  FROM (SELECT doc_id, x, "
        "    CASE WHEN x < 0 THEN 1 ELSE 0 END AS sgn, "
        "    LENGTH(bin(LEAST(ABS(CAST(x AS BIGINT)), 32635) + 132)) - 8 "
        "      AS e, "
        "    LEAST(ABS(CAST(x AS BIGINT)), 32635) + 132 AS mb FROM smp) b), "
        "dec AS (SELECT doc_id, x, "
        "  255 - (sgn * 128 + e * 16 + mant) AS code, "
        f"  (1 - 2 * sgn) * ((2 * mant + 33) * {shl('e + 2')} - 132) "
        "    AS xhat FROM enc) "
        "SELECT doc_id, "
        f"CAST({n} AS INT) AS n_samples, "
        "CAST(SUM(xhat * xhat) AS BIGINT) AS sumsq_dec, "
        "CAST(SUM(CAST(xhat - x AS BIGINT) * (xhat - x)) AS BIGINT) AS sse, "
        "CAST(MAX(ABS(xhat - x)) AS INT) AS max_abs_err, "
        "CAST(COUNT(DISTINCT code) AS INT) AS n_codes "
        "FROM dec GROUP BY doc_id ORDER BY doc_id"
    )


sql_query(
    "mm_audio_ulaw",
    _mm_audio_ulaw_sql("spark"),
    oracle=_mm_audio_ulaw_sql("duck"),
    tables=("documents",),
    tags=("multimodal", "audio", "ulaw", "g711", "codec"),
    doc="G.711 mu-law companding encode->decode->error analysis as one "
    "row-wise integer projection (no recursion — the codec is "
    "memoryless): per-doc reconstruction energy, exact squared error, "
    "worst-case error and code-alphabet usage over the md5-chain sample "
    "stream; the third lossy-but-deterministic codec in the hash gate",
)


# ---- QOI image codec (mm_image_qoi) -----------------------------------------

# The modern lossless raster format (qoiformat.org 2022): byte-oriented,
# no entropy coder, six chunk ops against a previous-pixel + 64-slot
# running index. Unlike the GIF gate (random indices — LZW eats
# anything), QOI's interesting ops need SPATIAL structure, so the
# synthetic image is a segment-wise random walk: every 16th pixel jumps
# to a 4-color palette anchor (drives RGB + INDEX), and in between the
# md5-chain byte picks zero deltas (RUN), small DIFF-range deltas, or
# LUMA-range deltas, accumulated per 16-pixel segment with mod-256
# wraparound. Both engines derive the pixels from the SAME chain —
# DuckDB via segment-partitioned window prefix sums, Spark inside the
# Arrow kernel via numpy cumsum — and the Spark side pushes them
# through a full encode -> decode (operators/qoi.py) before computing
# the stats, so the position-weighted checksum certifies every decoded
# pixel and therefore the whole op ladder: a slipped run length,
# mis-biased diff, wrong luma second byte or stale index slot moves it.

_QOI_PALETTE = ((200, 40, 40), (40, 200, 40), (40, 40, 200), (200, 200, 40))


def _qoi_synth_px(doc_id: int):
    """numpy mirror of the oracle's pixel derivation (16x16 RGB)."""
    import hashlib

    import numpy as np

    hx = "".join(
        hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest() for i in range(16)
    )[:512]
    bs = np.array(
        [int(hx[2 * p : 2 * p + 2], 16) for p in range(256)], dtype=np.int64
    )
    deltas = np.zeros((256, 3), dtype=np.int64)
    for p in range(256):
        b = int(bs[p])
        if p % 16 == 0:
            deltas[p] = _QOI_PALETTE[(p // 16) % 4]
        elif b >= 192:
            deltas[p] = (0, 0, 0)
        elif b >= 128:
            dg = (b % 16) - 8
            deltas[p] = (
                dg + ((b // 16) % 4) - 2,
                dg,
                dg + ((b // 32) % 4) - 2,
            )
        else:
            deltas[p] = ((b % 4) - 2, ((b // 4) % 4) - 2, ((b // 16) % 4) - 2)
    out = np.zeros((256, 3), dtype=np.int64)
    for g in range(16):
        seg = deltas[g * 16 : (g + 1) * 16]
        out[g * 16 : (g + 1) * 16] = np.cumsum(seg, axis=0) % 256
    return out.reshape(16, 16, 3).astype(np.uint8)


def _mm_image_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = register_views(spark, sf_dir, ("documents",))["documents"]
    docs = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id"
    )

    def _kernel(batches):
        import numpy as np

        from ..operators.qoi import decode_qoi, encode_qoi

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                src = _qoi_synth_px(int(doc_id))
                decoded, meta = decode_qoi(encode_qoi(src))
                ok = int(np.array_equal(decoded, src))
                px = decoded.reshape(-1, 3).astype(np.int64)
                p = np.arange(256, dtype=np.int64)
                packed = px[:, 0] * 65536 + px[:, 1] * 256 + px[:, 2]
                rows.append(
                    (
                        int(doc_id),
                        meta["width"],
                        meta["height"],
                        int((p * packed).sum()),
                        int(px[:, 0].sum()),
                        int(px[:, 1].sum()),
                        int(px[:, 2].sum()),
                        ok,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "px_posw",
                    "r_sum",
                    "g_sum",
                    "b_sum",
                    "roundtrip_ok",
                ],
            )

    out = docs.mapInPandas(
        _kernel,
        schema=(
            "doc_id BIGINT, width INT, height INT, px_posw BIGINT, "
            "r_sum BIGINT, g_sum BIGINT, b_sum BIGINT, roundtrip_ok INT"
        ),
    )
    return out.orderBy("doc_id")


def _qoi_oracle() -> str:
    pal_r = "CASE (p // 16) % 4 WHEN 0 THEN 200 WHEN 1 THEN 40 WHEN 2 THEN 40 ELSE 200 END"
    pal_g = "CASE (p // 16) % 4 WHEN 0 THEN 40 WHEN 1 THEN 200 WHEN 2 THEN 40 ELSE 200 END"
    pal_b = "CASE (p // 16) % 4 WHEN 0 THEN 40 WHEN 1 THEN 40 WHEN 2 THEN 200 ELSE 40 END"

    def chan(pal: str, luma: str, diff: str) -> str:
        return (
            f"CASE WHEN p % 16 = 0 THEN {pal} "
            "WHEN b >= 192 THEN 0 "
            f"WHEN b >= 128 THEN {luma} "
            f"ELSE {diff} END"
        )

    rd = chan(pal_r, "(b % 16) - 8 + ((b // 16) % 4) - 2", "(b % 4) - 2")
    gd = chan(pal_g, "(b % 16) - 8", "((b // 4) % 4) - 2")
    bd = chan(pal_b, "(b % 16) - 8 + ((b // 32) % 4) - 2", "((b // 16) % 4) - 2")
    return (
        "WITH m AS (SELECT doc_id, substr(string_agg("
        "  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), "
        "  '' ORDER BY i), 1, 512) AS hx "
        "  FROM documents CROSS JOIN generate_series(0, 15) AS t(i) "
        "  GROUP BY doc_id), "
        "raw AS (SELECT doc_id, p, "
        "  ('0x' || substr(hx, 2 * p + 1, 2))::BIGINT AS b "
        "  FROM m, (SELECT unnest(generate_series(0, 255)) AS p) t), "
        f"d AS (SELECT doc_id, p, p // 16 AS grp, {rd} AS rd, {gd} AS gd, "
        f"  {bd} AS bd FROM raw), "
        "px AS (SELECT doc_id, p, "
        "  ((SUM(rd) OVER w) % 256 + 256) % 256 AS r, "
        "  ((SUM(gd) OVER w) % 256 + 256) % 256 AS g, "
        "  ((SUM(bd) OVER w) % 256 + 256) % 256 AS b "
        "  FROM d WINDOW w AS (PARTITION BY doc_id, grp ORDER BY p)) "
        "SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height, "
        "CAST(SUM(p * (r * 65536 + g * 256 + b)) AS BIGINT) AS px_posw, "
        "CAST(SUM(r) AS BIGINT) AS r_sum, "
        "CAST(SUM(g) AS BIGINT) AS g_sum, "
        "CAST(SUM(b) AS BIGINT) AS b_sum, "
        "CAST(1 AS INT) AS roundtrip_ok "
        "FROM px GROUP BY doc_id ORDER BY doc_id"
    )


df_query(
    "mm_image_qoi",
    _mm_image_qoi,
    oracle=_qoi_oracle(),
    tables=("documents",),
    tags=("multimodal", "image", "qoi", "codec", "pandas_udf"),
    doc="REAL byte-oriented lossless image path (pure-numpy QOI codec, "
    "full qoiformat.org spec: RUN/INDEX/DIFF/LUMA/RGB/RGBA against the "
    "64-slot running index): segment-wise random-walk pixels (palette "
    "anchors + DIFF/LUMA-range deltas from the md5 chain, so the "
    "certified stream exercises the whole op ladder) -> encode -> "
    "decode -> position-weighted pixel checksum vs a window-prefix-sum "
    "SQL replay of the walk; extends the raster family with the format "
    "modern asset pipelines use for memcpy-speed lossless storage",
)
