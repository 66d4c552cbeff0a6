"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Results are written to the noop sink so
the full plan executes without driver collection overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from console_datagen_spark.plans import all_queries
from console_datagen_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    # generator throughput runs FIRST: measured 448k -> 364k rec/s purely
    # from running last in a 63-query JVM session (r5 heap/GC pressure),
    # so the number is only round-over-round comparable at a fixed, fresh
    # position (VERDICT r5 #4)
    "gen_records_1m",
    "q1_scan_count",
    "q3_keyed_count",
    "q8_inner_join",
    "q10_anti_join",
    "q12_topk_per_key",
    "q14_lag_delta",
    "q17_json_extract",
    "text_quality",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "dedup_embedding",
    "sim_topk_brute",
    "sim_ivf_multiprobe",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "sim_pq_rerank",
    "win_tumbling_hour",
    "win_session_30m",
    "win_gapfill_hours",
    "win_range_frame",
    "dedup_edit_distance",
    "text_decontaminate",
    "q_pricing_summary",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "text_tfidf_topk",
    "pipeline_curation",
    "pipeline_training_mix",
    "seq_funnel",
    "cdc_latest_state",
    "text_chunking",
    "pipeline_pack_sequences",
    "pipeline_end_to_end",
    "dedup_bloom_prefilter",
    "dedup_semantic",
    "dedup_incremental",
    "text_bigram_lm",
    "corpus_snapshot_diff",
    "vocab_bpe_merges",
    "rag_chunk_topk",
    "agg_heavy_hitters",
    "dedup_semantic_kmeans",
    "text_langid_ngram",
    "dedup_cdc_chunks",
    "graph_pagerank_dups",
    "sample_split_leakage",
    "dedup_substring_spans",
    "join_bloom_runtime",
    "dedup_components_lss",
    "agg_quantile_sketch",
    "join_point_in_time",
    "seq_funnel_windowed",
    "layout_skipping_ab",
    "rag_hybrid_rrf",
    "graph_triangles",
    "sim_matryoshka_recall",
    "pipeline_feature_matrix",
    "dedup_cross_lingual",
    "sample_hard_negatives",
    "feat_winsorize",
    "vocab_oov_rate",
    "dedup_lsh_capped",
    "text_trigram_backoff_lm",
    # the end-to-end crawl-dedup flagship (capped LSH -> verify ->
    # components -> anti-join) and its sampled twin, benched next to the
    # capped pair query so the composed cost is a tracked number
    "dedup_keepers_capped",
    "dedup_lsh_sampled",
    # asymmetric containment (rare-shingle blocking) + the probe-panel
    # density estimator — the r8 additions to the curation tier
    "dedup_containment",
    "sim_knn_density",
    # r8 batch 2: diversity coreset + CCNet perplexity-tier sampling
    "sample_kcenter",
    "pipeline_ccnet_buckets",
    "pipeline_ccnet_histq",  # the sort-free tier-split scale path
    # r8 batch 3: the Arrow/mapInPandas path gets a tracked number too
    "mm_audio_energy",
    # r8 batch 4: the selection tier — template strip, DSIR keep set, and
    # the covariance-free power-iteration direction
    "text_boilerplate_segments",
    "pipeline_dsir_select",
    "sim_power_direction",
    "sim_fisher_dims",
    # the selection DAG composed end to end (boilerplate gate -> DSIR
    # keep -> leakage-free split) — the tier's pipeline_end_to_end analog
    "pipeline_select_compose",
    # r9: the Gopher repetition gate — three doc-local aggregations off
    # one tokenize pass, the crawl-spam filter ahead of dedup
    "text_repetition_filters",
    # r10: the production components composition — LSS kernel over the
    # hot-bucket-capped candidates (the registry-visible spelling that
    # scales past the uncapped control's 10x ceiling)
    "dedup_components_capped",
    "ivfpq_index_probe",  # probe of the PERSISTED codes-only index (below)
    "layout_pruned_read",  # manifest-pruned scan of the PERSISTED curve store
    # r12: the trained quality classifier (4 GD rounds, chained 1-row
    # weight frames) and the real-codec multimodal paths get tracked numbers
    "quality_classifier_train",
    "mm_resize_jpeg",
    "mm_audio_wav",
    # r12: exact-integer BM25 (single-tokenize postings frame) + the
    # fixed-point log-domain tier's flagship (CCNet-style cross-entropy)
    "rag_bm25_topk",
    "text_cross_entropy",
    # r13: the compressed-audio codec path (FLAC decode/verify/re-encode
    # in mapInPandas) and the rich-basis classifier (feats+weights
    # localCheckpoint, then the gauge scan)
    "mm_audio_flac",
    "quality_classifier_rich_auc",
    # r14: the stereo/LPC/multi-frame FLAC path (forced mid/side decode
    # + left/side re-encode per doc) and the compressed-text ingest loop
    # (gzip CSV write + auto-detected read + checksum)
    "mm_audio_flac_stereo",
    "io_csv_gzip_roundtrip",
    # r14: the exact-threshold prefix-filter join (the PPJoin family —
    # rare-token candidate fanout, completeness proven by its oracle)
    # and the hierarchical Merkle corpus fingerprint
    "dedup_prefix_filter_pairs",
    "datasheet_merkle_root",
    # r14 session 2: the lossy-but-replay-exact ADPCM walk, the LZW/
    # interlace GIF path, and the seeded epoch-shuffle permutation
    "mm_audio_adpcm",
    "mm_image_gif",
    "pipeline_epoch_shuffle",
    # r14 session 2b: the compressed-video (animated GIF) frame-sample
    # path and the crawl-frontier URL canonicalization pass
    "mm_video_gif_anim",
    "dedup_url_canonical",
    # r14 session 2c: the WebDataset tar-shard build+verify loop, and
    # the JVM-HOF ADPCM twin benched NEXT TO its mapInPandas spelling so
    # the Python-vs-Catalyst cost of the same recursion is a tracked pair
    "io_tar_shards_roundtrip",
    "mm_audio_adpcm_jvm",
    "text_perplexity_kn",
    "dq_dp_noisy_release",
    "io_zip_shards_roundtrip",
    "sim_maxsim_late_interaction",
    "mm_audio_ulaw",
    "mm_image_qoi",
    "pipeline_alpha_mix",
    "ts_gorilla_roundtrip",
    "io_tar_qoi_shards_roundtrip",
]

# names special-cased in _run_once rather than resolved from the registry
# (scripts/verify_driver_contract.py exempts these from its name check)
SPECIAL = {"gen_records_1m", "ivfpq_index_probe", "layout_pruned_read"}

GEN_BENCH_N = 1_000_000
# Per-query min-of-N. r6–r8 each flagged a different untouched query
# regressing 40–58% purely from ambient load (sim_matryoshka_recall r6,
# rag_hybrid_rrf r7, then a +20% BLANKET drift across 24 untouched
# queries in r8); min-of-2 could not separate noise from regressions, so
# r9 makes min-of-3 the global methodology (VERDICT r8 #2) instead of
# per-query EXTRA_RUNS whack-a-mole.
RUNS = 3

# Ambient-load sentinel: a registry-independent fixed workload (pure
# whole-stage-codegen range sum — no IO, no shuffle, no Python) that no
# round's diff can ever touch. Round-over-round comparisons divide query
# drift by sentinel drift: if the sentinel moved too, the box was loaded
# and the drift is ambient, not a plan regression (VERDICT r8 #2).
# sized for a ~1.5 s measurement: a 0.16 s sentinel was itself inside
# scheduling noise, defeating the normalization
SENTINEL_N = 4_000_000_000


def _run_sentinel(spark) -> float:
    t0 = time.perf_counter()
    # modulus keeps the running sum ~2e15 << 2^63 at any SENTINEL_N
    spark.range(SENTINEL_N).selectExpr(
        "sum(pmod(id * 3 + 1, 1000000)) AS s"
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Second sentinel with the profile the codegen one can't see (VERDICT r9
# #1: a +24% blanket drift passed a <3% codegen sentinel): a fixed
# shuffle (memory/exchange-side ambient load) + an Arrow-batched Python
# kernel (Python-worker/GC-side load). Together the two sentinels make a
# driver-vs-committed disagreement attributable from the artifacts
# alone: codegen flat + shuffle moved => memory/GC-side ambient load.
SENTINEL_SHUFFLE_N = 24_000_000


def _run_sentinel_shuffle(spark) -> float:
    import pandas as pd

    def _kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({"k": pdf["id"] % 4096, "v": pdf["id"] * 3 + 1})

    t0 = time.perf_counter()
    spark.range(SENTINEL_SHUFFLE_N).mapInPandas(
        _kernel, schema="k long, v long"
    ).groupBy("k").agg(F.sum("v").alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


# Third sentinel: DISK WRITE throughput — the axis BOTH open r12
# anomalies blamed (the red layout-write gate and the driver-run
# ivfpq_index_probe swing) while neither existing sentinel measures it
# (codegen is pure CPU, the shuffle sentinel's exchange mostly stays in
# page cache). VERDICT r12 #1: "one sentinel per resource axis you
# blame". A fixed parquet write of SENTINEL_WRITE_N deterministic rows
# across 32 files, then ONE global os.sync() so the page-cache flush is
# charged to the sentinel rather than to a later query, then rmtree.
# The files are NOT re-read (byte verification isn't the point; write
# throughput is) and there is no per-file fsync — registry-independent,
# no round's diff can touch it. (ADVICE r13: the previous comment
# claimed re-reads + per-file fsync that never happened.)
SENTINEL_WRITE_N = 8_000_000
SENTINEL_WRITE_PATH = "/tmp/bench_write_sentinel"


def _box_snapshot() -> dict:
    """Direct box-state evidence alongside the sentinels (VERDICT r13
    #9): /proc/loadavg + MemAvailable, captured at run start AND end, so
    future ambient attributions don't rest solely on the sentinels'
    indirect workload-shaped evidence."""
    snap: dict = {}
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    snap["mem_available_kb"] = int(line.split()[1])
                    break
    except OSError:  # non-Linux fallback: fields absent, never fatal
        pass
    return snap


def _run_sentinel_write(spark) -> float:
    import shutil

    shutil.rmtree(SENTINEL_WRITE_PATH, ignore_errors=True)
    t0 = time.perf_counter()
    (
        spark.range(SENTINEL_WRITE_N)
        .selectExpr(
            "id",
            "id * 2654435761 % 1000000007 AS h",
            "repeat('x', 24) AS pad",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(SENTINEL_WRITE_PATH)
    )
    os.sync()  # charge the page-cache flush to the sentinel, not a later query
    dt = time.perf_counter() - t0
    shutil.rmtree(SENTINEL_WRITE_PATH, ignore_errors=True)
    return dt

# the production ANN read path: the cluster-partitioned PQ-code index is
# built ONCE outside the timer (a real deployment has it prebuilt by the
# ingest job); the benched work is the probe — centroid scoring, partition-
# pruned codes scan (PartitionFilters), broadcast ADC tables, top-k
IVFPQ_INDEX_PATH = "/tmp/bench_ivfpq_index"


def _prepare_ivfpq_index(spark) -> None:
    from console_datagen_spark.operators.ivf_index import build_ivfpq_index

    build_ivfpq_index(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), IVFPQ_INDEX_PATH
    )


# the production data-skipping read path: the curve-clustered store +
# min/max manifest is written ONCE outside the timer (a deployment's
# OPTIMIZE job); the benched work is the pruned read — manifest envelope
# test, partition-pruned bucket scan, residual predicate
CURVE_STORE_PATH = "/tmp/bench_curve_store"
CURVE_RANGES = {"ok16": (4096, 8191), "pk16": (4096, 8191)}


def _prepare_curve_store(spark) -> None:
    from pyspark.sql import functions as F

    from console_datagen_spark.operators.layout_store import write_curve_layout
    from console_datagen_spark.plans.layout import _morton_sql

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ext = li.agg(
        (F.max("l_orderkey") + 1).alias("mok"), (F.max("l_partkey") + 1).alias("mpk")
    )
    base = li.crossJoin(F.broadcast(ext)).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        F.expr("CAST(CAST(l_orderkey AS BIGINT) * 65536 DIV mok AS BIGINT)").alias(
            "ok16"
        ),
        F.expr("CAST(CAST(l_partkey AS BIGINT) * 65536 DIV mpk AS BIGINT)").alias(
            "pk16"
        ),
    )
    write_curve_layout(
        base,
        CURVE_STORE_PATH,
        curve=F.expr(_morton_sql("ok16", "pk16", "spark")),
        dims=["ok16", "pk16"],
    )


def _run_once(spark, registry, name: str) -> float:
    # the timer covers query CONSTRUCTION too: several dedup plans
    # persist+materialize intermediate frames while building, and that
    # work belongs in the measurement (the dedup plans release their
    # cache slots on entry, so every run pays the full cold pipeline)
    t0 = time.perf_counter()
    if name == "gen_records_1m":
        from console_datagen_spark.sources.generator import generate_batch

        df = generate_batch(spark, GEN_BENCH_N)
    elif name == "ivfpq_index_probe":
        from console_datagen_spark.operators.ivf_index import probe_ivfpq_index

        df = probe_ivfpq_index(
            spark,
            IVFPQ_INDEX_PATH,
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
        )
    elif name == "layout_pruned_read":
        from console_datagen_spark.operators.layout_store import pruned_read

        df = pruned_read(spark, CURVE_STORE_PATH, CURVE_RANGES)
    else:
        df = registry[name].spark(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    box_start = _box_snapshot()
    # Spark's local-mode default driver heap is 1g; the r9 headline list
    # (80 queries x min-of-3 in ONE session) OOMed it mid-run — size the
    # lone JVM like the scale probe does rather than shrinking the bench
    spark = get_spark(
        app_name="console-datagen-spark-bench",
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_BENCH_DRIVER_MEM", "8g"
            )
        },
    )
    registry = all_queries()
    # warm the JVM + parquet footers with one tiny action
    registry["q1_scan_count"].spark(spark, SF_DIR).count()
    _prepare_ivfpq_index(spark)
    _prepare_curve_store(spark)

    # sentinels measured at the same pinned position every round (right
    # after the preps, before any headline query)
    def _spread(samples: list[float]) -> list[float]:
        s = sorted(samples)
        return [round(s[0], 3), round(s[len(s) // 2], 3), round(s[-1], 3)]

    sentinel_runs = [_run_sentinel(spark) for _ in range(RUNS)]
    sentinel = round(min(sentinel_runs), 3)
    sentinel_shuffle_runs = [_run_sentinel_shuffle(spark) for _ in range(RUNS)]
    sentinel_write_runs = [_run_sentinel_write(spark) for _ in range(RUNS)]

    from console_datagen_spark.caching import release_all_cache_slots

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    extras: dict[str, float] = {}
    for name in HEADLINE:
        samples = [_run_once(spark, registry, name) for _ in range(RUNS)]
        timings[name] = round(min(samples), 3)
        spreads[name] = _spread(samples)
        # drop every pipeline's held cache before the next query: each
        # run rebuilds its own cache inside the timer anyway, and ~80
        # queries' worth of resident frames is what OOMed the session
        release_all_cache_slots()
        if name == "gen_records_1m":
            # reference baseline: 630 msg/s aggregate (BASELINE.md)
            extras["gen_records_per_sec"] = round(GEN_BENCH_N / timings[name])

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else SF_DIR,
        "runs": RUNS,
        # fixed codegen-only workload, min-of-RUNS: normalizes
        # round-over-round drift (ambient load moves this too; a plan
        # regression does not)
        "sentinel_sec": sentinel,
        "sentinel_n": SENTINEL_N,
        # second sentinel: fixed shuffle + Arrow-Python kernel — catches
        # the memory/GC/shuffle-side ambient load the codegen sentinel is
        # blind to (VERDICT r9 #1)
        "sentinel_shuffle_sec": round(min(sentinel_shuffle_runs), 3),
        "sentinel_shuffle_n": SENTINEL_SHUFFLE_N,
        # third sentinel: fixed parquet write + sync — the disk-write
        # axis the r12 anomalies blamed unfalsifiably (VERDICT r12 #1)
        "sentinel_write_sec": round(min(sentinel_write_runs), 3),
        "sentinel_write_n": SENTINEL_WRITE_N,
        "sentinel_spread": _spread(sentinel_runs),
        "sentinel_shuffle_spread": _spread(sentinel_shuffle_runs),
        "sentinel_write_spread": _spread(sentinel_write_runs),
        # per-query [min, median, max] over the RUNS samples: spread >>
        # min-drift identifies ambient noise per query, inside ONE
        # artifact, with no cross-artifact narrative needed
        "query_spread": spreads,
        # direct box-state evidence (load + free memory, start/end) so
        # ambient attribution has a non-sentinel witness (VERDICT r13 #9)
        "box_start": box_start,
        "box_end": _box_snapshot(),
        **extras,
    }
    # self-contained committed copy: the driver's capture window has
    # truncated the head of this line before (VERDICT r8 #4)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"),
        "w",
    ) as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    # r15 bench-contract hardening (VERDICT r14 #4): the r13 one-line JSON
    # was truncated by the driver's tail capture, losing the whole
    # round-over-round comparison. The printed line carries per-query
    # MINS plus the scalar sentinels only — O(queries) long — and prints
    # STRICTLY LAST, after spark.stop() so no executor chatter trails it;
    # the finally makes a failing stop unable to swallow the line. The
    # spreads/box snapshots stay in the committed BENCH_full.json. No
    # timing methodology changed: same queries, same min-of-RUNS.
    slim = {
        k: v
        for k, v in payload.items()
        if k
        not in (
            "query_spread",
            "sentinel_spread",
            "sentinel_shuffle_spread",
            "sentinel_write_spread",
            "box_start",
            "box_end",
        )
    }
    try:
        spark.stop()
    finally:
        sys.stdout.flush()
        print(json.dumps(slim))


if __name__ == "__main__":
    main()
