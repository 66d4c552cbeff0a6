"""Interleaved same-session A/B for the r15 batch-1 rewrites.

Variant pairs (old spelling replicated inline vs the committed new one):
  tri_old / tri_new  — graph_triangles: id-ordered wedge join vs
                       degree-ordered orientation
  sc_old  / sc_new   — pipeline_select_compose: two scan+split passes vs
                       the shared held token frame
  e2e_old / e2e_new  — pipeline_end_to_end: the pure-CTE SQL run directly
                       vs through the registry (the materialized-base
                       rewrite lost this A/B and was removed, so both
                       now run the same plan)

Old variants reproduce the r14 plan spelling over the SAME current
operators, so the pair differs only in the rewrite under test. Prints
sorted samples per variant + min-of-3 shuffle sentinel.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from console_datagen_spark.caching import CacheSlot, release_all_cache_slots
from console_datagen_spark.catalog import register_views
from console_datagen_spark.plans import all_queries
from console_datagen_spark.plans.chunking import _E2E_SPARK
from console_datagen_spark.plans.dedup import DOCS, _minhash_pairs_raw
from console_datagen_spark.session import get_spark

SF = bench.SF_DIR
_slot = CacheSlot()


def tri_old(spark):
    _slot.release()
    pairs = _slot.hold(_minhash_pairs_raw(spark, SF))
    e = pairs.select("doc_a", "doc_b")
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    deg = (
        e.selectExpr("doc_a AS v")
        .unionAll(e.selectExpr("doc_b AS v"))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    shape = deg.groupBy().agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.expr("CAST(SUM(d * (d - 1) DIV 2) AS BIGINT)").alias("n_wedges"),
    )
    edges = e.groupBy().agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        edges.crossJoin(shape)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 0 "
                "ELSE 3 * n_triangles * 1000 DIV n_wedges END AS BIGINT)"
            ).alias("clustering_permille"),
        )
    )


def tri_var(spark, deg_hold, o_mode):
    """Oriented kernel with tunable holds: deg_hold in (None, 'lazy'),
    o_mode in ('lazy', 'eager')."""
    _slot.release()
    pairs = _slot.hold(_minhash_pairs_raw(spark, SF))
    e = pairs.select("doc_a", "doc_b")
    deg = (
        e.selectExpr("doc_a AS v")
        .unionAll(e.selectExpr("doc_b AS v"))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    if deg_hold == "lazy":
        deg = _slot.hold(deg, materialize=False)
    da = deg.select(F.col("v").alias("doc_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("d").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        F.col("deg_a") == F.col("deg_b")
    )
    oriented = (
        e.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dd"),
        )
    )
    o = _slot.hold(oriented, materialize=(o_mode == "eager"))
    w1 = o.select(
        F.col("src").alias("x"), F.col("dst").alias("y"), F.col("dd").alias("dy")
    )
    w2 = o.select(
        F.col("src").alias("x"), F.col("dst").alias("z"), F.col("dd").alias("dz")
    )
    closing = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = (
        w1.join(w2, "x")
        .where(
            (F.col("dy") < F.col("dz"))
            | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
        )
        .join(closing, ["y", "z"])
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    shape = deg.groupBy().agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.expr("CAST(SUM(d * (d - 1) DIV 2) AS BIGINT)").alias("n_wedges"),
    )
    edges = e.groupBy().agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        edges.crossJoin(shape)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 0 "
                "ELSE 3 * n_triangles * 1000 DIV n_wedges END AS BIGINT)"
            ).alias("clustering_permille"),
        )
    )


def sc_old(spark):
    """The r14 _select_compose: independent scan+split for seg and DSIR."""
    from console_datagen_spark.functions.hashing import bucket_sql_spark
    from console_datagen_spark.functions.spread import spread
    from console_datagen_spark.plans.extras import _NORM_SPARK
    from console_datagen_spark.plans.text_analysis import (
        _BP_MIN_DOCS,
        _BP_SEG,
        _SC_MAX_BP,
        _SC_SEED,
        _SC_TOPN,
        _bp_segment_ids_expr,
        _dsir_score_frame,
    )

    _slot.release()
    docs = register_views(spark, SF, DOCS)["documents"]
    seg = (
        spread(docs)
        .select("doc_id", F.split("text", " ").alias("l"))
        .where(F.size("l") >= _BP_SEG)
        .select("doc_id", F.explode(F.expr(_bp_segment_ids_expr())).alias("tid"))
    )
    pd_seg = _slot.hold(seg.groupBy("doc_id", "tid").agg(F.count("*").alias("cnt")))
    boiler = (
        pd_seg.groupBy("tid")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= _BP_MIN_DOCS)
        .select("tid")
    )
    tot = pd_seg.groupBy("doc_id").agg(F.sum("cnt").alias("tot"))
    binst = (
        pd_seg.join(F.broadcast(boiler), "tid")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("binst"))
    )
    bp = (
        docs.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(binst, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN tot IS NULL THEN CAST(0 AS BIGINT) "
                "ELSE CAST(COALESCE(binst, 0) * 1000 DIV tot AS BIGINT) END"
            ).alias("bp"),
        )
    )
    survivors = bp.where(F.col("bp") <= _SC_MAX_BP).select("doc_id")
    keep = _slot.hold(
        survivors.join(_dsir_score_frame(docs), "doc_id")
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(_SC_TOPN)
    )
    g = keep.join(
        docs.select("doc_id", F.expr(_NORM_SPARK).alias("gkey")), "doc_id"
    ).select(
        "gkey",
        "dsir_score",
        F.expr(
            f"CASE WHEN {bucket_sql_spark('gkey', _SC_SEED)} < 800 THEN 'train' "
            f"WHEN {bucket_sql_spark('gkey', _SC_SEED)} < 900 THEN 'val' "
            "ELSE 'test' END"
        ).alias("split"),
    )
    leaky = (
        g.groupBy("gkey")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("n_leaky_groups")
        )
    )
    return (
        g.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("gkey").cast("long").alias("n_groups"),
            F.sum("dsir_score").cast("long").alias("sum_dsir"),
        )
        .crossJoin(F.broadcast(leaky))
        .orderBy("split")
    )


def e2e_old(spark):
    register_views(spark, SF, DOCS)
    return spark.sql(
        _E2E_SPARK.replace("__PAR__", str(spark.sparkContext.defaultParallelism))
    )


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="ab-r15", extra_conf={"spark.driver.memory": "8g"})
    registry = all_queries()
    register_views(spark, SF, DOCS)["documents"].count()
    new = {
        "tri_new": "graph_triangles",
        "sc_new": "pipeline_select_compose",
        "e2e_new": "pipeline_end_to_end",
    }
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    variants = {
        "tri_old": lambda: tri_old(spark),
        "tri_new": lambda: registry["graph_triangles"].spark(spark, SF),
        "tri_dlazy_oeager": lambda: tri_var(spark, "lazy", "eager"),
        "tri_dlazy_olazy": lambda: tri_var(spark, "lazy", "lazy"),
        "sc_old": lambda: sc_old(spark),
        "sc_new": lambda: registry["pipeline_select_compose"].spark(spark, SF),
        "e2e_old": lambda: e2e_old(spark),
        "e2e_new": lambda: registry["pipeline_end_to_end"].spark(spark, SF),
    }
    if only:
        variants = {k: v for k, v in variants.items() if k in only}
    out = {k: [] for k in variants}
    for _ in range(runs):
        for k, fn in variants.items():
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            out[k].append(round(time.perf_counter() - t0, 3))
            release_all_cache_slots()
    out = {k: sorted(v) for k, v in out.items()}
    out["sentinel_shuffle"] = round(
        min(bench._run_sentinel_shuffle(spark) for _ in range(3)), 3
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
