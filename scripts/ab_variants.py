#!/usr/bin/env python
"""Interleaved same-process A/B harness (VERDICT r16 item 1 protocol):
time N interleaved rounds of named DataFrame-builder variants through
the noop sink and emit one JSON line with every sample, so keep/revert
decisions rest on alternating pairs measured in one host phase, not on
cross-session comparisons.

Usage: python scripts/ab_variants.py <suite> [--rounds 6] [--sf DIR] [--out FILE]

Suites are defined in this file: each is a dict of variant-name →
builder(spark, sf_dir) → DataFrame. The per-round variant order rotates
so no variant systematically lands on the warm (or busy) phase.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


# ---------------------------------------------------------------- suites
def _simhash_r16(spark, sf_dir):
    """The r16 shape: guard + explode + groupBy(doc_id, term)."""
    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.plans.textops import SIMHASH_BITS
    from data_engineering_rag_spark.operators.scale import ensure_scan_parallelism
    from data_engineering_rag_spark.operators.tfidf import TOKEN_PATTERN

    d = ensure_scan_parallelism(load(spark, sf_dir, "documents"), label="ab")
    tok = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    h = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
    th = tok.select("doc_id", "tf", h.alias("h"))
    weights = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), F.col("tf")).otherwise(
                    -F.col("tf")
                )
            ).alias(f"w{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig_expr = " + ".join(f"IF(w{b} > 0, {1 << b}L, 0L)" for b in range(SIMHASH_BITS))
    return weights.select("doc_id", F.expr(sig_expr).cast("long").alias("simhash"))


def _simhash_r17(spark, sf_dir):
    """HEAD shape: guard + run-length tf kernel."""
    from data_engineering_rag_spark.plans.textops import _simhash_signatures

    return _simhash_signatures(spark, sf_dir, hash_mode="md5")


def _simhash_r17_noguard(spark, sf_dir):
    """HEAD shape with the scan guard disabled (identity)."""
    import data_engineering_rag_spark.operators.scale as scale
    from data_engineering_rag_spark.plans.textops import _simhash_signatures

    orig = scale.ensure_scan_parallelism
    scale.ensure_scan_parallelism = lambda df, *a, **k: df
    try:
        return _simhash_signatures(spark, sf_dir, hash_mode="md5")
    finally:
        scale.ensure_scan_parallelism = orig


def _registry_builder(name):
    def build(spark, sf_dir):
        from data_engineering_rag_spark.plans import REGISTRY

        return REGISTRY[name].spark(spark, sf_dir)

    return build


def _noguard(builder):
    def build(spark, sf_dir):
        import data_engineering_rag_spark.operators.scale as scale

        orig = scale.ensure_scan_parallelism
        scale.ensure_scan_parallelism = lambda df, *a, **k: df
        try:
            return builder(spark, sf_dir)
        finally:
            scale.ensure_scan_parallelism = orig

    return build


SUITES = {
    "simhash": {
        "r16_explode_groupby": _simhash_r16,
        "r17_runlength": _simhash_r17,
        "r17_runlength_noguard": _simhash_r17_noguard,
    },
    "tfidf": {
        "search_ckpt": _registry_builder("tfidf_search_topk"),
        "search_persist": None,  # filled below
        "search_nomat": None,
        "multi_ckpt": _registry_builder("tfidf_multiquery_topk"),
        "multi_persist": None,
        "multi_nomat": None,
    },
}


def _jaccard_variant(tris_mode, cand_mode, tris_mat="ckpt", prefix_mat="none"):
    """Jaccard shapes: tris build (r16 explode+distinct vs r17
    array_distinct) x candidate generation (r16 self-join vs r17
    pair-from-sorted-list) x materialization of tris (ckpt/persist)
    and of the twice-evaluated prefix table (none/persist)."""

    def build(spark, sf_dir):
        from pyspark.sql.window import Window

        from data_engineering_rag_spark.plans import load
        from data_engineering_rag_spark.plans.linkageq import PPJ_TAU_DEN, PPJ_TAU_NUM
        from data_engineering_rag_spark.operators.tfidf import TOKEN_PATTERN
        from pyspark import StorageLevel

        from data_engineering_rag_spark.operators.scale import (
            durable_checkpoint as _ckpt,
            ensure_scan_parallelism,
        )

        durable_checkpoint = (
            _ckpt
            if tris_mat == "ckpt"
            else (lambda df, *a, **k: df.persist(StorageLevel.MEMORY_AND_DISK))
        )

        d = ensure_scan_parallelism(load(spark, sf_dir, "documents"), label="ab")
        toks = d.select(
            "doc_id",
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias(
                "a"
            ),
        ).where(F.size("a") >= 3)
        if tris_mode == "r16":
            tri = F.expr(
                "concat(element_at(a, i), ' ', element_at(a, i + 1), ' ', element_at(a, i + 2))"
            )
            h = F.conv(F.substring(F.md5(tri), 1, 15), 16, 10).cast("long")
            tris = durable_checkpoint(
                toks.select(
                    "doc_id", F.explode(F.sequence(F.lit(1), F.size("a") - 2)).alias("i"), "a"
                )
                .select("doc_id", h.alias("h"))
                .distinct()
            )
        else:
            hs = F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(a) - 2), i -> cast(conv(substring("
                    "md5(concat(element_at(a, i), ' ', element_at(a, i + 1), ' ', "
                    "element_at(a, i + 2))), 1, 15), 16, 10) as bigint))"
                )
            )
            tris = durable_checkpoint(toks.select("doc_id", F.explode(hs).alias("h")))
        df_tbl = tris.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("df"))
        wdoc = Window.partitionBy("doc_id")
        ordered = (
            tris.join(df_tbl, "h")
            .withColumn("pos", F.row_number().over(wdoc.orderBy(F.col("df"), F.col("h"))))
            .withColumn("sz", F.count(F.lit(1)).over(wdoc))
        )
        prefix = ordered.where(
            F.col("pos")
            <= F.col("sz")
            - F.expr(f"({PPJ_TAU_NUM} * sz + {PPJ_TAU_DEN} - 1) div {PPJ_TAU_DEN}")
            + 1
        ).select("doc_id", "h")
        if prefix_mat == "persist":
            prefix = prefix.persist(StorageLevel.MEMORY_AND_DISK)
        if cand_mode == "r16":
            cand = (
                prefix.select(F.col("doc_id").alias("doc_a"), "h")
                .join(prefix.select(F.col("doc_id").alias("doc_b"), "h"), "h")
                .where(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct()
            )
        else:
            cand = (
                prefix.groupBy("h")
                .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
                .where(F.size("ds") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "flatten(transform(ds, (x, i) -> transform("
                            "slice(ds, i + 2, size(ds) - i - 1), "
                            "y -> struct(x AS doc_a, y AS doc_b))))"
                        )
                    ).alias("p")
                )
                .select("p.doc_a", "p.doc_b")
                .distinct()
            )
        sizes = tris.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        inter = (
            tris.select(F.col("doc_id").alias("doc_a"), "h")
            .join(cand, "doc_a")
            .join(tris.select(F.col("doc_id").alias("doc_b"), "h"), ["h", "doc_b"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
        )
        return (
            inter.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a"
            )
            .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
            .withColumn("n_union", F.col("sza") + F.col("szb") - F.col("n_inter"))
            .where(PPJ_TAU_DEN * F.col("n_inter") >= PPJ_TAU_NUM * F.col("n_union"))
            .select(
                "doc_a",
                "doc_b",
                "n_inter",
                "n_union",
                F.round(F.col("n_inter") / F.col("n_union").cast("double"), 6).alias("jaccard"),
            )
        )

    return build


SUITES["jaccard"] = {
    "tris16_cand16": _jaccard_variant("r16", "r16"),
    "tris17_cand16": _jaccard_variant("r17", "r16"),
    "tris16_cand17": _jaccard_variant("r16", "r17"),
    "tris17_cand17": _jaccard_variant("r17", "r17"),
}

# The prefix table is evaluated twice (once under a BroadcastExchange,
# so ReuseExchange can't dedupe) and the r16 eager checkpoint of it
# measured WORSE — this suite asks whether a LAZY persist (of prefix,
# of tris, or both) does better, mirroring the tf-table finding.
def _jaccard_r17b(lenfilter, cand_join, posfilter=False):
    """Second-session jaccard probes, both LOSSLESS: (a) the PPJoin
    LENGTH filter — carry sz through the prefix table and require
    DEN*min(sza,szb) >= NUM*max(sza,szb) before the candidate distinct
    (implied by the final tau filter, so results are identical; prunes
    pairs two docs of incompatible sizes would generate); (b) candidate
    join strategy — 'broadcast' (HEAD: prefix subtree evaluates twice,
    one side under a BroadcastExchange ReuseExchange can't dedupe) vs
    'shuffle_hash'/'merge' (both sides are Exchange hashpartitioning(h)
    over IDENTICAL subtrees, so ReusedExchange computes the prefix
    once and pays one narrow 16-24B/row shuffle instead)."""

    def build(spark, sf_dir):
        from pyspark.sql.window import Window

        from data_engineering_rag_spark.plans import load
        from data_engineering_rag_spark.plans.linkageq import PPJ_TAU_DEN, PPJ_TAU_NUM
        from data_engineering_rag_spark.operators.tfidf import TOKEN_PATTERN
        from data_engineering_rag_spark.operators.scale import (
            durable_checkpoint,
            ensure_scan_parallelism,
        )

        d = ensure_scan_parallelism(load(spark, sf_dir, "documents"), label="ab")
        toks = d.select(
            "doc_id",
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias(
                "a"
            ),
        ).where(F.size("a") >= 3)
        hs = F.array_distinct(
            F.expr(
                "transform(sequence(1, size(a) - 2), i -> cast(conv(substring("
                "md5(concat(element_at(a, i), ' ', element_at(a, i + 1), ' ', "
                "element_at(a, i + 2))), 1, 15), 16, 10) as bigint))"
            )
        )
        tris = durable_checkpoint(toks.select("doc_id", F.explode(hs).alias("h")))
        df_tbl = tris.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("df"))
        wdoc = Window.partitionBy("doc_id")
        ordered = (
            tris.join(df_tbl, "h")
            .withColumn("pos", F.row_number().over(wdoc.orderBy(F.col("df"), F.col("h"))))
            .withColumn("sz", F.count(F.lit(1)).over(wdoc))
        )
        need_sz = lenfilter or posfilter  # both filters compare sizes
        pref_cols = ["doc_id", "h"] + (["sz"] if need_sz else []) + (
            ["pos"] if posfilter else []
        )
        prefix = ordered.where(
            F.col("pos")
            <= F.col("sz")
            - F.expr(f"({PPJ_TAU_NUM} * sz + {PPJ_TAU_DEN} - 1) div {PPJ_TAU_DEN}")
            + 1
        ).select(*pref_cols)
        pa = prefix.select(
            F.col("doc_id").alias("doc_a"),
            "h",
            *([F.col("sz").alias("sza")] if need_sz else []),
            *([F.col("pos").alias("pa")] if posfilter else []),
        )
        pb = prefix.select(
            F.col("doc_id").alias("doc_b"),
            "h",
            *([F.col("sz").alias("szb")] if need_sz else []),
            *([F.col("pos").alias("pb")] if posfilter else []),
        )
        if cand_join != "broadcast":
            pb = pb.hint(cand_join)
        cand = pa.join(pb, "h").where(F.col("doc_a") < F.col("doc_b"))
        if lenfilter:
            cand = cand.where(
                PPJ_TAU_DEN * F.least("sza", "szb") >= PPJ_TAU_NUM * F.greatest("sza", "szb")
            )
        if posfilter:
            # PPJoin positional filter: overlap <= 1 + min(sza-pa, szb-pb)
            # at the FIRST common prefix token; required overlap o
            # satisfies (DEN+NUM)*o >= NUM*(sza+szb).
            cand = cand.where(
                (PPJ_TAU_DEN + PPJ_TAU_NUM)
                * (F.lit(1) + F.least(F.col("sza") - F.col("pa"), F.col("szb") - F.col("pb")))
                >= PPJ_TAU_NUM * (F.col("sza") + F.col("szb"))
            )
        cand = cand.select("doc_a", "doc_b").distinct()
        sizes = tris.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        inter = (
            tris.select(F.col("doc_id").alias("doc_a"), "h")
            .join(cand, "doc_a")
            .join(tris.select(F.col("doc_id").alias("doc_b"), "h"), ["h", "doc_b"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
        )
        return (
            inter.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a"
            )
            .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
            .withColumn("n_union", F.col("sza") + F.col("szb") - F.col("n_inter"))
            .where(PPJ_TAU_DEN * F.col("n_inter") >= PPJ_TAU_NUM * F.col("n_union"))
            .select(
                "doc_a",
                "doc_b",
                "n_inter",
                "n_union",
                F.round(F.col("n_inter") / F.col("n_union").cast("double"), 6).alias("jaccard"),
            )
        )

    return build


SUITES["jaccard_r17b"] = {
    "head": _registry_builder("jaccard_prefix_filter_pairs"),
    "lenf": _jaccard_r17b(True, "broadcast"),
    "shj": _jaccard_r17b(False, "shuffle_hash"),
    "shj_lenf": _jaccard_r17b(True, "shuffle_hash"),
}

# Scale leg for the adopted length filter: HEAD (now carries the
# filter) vs the pre-filter shape, at sf1 where the candidate/answer
# pair space dominates.
SUITES["jaccard_lenf_scale"] = {
    "head_lenf": _registry_builder("jaccard_prefix_filter_pairs"),
    "nolenf": _jaccard_r17b(False, "broadcast"),
}

# PPJoin POSITIONAL filter on top of the adopted length filter: at the
# first common prefix token (guaranteed in both prefixes once sizes are
# tau-compatible), overlap <= 1 + min(sza-pa, szb-pb); DuckDB census at
# sf0.1: 202.7k lenf candidates -> 72.7k lenf+posf (2.8x fewer rows
# into the verification joins), zero false negatives by construction.
SUITES["jaccard_posf"] = {
    "head_lenf": _registry_builder("jaccard_prefix_filter_pairs"),
    "posf": _jaccard_r17b(True, "broadcast", posfilter=True),
}

# Scale leg after adopting lenf+posf into HEAD: all three shapes at sf1.
SUITES["jaccard_posf_scale"] = {
    "head_posf": _registry_builder("jaccard_prefix_filter_pairs"),
    "lenf_only": _jaccard_r17b(True, "broadcast"),
    "nofilters": _jaccard_r17b(False, "broadcast"),
}

SUITES["jaccard_mat"] = {
    "head": _jaccard_variant("r17", "r16"),
    "prefix_persist": _jaccard_variant("r17", "r16", prefix_mat="persist"),
    "tris_persist": _jaccard_variant("r17", "r16", tris_mat="persist"),
    "both_persist": _jaccard_variant(
        "r17", "r16", tris_mat="persist", prefix_mat="persist"
    ),
}


def _item_cosine_variant(sym_mode, repart_ok):
    def build(spark, sf_dir):
        from pyspark.sql.window import Window

        from data_engineering_rag_spark.plans import load
        from data_engineering_rag_spark.plans.linkageq import ITEM_COS_MIN_CO, ITEM_COS_TOPK

        basket = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        if repart_ok:
            basket = basket.repartition(F.col("l_orderkey"))
        basket = basket.distinct()
        deg = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("na"))
        a = basket.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
        b = basket.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
        co = (
            a.join(b, "ok")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("long").alias("co"))
            .where(F.col("co") >= ITEM_COS_MIN_CO)
        )
        if sym_mode == "union":
            sym = co.unionByName(
                co.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "co")
            )
        else:
            sym = co.select(
                F.explode(
                    F.array(
                        F.struct(F.col("pa"), F.col("pb"), F.col("co")),
                        F.struct(
                            F.col("pb").alias("pa"), F.col("pa").alias("pb"), F.col("co")
                        ),
                    )
                ).alias("s")
            ).select("s.pa", "s.pb", "s.co")
        da = deg.select(F.col("l_partkey").alias("pa"), F.col("na").alias("na"))
        db = deg.select(F.col("l_partkey").alias("pb"), F.col("na").alias("nb"))
        scored = (
            sym.join(F.broadcast(da), "pa")
            .join(F.broadcast(db), "pb")
            .select(
                "pa",
                "pb",
                "co",
                (F.col("co") / F.sqrt(F.col("na").cast("double") * F.col("nb"))).alias("cos_sim"),
            )
        )
        wk = Window.partitionBy("pa").orderBy(F.col("cos_sim").desc(), F.col("pb"))
        return (
            scored.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") <= ITEM_COS_TOPK)
            .select(
                F.col("pa").alias("part_a"),
                F.col("pb").alias("part_b"),
                F.col("co").alias("n_cobaskets"),
                F.round("cos_sim", 6).alias("cosine"),
                F.col("rk").cast("long").alias("rank"),
            )
        )

    return build


SUITES["item_cosine"] = {
    "union_plain": _item_cosine_variant("union", False),
    "explode_plain": _item_cosine_variant("explode", False),
    "explode_repart": _item_cosine_variant("explode", True),
    "union_repart": _item_cosine_variant("union", True),
}


def _orders_rfm_variant(mode):
    def build(spark, sf_dir):
        from data_engineering_rag_spark.plans import load
        from data_engineering_rag_spark.operators.scale import (
            durable_checkpoint,
            with_global_ntile,
        )
        from pyspark import StorageLevel

        o = load(spark, sf_dir, "orders")
        rfm = o.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        if mode == "persist":
            rfm = rfm.persist(StorageLevel.MEMORY_AND_DISK)
        elif mode == "checkpoint":
            rfm = durable_checkpoint(rfm)
        r = with_global_ntile(
            rfm.select("o_custkey", "last_order"), 5, ["last_order", "o_custkey"], "r_score"
        ).select("o_custkey", "r_score")
        f = with_global_ntile(
            rfm.select("o_custkey", "freq"), 5, ["freq", "o_custkey"], "f_score"
        ).select("o_custkey", "f_score")
        m = with_global_ntile(
            rfm.select("o_custkey", "monetary"), 5, ["monetary", "o_custkey"], "m_score"
        ).select("o_custkey", "m_score")
        scored = (
            rfm.select("o_custkey", "monetary")
            .join(r, "o_custkey")
            .join(f, "o_custkey")
            .join(m, "o_custkey")
        )
        return scored.groupBy(
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("monetary").cast("double"), 2).alias("total_monetary"),
        )

    return build


SUITES["orders_rfm"] = {
    "plain": _orders_rfm_variant("plain"),
    "persist": _orders_rfm_variant("persist"),
    "checkpoint": _orders_rfm_variant("checkpoint"),
}


def _kmv_inter_probe(mode):
    """Isolate kmv_overlap_matrix's exact-intersection branch: st built
    exactly as the query does, then ni per source pair via self-join
    (head) or per-tok source-list pair emission."""

    def build(spark, sf_dir):
        from pyspark import StorageLevel

        from data_engineering_rag_spark.plans import load
        from data_engineering_rag_spark.plans.pipelineq import _crossdoc_grams

        d = load(spark, sf_dir, "documents")
        st = (
            _crossdoc_grams(spark, sf_dir)
            .join(d.select("doc_id", "source"), "doc_id")
            .select("source", F.col("gram").alias("tok"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if mode == "join":
            inter = (
                st.select(F.col("source").alias("source_a"), "tok")
                .join(st.select(F.col("source").alias("source_b"), "tok"), "tok")
                .where(F.col("source_a") < F.col("source_b"))
                .groupBy("source_a", "source_b")
                .agg(F.count(F.lit(1)).alias("ni"))
            )
        else:
            inter = (
                st.groupBy("tok")
                .agg(F.array_sort(F.collect_list("source")).alias("ss"))
                .where(F.size("ss") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "flatten(transform(ss, (x, i) -> transform("
                            "slice(ss, i + 2, size(ss) - i - 1), "
                            "y -> struct(x AS source_a, y AS source_b))))"
                        )
                    ).alias("p")
                )
                .groupBy("p.source_a", "p.source_b")
                .agg(F.count(F.lit(1)).alias("ni"))
            )
        return inter

    return build


SUITES["kmv"] = {
    "full_head": _registry_builder("kmv_overlap_matrix"),
    "inter_join": _kmv_inter_probe("join"),
    "inter_list": _kmv_inter_probe("list"),
}


def _kmv_full_variant(persist_sk, single_window, inter_mode="join"):
    """Full kmv_overlap_matrix with knobs: persist the tiny sk sketch
    (consumed by kth AND usk_in — un-persisted, the md5+top-k pipeline
    over the full gram table runs twice), and/or use one plain
    row_number window per top-k (Spark 4's WindowGroupLimit already
    local-limits before the exchange; grouped_top_k's manual two-phase
    doubles the sorts)."""

    def topk(df, group_cols, order_cols, k):
        from pyspark.sql.window import Window

        if single_window:
            w = Window.partitionBy(*group_cols).orderBy(*order_cols)
            return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
        from data_engineering_rag_spark.operators.scale import grouped_top_k

        return grouped_top_k(df, group_cols, order_cols, k)

    def build(spark, sf_dir):
        from pyspark import StorageLevel

        from data_engineering_rag_spark.plans import load
        from data_engineering_rag_spark.plans.auditq import KMV_K, KMV_SALT, KMV_SPACE
        from data_engineering_rag_spark.plans.pipelineq import _crossdoc_grams

        d = load(spark, sf_dir, "documents")
        st = (
            _crossdoc_grams(spark, sf_dir)
            .join(d.select("doc_id", "source"), "doc_id")
            .select("source", F.col("gram").alias("tok"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        hashed = st.select(
            "source",
            "tok",
            F.conv(
                F.substring(F.md5(F.concat(F.lit(KMV_SALT), F.col("tok"))), 1, 15), 16, 10
            )
            .cast("long")
            .alias("h"),
        )
        est_of = lambda nk, hk: F.when(nk < KMV_K, nk.cast("double")).otherwise(  # noqa: E731
            (KMV_K - 1) * F.lit(KMV_SPACE) / hk
        )
        sk = topk(hashed.select("source", "h"), ["source"], ["h"], KMV_K).drop("rn")
        if persist_sk:
            sk = sk.persist(StorageLevel.MEMORY_AND_DISK)
        kth = sk.groupBy("source").agg(est_of(F.count(F.lit(1)), F.max("h")).alias("est"))
        srcs = st.select("source").distinct()
        pairs = (
            srcs.select(F.col("source").alias("source_a"))
            .crossJoin(srcs.select(F.col("source").alias("source_b")))
            .where(F.col("source_a") < F.col("source_b"))
        )
        usk_in = (
            sk.select(F.col("source").alias("_s"), "h")
            .join(
                F.broadcast(pairs),
                (F.col("_s") == F.col("source_a")) | (F.col("_s") == F.col("source_b")),
            )
            .select("source_a", "source_b", "h")
            .distinct()
        )
        usk = topk(usk_in, ["source_a", "source_b"], ["h"], KMV_K).drop("rn")
        ukth = usk.groupBy("source_a", "source_b").agg(
            est_of(F.count(F.lit(1)), F.max("h")).alias("uest")
        )
        per_src = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        if inter_mode == "join":
            inter = (
                st.select(F.col("source").alias("source_a"), "tok")
                .join(st.select(F.col("source").alias("source_b"), "tok"), "tok")
                .where(F.col("source_a") < F.col("source_b"))
                .groupBy("source_a", "source_b")
                .agg(F.count(F.lit(1)).alias("ni"))
            )
        else:
            inter = (
                st.groupBy("tok")
                .agg(F.array_sort(F.collect_list("source")).alias("ss"))
                .where(F.size("ss") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "flatten(transform(ss, (x, i) -> transform("
                            "slice(ss, i + 2, size(ss) - i - 1), "
                            "y -> struct(x AS source_a, y AS source_b))))"
                        )
                    ).alias("p")
                )
                .groupBy("p.source_a", "p.source_b")
                .agg(F.count(F.lit(1)).alias("ni"))
            )
        out = (
            pairs.join(inter, ["source_a", "source_b"], "left")
            .join(
                per_src.select(F.col("source").alias("source_a"), F.col("n").alias("na")),
                "source_a",
            )
            .join(
                per_src.select(F.col("source").alias("source_b"), F.col("n").alias("nb")),
                "source_b",
            )
            .join(ukth, ["source_a", "source_b"])
            .join(
                kth.select(F.col("source").alias("source_a"), F.col("est").alias("esta")),
                "source_a",
            )
            .join(
                kth.select(F.col("source").alias("source_b"), F.col("est").alias("estb")),
                "source_b",
            )
            .withColumn("ni", F.coalesce(F.col("ni"), F.lit(0)))
        )
        return out.select(
            "source_a",
            "source_b",
            (F.col("na") + F.col("nb") - F.col("ni")).cast("long").alias("n_exact_union"),
            F.col("ni").cast("long").alias("n_exact_inter"),
            F.round(
                F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni")), 6
            ).alias("exact_jaccard"),
            F.round(F.col("uest"), 4).alias("est_union"),
            F.round((F.col("esta") + F.col("estb") - F.col("uest")) / F.col("uest"), 6).alias(
                "est_jaccard"
            ),
        )

    return build


SUITES["kmv_full"] = {
    "head": _kmv_full_variant(False, False),
    "persist_sk": _kmv_full_variant(True, False),
    "single_window": _kmv_full_variant(False, True),
    "both": _kmv_full_variant(True, True),
    "both_interlist": _kmv_full_variant(True, True, inter_mode="list"),
}


def _with_tf_materialization(builder, mode):
    """Run a builder with operators.scale.durable_checkpoint swapped for
    persist() or identity — isolates the tf-table materialization
    strategy while keeping everything else at HEAD."""

    def build(spark, sf_dir):
        import data_engineering_rag_spark.operators.scale as scale
        from pyspark import StorageLevel

        orig = scale.durable_checkpoint
        if mode == "persist":
            scale.durable_checkpoint = lambda df, *a, **k: df.persist(
                StorageLevel.MEMORY_AND_DISK
            )
        elif mode == "none":
            scale.durable_checkpoint = lambda df, *a, **k: df
        try:
            return builder(spark, sf_dir)
        finally:
            scale.durable_checkpoint = orig

    return build


# sf10 re-check suites (VERDICT r16 item 6): the checkpoint-vs-none
# question at a scale where the corpus pass dominates. Kept to the two
# shapes per query that answer it, so an interleaved ≥3-pair run fits a
# quiet host window.
SUITES["tfidf_sf10"] = {
    "search_ckpt": _registry_builder("tfidf_search_topk"),
    "search_persist": _with_tf_materialization(
        _registry_builder("tfidf_search_topk"), "persist"
    ),
    "search_nomat": _with_tf_materialization(
        _registry_builder("tfidf_search_topk"), "none"
    ),
    "multi_ckpt": _registry_builder("tfidf_multiquery_topk"),
    "multi_persist": _with_tf_materialization(
        _registry_builder("tfidf_multiquery_topk"), "persist"
    ),
    "multi_nomat": _with_tf_materialization(
        _registry_builder("tfidf_multiquery_topk"), "none"
    ),
}
# Same scale-hazard class as the tf table: lsh_ml's checkpointed
# vector table scales with the corpus. ckpt vs lazy persist vs none.
SUITES["lshml_mat"] = {
    "head_ckpt": _registry_builder("ml_minhash_similarity_join"),
    "persist": _with_tf_materialization(
        _registry_builder("ml_minhash_similarity_join"), "persist"
    ),
    "nomat": _with_tf_materialization(
        _registry_builder("ml_minhash_similarity_join"), "none"
    ),
}
SUITES["jaccard_sf10"] = {
    "head_ckpt": _registry_builder("jaccard_prefix_filter_pairs"),
    "head_persist": _with_tf_materialization(
        _registry_builder("jaccard_prefix_filter_pairs"), "persist"
    ),
    "head_nomat": _with_tf_materialization(
        _registry_builder("jaccard_prefix_filter_pairs"), "none"
    ),
}

SUITES["tfidf"]["search_persist"] = _with_tf_materialization(
    _registry_builder("tfidf_search_topk"), "persist"
)
SUITES["tfidf"]["search_nomat"] = _with_tf_materialization(
    _registry_builder("tfidf_search_topk"), "none"
)
SUITES["tfidf"]["multi_persist"] = _with_tf_materialization(
    _registry_builder("tfidf_multiquery_topk"), "persist"
)
SUITES["tfidf"]["multi_nomat"] = _with_tf_materialization(
    _registry_builder("tfidf_multiquery_topk"), "none"
)


def main() -> None:
    args = sys.argv[1:]
    rounds, sf_dir, out, names = 6, os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    ), None, []
    while args:
        a = args.pop(0)
        if a == "--rounds":
            rounds = int(args.pop(0))
        elif a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--out":
            out = args.pop(0)
        else:
            names.append(a)
    suite = SUITES[names[0]]

    from data_engineering_rag_spark.session import get_spark

    spark = get_spark(app_name=f"ab_{names[0]}")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py's JVM warm-up
    from data_engineering_rag_spark.plans import REGISTRY

    REGISTRY["q1_pricing_summary"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for builder in suite.values():  # one discarded warm rep per variant
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {k: [] for k in suite}
    keys = list(suite)
    for r in range(rounds):
        order = keys[r % len(keys):] + keys[: r % len(keys)]  # rotate
        for k in order:
            spark.sparkContext.setJobDescription(f"ab:{names[0]}:{k}:round{r}")
            t0 = time.perf_counter()
            suite[k](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[k].append(round(time.perf_counter() - t0, 3))
    result = {
        "suite": names[0],
        "sf_dir": sf_dir,
        "rounds": rounds,
        "samples": samples,
        "medians": {k: round(statistics.median(v), 3) for k, v in samples.items()},
    }
    line = json.dumps(result)
    print(line)
    if out:
        with open(out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
