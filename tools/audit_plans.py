"""Physical-plan audit: capture the scale-relevant facts of each headline
query's executed plan into BENCH/PLANS.md.

    python tools/audit_plans.py [--sf /root/testdata/sf0.01]

For every audited query: join strategies (broadcast vs shuffle, build
side, null-awareness), pushed filters at the parquet scans, whole-stage
codegen coverage, exchange count (shuffles), and any scale red flags
(CartesianProduct, null-aware anti join, row-at-a-time Python).

A query that needs the reference inputs (``fixtures.ReferenceMissing``)
is skipped when they are absent, as in tools/check_oracle.py: the tool
prints ``SKIP <name>: <reason>``, and the table row says it was skipped.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

AUDITED = [
    "extract_fixture_spans", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "customers_no_big_order", "top_customers_window",
    "dedup_minhash_lsh", "simhash_neardup_pairs", "ngram_jaccard_pairs",
    "ann_topk_brute", "ann_topk_lsh", "ann_topk_multiprobe", "ann_topk_ivf",
    "events_by_segment_salted", "dedup_components",
    "dedup_components_distributed",  # driver_threshold=0: the scale path
    "render_pagexml",
    "events_asof_order", "events_value_bands", "token_stats_bpe",
    "events_hypertable_rollup", "distinct_users_kmv", "q4_order_priority",
    "q13_customer_distribution", "q16_parts_supplier_breadth",
    "corpus_filter", "sample_split", "split_leakage",
    "events_value_quantiles", "embedding_centroids",
    "tfidf_top_terms", "ann_topk_multitable", "bm25_search",
    "events_funnel", "repetition_stats", "contamination_check",
    "lm_score", "dedup_keep_list", "media_phash_clusters",
    "events_cohort_retention", "stratified_sample",
    "events_rolling_7d_users", "quarantine_reasons",
    "events_key_skew", "embedding_outliers",
    "substring_dedup", "pii_scrub", "curate_attrition",
    "chunk_documents", "seq_pack_stats", "embedding_sq8",
    "top_terms_by_source", "source_overlap_matrix",
    "shard_manifest", "mixture_weights", "curate_attrition_incr",
    "vocab_coverage", "neardup_verified_pairs", "ann_recall_eval",
    "seq_pack_plan",
    "events_anomaly_days",
    # r6: full coverage — every queries() entry is audited (r5 VERDICT #5)
    "dedup_exact", "doc_fingerprint", "embedding_buckets",
    "embedding_neardup", "events_props_stats", "events_sessionize",
    "events_tumbling_hour", "extract_synth_corpus", "lang_id",
    "minhash_signatures", "multimodal_features", "multimodal_meta",
    "quality_score", "simhash_clusters", "token_stats",
    "extract_workspace_spans",  # r6: METS workspace source
    "quarantine_oversize",  # r6: Arrow row-limit (PayloadTooLarge) guard
]

# streaming drains: no batch DataFrame to explain — each drain records its
# FINAL microbatch's formatted executed plan in streaming.LAST_STREAM_PLANS
# (captured from StreamExecution.lastExecution) and the audit reads it back
STREAMING_AUDITED = [
    "events_sessionize_streamed", "events_tumbling_streamed",
    "events_stream_dedup", "stream_neardup_screen",
    "stream_pii_screen", "stream_quality_gate",
]

RED_FLAGS = (
    "CartesianProduct",
    "BatchEvalPython",     # row-at-a-time Python UDF
)


def summarize(plan: str) -> dict:
    # formatted explain: details section lists every operator ONCE as
    # "(<id>) <Operator> [codegen id : N]" — parse that for exact counts
    ops = dict(re.findall(r"^\((\d+)\) (\w+)", plan, re.M))
    joins = []
    for oid, op in sorted(ops.items(), key=lambda kv: int(kv[0])):
        if op.endswith("Join"):
            detail = re.search(
                rf"^\({oid}\) {op}.*?(?:\n\n|\Z)", plan, re.M | re.S)
            side = ""
            if detail:
                m = re.search(r"Join type: (\w+)", detail.group(0))
                b = re.search(r"Build(Left|Right)", detail.group(0))
                side = (m.group(1) if m else "") + (
                    f", Build{b.group(1)}" if b else "")
            joins.append(f"{op}" + (f" ({side})" if side else ""))
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p]
    return {
        "joins": joins[:6],
        "n_exchanges": sum(1 for op in ops.values() if op == "Exchange"),
        "n_codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": list(dict.fromkeys(pushed))[:3],
        "null_aware_anti": bool(
            re.search(r"LeftAnti, BuildRight, true", plan)
            or re.search(r"Join type: LeftAnti.*null-aware", plan)),
        "flags": [f for f in RED_FLAGS if f in plan],
        "arrow_eval": sum(1 for op in ops.values()
                          if "Arrow" in op or "MapInArrow" in op),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from t2p_spark.fixtures import ReferenceMissing

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        # static plans for the audit: AQE's pre-execution AdaptiveSparkPlan
        # hides codegen ids and the final join strategies
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    queries = entrymod.queries()
    # full-coverage invariant (r5 VERDICT #5): a queries() entry absent
    # from both audit lists must fail the tool, not silently skip —
    # otherwise a new query ships without a plan audit.
    covered = set(AUDITED) | set(STREAMING_AUDITED) | {
        "dedup_components_distributed"}
    uncovered = sorted(set(queries) - covered)
    assert not uncovered, f"queries missing from plan audit: {uncovered}"
    lines = [
        "# BENCH/PLANS — physical-plan audit (generated by tools/audit_plans.py)",
        "",
        f"Scale facts of each headline query's executed plan at {args.sf}.",
        "Red flags screened: CartesianProduct, row-at-a-time Python "
        "(BatchEvalPython), null-aware anti joins (broadcast-forced).",
        "",
        "| query | joins | shuffles | codegen stages | arrow kernels | "
        "pushed filters | red flags |",
        "|---|---|---|---|---|---|---|",
    ]
    any_flag = False
    for name in AUDITED:
        if name == "dedup_components_distributed":
            # pin ONE round of the distributed loop (r2 verdict: only the
            # driver union-find branch was plan-audited). The loop itself
            # localCheckpoints per round (lineage truncation), so the
            # final labels plan shows nothing — audit the un-checkpointed
            # round body instead: edges join labels, groupBy min, left
            # join back, pointer-jump self-join.
            import pyspark.sql.functions as F

            from t2p_spark.relational import register_views
            from t2p_spark.textkit import (
                cc_round, prepare_textkit_views, spark_sql_queries,
            )

            register_views(spark, args.sf)
            prepare_textkit_views(spark, "dedup_minhash_lsh")
            pairs = spark.sql(spark_sql_queries()["dedup_minhash_lsh"])
            edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").union(
                pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
            labels = (edges.select(F.col("src").alias("doc_id")).distinct()
                      .withColumn("label", F.col("doc_id")))
            df = cc_round(labels, edges)
        else:
            try:
                df = queries[name](spark, args.sf)
            except ReferenceMissing as exc:
                print(f"SKIP {name}: {exc}", flush=True)
                lines.append(f"| {name} | (skipped: reference inputs "
                             "missing) | | | | | |")
                continue
        qe = df._jdf.queryExecution()  # noqa: SLF001
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")  # noqa: SLF001
        plan = qe.explainString(mode)
        s = summarize(plan)
        flags = ", ".join(s["flags"]) or (
            "null-aware-anti" if s["null_aware_anti"] else "none")
        if s["flags"] or s["null_aware_anti"]:
            any_flag = True
        join_txt = "<br>".join(j.split("[")[0].strip() + (
            " (" + j.split(", ")[-1] + ")" if ", " in j else "")
            for j in s["joins"]) or "—"
        pushed_txt = "; ".join(s["pushed"])[:80] or "—"
        lines.append(
            f"| {name} | {join_txt} | {s['n_exchanges']} | "
            f"{s['n_codegen']} | {s['arrow_eval']} | {pushed_txt} | "
            f"{flags} |")
        print(f"audited {name}: joins={len(s['joins'])} "
              f"exch={s['n_exchanges']} flags={flags}", flush=True)
    lines.append("")
    lines.append("## Streaming queries (final-microbatch executed plans)")
    lines.append("")
    lines.append("Captured by `streaming._drain_to_memory` from "
                 "`StreamExecution.lastExecution` at drain time — the same "
                 "scale screening as the batch table. Stateful operators "
                 "show their state-store ops; shuffle counts are "
                 "per-microbatch.")
    lines.append("")
    lines.append(
        "| stream | joins | shuffles/microbatch | state ops | "
        "arrow kernels | red flags |")
    lines.append("|---|---|---|---|---|---|")
    from t2p_spark import streaming as streaming_mod
    for name in STREAMING_AUDITED:
        queries[name](spark, args.sf)
        plan = streaming_mod.LAST_STREAM_PLANS.get(name)
        if not plan:
            lines.append(f"| {name} | (plan capture failed) | | | | |")
            any_flag = True
            print(f"audited {name}: NO PLAN CAPTURED", flush=True)
            continue
        s = summarize(plan)
        state_ops = sorted({op for op in re.findall(r"^\(\d+\) (\w+)",
                                                    plan, re.M)
                            if "State" in op or "Dedup" in op
                            or "Session" in op})
        flags = ", ".join(s["flags"]) or (
            "null-aware-anti" if s["null_aware_anti"] else "none")
        if s["flags"] or s["null_aware_anti"]:
            any_flag = True
        join_txt = "<br>".join(j.split("[")[0].strip() + (
            " (" + j.split(", ")[-1] + ")" if ", " in j else "")
            for j in s["joins"]) or "—"
        lines.append(
            f"| {name} | {join_txt} | {s['n_exchanges']} | "
            f"{', '.join(state_ops) or '—'} | {s['arrow_eval']} | "
            f"{flags} |")
        print(f"audited {name} (stream): joins={len(s['joins'])} "
              f"exch={s['n_exchanges']} state={state_ops} flags={flags}",
              flush=True)
    lines.append("")
    lines.append(
        "All audited plans are free of CartesianProduct, row-at-a-time "
        "Python, and null-aware anti joins." if not any_flag else
        "RED FLAGS FOUND — see table.")
    out = os.path.join(os.path.dirname(__file__), "..", "BENCH", "PLANS.md")
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
