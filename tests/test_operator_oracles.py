"""Operator suite vs DuckDB oracle at sf0.001 — the driver's correctness
gate replicated inside pytest (full run: tools/check_oracle.py)."""

import math
import re

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import needs_reference

SF = "/root/testdata/sf0.001"


def _canon(v):
    import decimal

    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


QUERIES = [
    "q1_pricing_summary", "events_sessionize", "dedup_exact",
    "minhash_signatures", "dedup_minhash_lsh", "simhash_clusters",
    "simhash_neardup_pairs", "ngram_jaccard_pairs", "lang_id",
    "quality_score", "doc_fingerprint", "ann_topk_brute", "ann_topk_lsh",
    "extract_fixture_spans", "extract_synth_corpus", "multimodal_meta",
    "multimodal_features", "customers_no_big_order", "dedup_components",
    "render_pagexml", "events_by_segment_salted", "ann_topk_ivf",
    "token_stats_bpe", "events_asof_order", "events_value_bands",
    "events_hypertable_rollup", "distinct_users_kmv", "q4_order_priority",
    "q13_customer_distribution", "q16_parts_supplier_breadth",
    "ann_topk_multiprobe", "events_sessionize_streamed",
    "events_tumbling_streamed", "corpus_filter", "sample_split",
    "split_leakage", "events_value_quantiles", "embedding_centroids",
    "tfidf_top_terms", "ann_topk_multitable", "events_stream_dedup",
    "bm25_search", "events_funnel", "repetition_stats",
    "contamination_check", "stream_neardup_screen", "quarantine_reasons",
    "lm_score", "dedup_keep_list", "media_phash_clusters",
    "events_cohort_retention", "stratified_sample",
    "events_rolling_7d_users", "events_key_skew", "embedding_outliers",
    "shard_manifest", "mixture_weights", "curate_attrition_incr",
    "vocab_coverage", "neardup_verified_pairs", "stream_pii_screen",
    "ann_recall_eval", "events_anomaly_days", "stream_quality_gate",
    "seq_pack_plan",
]
# queries whose inputs are the external reference Textract JSONs
REFERENCE_QUERIES = {"extract_fixture_spans", "render_pagexml"}
# streamed queries: each drain records the executed plan that
# tools/audit_plans.py screens
STREAMED_QUERIES = {
    "events_sessionize_streamed", "events_tumbling_streamed",
    "events_stream_dedup", "stream_neardup_screen", "stream_pii_screen",
    "stream_quality_gate",
}


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=needs_reference) if n in REFERENCE_QUERIES else n
    for n in QUERIES
])
def test_query_matches_oracle(spark, con, name):
    from t2p_spark.streaming import LAST_STREAM_PLANS

    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    LAST_STREAM_PLANS.pop(name, None)
    sdf = fn(spark, SF)
    if name in STREAMED_QUERIES:
        # every streamed query runs on the JVM: no Python operator in the
        # drain's executed plan
        ops = re.findall(r"^\(\d+\) (\w+)", LAST_STREAM_PLANS.get(name, ""),
                         re.M)
        assert ops
        assert not [op for op in ops if "Python" in op or "InPandas" in op]
    srows = sdf.collect()
    res = con.sql(sql)
    assert sorted(sdf.columns) == sorted(res.columns)
    assert _rowset(sdf.columns, srows) == _rowset(res.columns, res.fetchall())


@needs_reference
def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_synth_staging_distributed_equals_driver_generator(spark):
    """r7: _synth_docs moved corpus generation onto the executors
    (mapInArrow over spark.range); the staged rows must be EXACTLY the
    driver-side corpus_rows(120, seed=7) stream — same doc_ids, same
    span tuples — or every synth-family driver query silently attests
    a different corpus."""
    from t2p_spark.synth import corpus_rows

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in entrymod._synth_docs(spark).collect()
    }
    want = {doc_id: [tuple(s) for s in spans]
            for doc_id, spans in corpus_rows(120, seed=7, chunk_size=1 << 20)}
    assert set(got) == set(want)
    assert all(got[d] == want[d] for d in want)
