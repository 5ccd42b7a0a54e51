"""Focused guards for the r7 materialization layer (sigs_mat / pairs_mat /
cc_mat / tokcap_mat): the caches must never serve a stale corpus, and the
declared queries must actually read the cached relations (the whole point
of the round — a silent recompute per reference is the bug the round
fixed)."""

import pytest

from t2p_spark import textkit

DOCS_COLS = "doc_id long, source string, n_chars int, text string"


def _docs(spark, rows):
    df = spark.createDataFrame(rows, DOCS_COLS)
    df.createOrReplaceTempView("documents")
    textkit.ensure_documents_tok(spark, force=True)


def _restore(spark):
    from tests.test_scale_hardening import _restore_views

    _restore_views(spark)


def _near_dup_rows(tag, n=6):
    # n docs sharing one long near-identical text -> guaranteed LSH pairs
    base = " ".join(f"{tag}tok{j}" for j in range(40))
    return [(i, "s", len(base), base + f" tail{i}") for i in range(n)]


def test_pairs_and_cc_rebuild_on_corpus_swap(spark):
    """A swapped ``documents`` view (epoch bump via force rebuild) must
    invalidate sigs/pairs/cc: serving corpus A's pairs against corpus B
    would be silent corruption."""
    try:
        _docs(spark, _near_dup_rows("aaa"))
        textkit.prepare_textkit_views(spark, "dedup_minhash_lsh")
        pairs_a = set(map(tuple, spark.sql(
            textkit.spark_sql_queries()["dedup_minhash_lsh"]).collect()))
        cc_a = set(map(tuple, textkit.ensure_cc_mat(spark).collect()))
        assert pairs_a, "corpus A must produce candidate pairs"

        # corpus B: different doc_ids (offset by 100), different text
        rows_b = [(i + 100, s, n, t)
                  for i, s, n, t in _near_dup_rows("bbb", n=4)]
        _docs(spark, rows_b)
        textkit.prepare_textkit_views(spark, "dedup_minhash_lsh")
        pairs_b = set(map(tuple, spark.sql(
            textkit.spark_sql_queries()["dedup_minhash_lsh"]).collect()))
        cc_b = set(map(tuple, textkit.ensure_cc_mat(spark).collect()))
        assert pairs_b and all(a >= 100 and b >= 100 for a, b in pairs_b), \
            f"stale pairs served after corpus swap: {sorted(pairs_b)[:5]}"
        assert all(d >= 100 for d, _rep in cc_b), "stale cc labels"
        assert pairs_a != pairs_b
        assert cc_a != cc_b
    finally:
        _restore(spark)


def test_pair_consumers_read_materialized_pairs(spark):
    """The declared dedup_minhash_lsh query must be a scan of the cached
    pairs_mat relation (InMemoryRelation in its optimized plan), not a
    re-derivation of the band self-join — and the cached build plan must
    be CTE-free (a CTERelation inside a cached plan defeats
    CacheManager's canonicalized match; observed r7)."""
    try:
        _docs(spark, _near_dup_rows("ccc"))
        textkit.prepare_textkit_views(spark, "dedup_minhash_lsh")
        df = spark.sql(textkit.spark_sql_queries()["dedup_minhash_lsh"])
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in optimized, optimized[:500]
        # the consuming side must not re-plan the self-join: above the
        # InMemoryRelation there is only the projection
        head = optimized.split("InMemoryRelation", 1)[0]
        assert "Join" not in head, head
        assert "WITH" not in textkit.lsh_pairs_build_sql().upper().split(
            "SELECT", 1)[0], "cached build must stay CTE-free"
        assert "WITH" not in textkit.tokcap_build_sql().upper().split(
            "SELECT", 1)[0], "cached build must stay CTE-free"
    finally:
        _restore(spark)


def test_tokcap_preset_rebuilds_per_cap(spark):
    """tokcap_mat is keyed by the jaccard_max_df preset: two different
    caps over one corpus must produce different capped streams (the
    preset lives in the BUILD, so a stale cap would silently change the
    operator's semantics)."""
    try:
        # one shingle shared by 3 docs, another by 2 -> cap=2 drops the
        # hot one, cap=64 keeps both
        base = "w0 w1 w2 w3"
        rows = [(1, "s", 11, base + " x1"), (2, "s", 11, base + " x2"),
                (3, "s", 11, base + " x3")]
        _docs(spark, rows)
        textkit.prepare_textkit_views(spark, "ngram_jaccard_pairs",
                                      jaccard_max_df=64)
        n_default = spark.table("tokcap_mat").count()
        textkit.prepare_textkit_views(spark, "ngram_jaccard_pairs",
                                      jaccard_max_df=2)
        n_capped = spark.table("tokcap_mat").count()
        assert n_capped < n_default, (n_capped, n_default)
    finally:
        _restore(spark)


def test_registry_follows_register_views_swaps(spark):
    """Every materialization the registry owns follows a table-dir swap:
    over sf0.001 -> sf0.01 -> sf0.001 through register_views, the vector
    relations match each embeddings table, a swap back leaves no stale
    entry persisted, and a repeat call in one epoch builds nothing."""
    import os

    from t2p_spark import ann, materialize
    from tests.test_curate_job import SF as a

    b = os.path.join(os.path.dirname(a), "sf0.01")
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    def digest(df):
        # row counts alone cannot tell these dirs apart: both hold 500
        # embeddings
        return (df.count(), df.selectExpr(
            "bit_xor(xxhash64(vec_id, embedding)) AS h").first()["h"])

    counts = []
    try:
        for sf in (a, b, a):
            for name in ("simhash_clusters", "curate_attrition_incr"):
                textkit.run_textkit(spark, sf, name).collect()
            for name in ("ann_topk_lsh", "ann_topk_ivf"):
                ann.run_ann(spark, sf, name).collect()
            want = digest(spark.read.parquet(f"{sf}/embeddings.parquet"))
            assert digest(spark.table("vecs_mat")) == want, sf
            assert digest(spark.table("ivf_vecs")) == want, sf
            counts.append(len(persisted()))
        assert counts[2] == counts[1], counts
        before = persisted()
        ann.run_ann(spark, a, "ann_topk_ivf").collect()
        assert persisted() == before
    finally:
        materialize.reset(spark)
