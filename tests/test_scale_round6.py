"""Round-6 scale-hardening regressions (r5 VERDICT items 1-3, 6 + ADVICE).

- seq_pack two-level cumsum: parallelism invariance + equality with the
  naive single-window formulation (the scale-killer it replaces).
- vocab_coverage LIMIT rewrite: exact across the top-K tie boundary.
- neardup verify set-intersect rewrite: exact under a planted viral
  hot-cluster (one doc in dozens of candidate pairs).
- mixture_weights wide-integer arithmetic: Spark DECIMAL(38,0) and DuckDB
  HUGEINT agree with Python bigints at web-scale magnitudes that overflow
  signed 64-bit.
- curate_attrition_incr on an empty corpus: 0 rows, never NULL (twin
  divergence fixed per r5 ADVICE).
- ann_recall_eval as a CI gate: the operator's own recall_x1e6 must clear
  a floor on the planted-neighbor corpus (an index regression fails here
  rather than shipping a correct-but-useless index).
"""

import random

import pytest

from t2p_spark import textkit
from tests.test_scale_hardening import (
    DOCS_COLS, _restore_views, _swap_documents_view,
)


def test_seq_pack_two_level_cumsum_invariant_and_exact(spark):
    """The two-level (bucketed) packing cumsum must (a) be byte-identical
    at 1 vs 13 input partitions and (b) equal the naive per-source
    single-window formulation it replaces. doc_ids stride 137 so they
    cross several SEQ_PACK_BUCKET_W=512 boundaries, and sources interleave
    across buckets — the regime where a wrong bucket join or offset
    window would misplace starts."""
    rows = [
        # every 7th doc has a NULL source: PARTITION BY groups NULLs into
        # one window partition, so the two-level bucket join must be
        # null-safe (<=>) or those docs silently vanish from the plan
        (i * 137, None if i % 7 == 0 else "s%d" % (i % 3), 0,
         " ".join(f"w{i}t{j}" for j in range(1 + (i * 7) % 23)))
        for i in range(60)
    ]
    naive = """
        WITH sized AS (
          SELECT doc_id, source, CAST(size(toks) AS BIGINT) AS n_tok
          FROM documents_tok WHERE size(toks) > 0
        )
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_end
        FROM sized
    """
    try:
        results = {}
        for nparts in (1, 13):
            df = spark.createDataFrame(rows, DOCS_COLS).repartition(nparts)
            df.createOrReplaceTempView("documents")
            textkit.ensure_documents_tok(spark, force=True)
            for name in ("seq_pack_plan", "seq_pack_stats"):
                got = spark.sql(textkit.spark_sql_queries()[name])
                results.setdefault(name, []).append(sorted(
                    (tuple(r) for r in got.collect()),
                    key=lambda t: tuple((v is None, v) for v in t)))
        for name, (a, b) in results.items():
            assert a == b, name
        # two-level == naive single window, value by value
        naive_end = {r["doc_id"]: r["cum_end"]
                     for r in spark.sql(naive).collect()}
        # same doc set — a non-null-safe bucket join drops NULL sources
        assert {r[0] for r in results["seq_pack_plan"][0]} == set(naive_end)
        for r in results["seq_pack_plan"][0]:
            doc_id, _, n_tok, seq_idx, seq_offset, end_seq_idx = r
            cum_end = naive_end[doc_id]
            start = cum_end - n_tok
            assert seq_idx == start // textkit.PACK_LEN
            assert seq_offset == start % textkit.PACK_LEN
            assert end_seq_idx == (cum_end - 1) // textkit.PACK_LEN
    finally:
        _restore_views(spark)


def test_seq_pack_plan_uses_bucketed_window(spark):
    """The executed plan must window-partition by (source, bkt), never by
    source alone over the corpus relation — the single-reducer-per-source
    sort is the exact regression this rewrite exists to prevent. The only
    source-partitioned window allowed is the one over the tiny bucket
    relation (ordered by bkt, not doc_id)."""
    rows = [(i * 137, "s%d" % (i % 3), 0, "a b c") for i in range(40)]
    try:
        _swap_documents_view(spark, rows)
        plan = (spark.sql(textkit.spark_sql_queries()["seq_pack_plan"])
                ._jdf.queryExecution().executedPlan().toString())
        assert "bkt" in plan
        # every Window over doc_id order must be bucketed
        for line in plan.splitlines():
            if "Window" in line and "doc_id" in line and "ORDER BY" not in line:
                assert "bkt" in line, line
    finally:
        _restore_views(spark)


def test_vocab_coverage_limit_rewrite_exact(spark):
    """The Spark dialect's ORDER BY cnt DESC, term LIMIT max(VOCAB_KS)
    pre-bound must be invisible in the output: replay the full unbounded
    curve in Python over a corpus with MORE distinct terms than the
    limit, with a long cnt=1 tie run straddling the K=4096 boundary (the
    spot a wrong tie-break inside TakeOrderedAndProject would corrupt)."""
    from collections import Counter

    kmax = max(textkit.VOCAB_KS)
    rng = random.Random(13)
    # ~6200 distinct terms: 200 hot terms (distinct counts), the rest
    # singletons -> ranks past ~200 are one giant tie broken by term asc
    vocab = [f"t{n:05d}" for n in range(kmax + 2000)]
    toks = []
    for i, t in enumerate(vocab[:200]):
        toks.extend([t] * (400 - i))
    toks.extend(vocab[200:])
    rng.shuffle(toks)
    # spread over docs
    rows, per = [], 500
    for d in range(0, len(toks), per):
        rows.append((d, "s0", 0, " ".join(toks[d:d + per])))
    try:
        _swap_documents_view(spark, rows)
        got = {r["k"]: r for r in
               spark.sql(textkit.spark_sql_queries()["vocab_coverage"])
               .collect()}
        cnt = Counter(toks)
        total = sum(cnt.values())
        ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        for k in textkit.VOCAB_KS:
            take = min(k, len(ordered))
            covered = sum(c for _, c in ordered[:take])
            r = got[k]
            assert r["vocab_size"] == take
            assert r["covered_tokens"] == covered
            assert r["total_tokens"] == total
            assert r["coverage_x1e6"] == covered * 10**6 // total
        assert len(cnt) > kmax  # the LIMIT actually bit
    finally:
        _restore_views(spark)


def test_neardup_verify_hot_cluster_exact(spark):
    """Viral near-dup cluster: one hub document LSH-pairs with dozens of
    petals. The set-intersect rewrite must carry the EXACT distinct-token
    Jaccard for every emitted pair (replayed in Python), and the hub's
    token set is aggregated once — not replayed through a per-pair
    explode+groupBy (the r5 hot-key)."""
    core = [f"core{i}" for i in range(24)]
    rows = [(0, "hub", 0, " ".join(core))]
    for i in range(1, 51):  # 50 petals sharing the full core + 2 own tokens
        rows.append((i, "petal", 0,
                     " ".join(core + [f"own{i}a", f"own{i}b"])))
    for i in range(51, 120):  # background, disjoint vocab
        rows.append((i, "bg", 0,
                     " ".join(f"bg{i}w{j}" for j in range(20))))
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "neardup_verified_pairs")
        got = spark.sql(
            textkit.spark_sql_queries()["neardup_verified_pairs"]).collect()
        tok_sets = {r[0]: set(r[3].split()) for r in rows}
        hub_pairs = 0
        for r in got:
            sa, sb = tok_sets[r["doc_a"]], tok_sets[r["doc_b"]]
            inter, union = len(sa & sb), len(sa | sb)
            assert (r["n_common"], r["n_a"], r["n_b"]) == \
                (inter, len(sa), len(sb)), (r["doc_a"], r["doc_b"])
            assert r["jaccard_x1e6"] == inter * 10**6 // union
            want = ("dup" if inter * 10**6
                    >= textkit.NEARDUP_VERIFY_X1E6 * union else "rejected")
            assert r["verdict"] == want
            if 0 in (r["doc_a"], r["doc_b"]):
                hub_pairs += 1
        assert hub_pairs >= 30  # the cluster actually went viral
    finally:
        _restore_views(spark)


def test_wide_integer_arithmetic_cross_engine(spark):
    """The _wide (DECIMAL(38,0) / HUGEINT) product-then-divide idiom must
    match Python bigints exactly at magnitudes where the old BIGINT
    intermediates overflowed (r5 ADVICE: tot_tok*w_raw ~ 3e22 at 1e13
    tokens), including a quotient boundary where double math rounds the
    wrong way."""
    import duckdb

    from t2p_spark.textkit import _idiv, _wide

    cases = [
        (13_000_000_000_000, 3_100_000_000, 7_700_000_000),
        (9_223_372_036_854_775, 9_223_372_036, 9_223_372_037),
        # remainder = divisor-1: float division reads ~k+0.9999999999
        ((10**18 + 9) * 5 + (10**18 + 8), 1, 10**18 + 9),
    ]
    for a, b, c in cases:
        want = a * b // c
        assert want < 2**63  # the quotient must fit BIGINT by design
        s = spark.sql(
            f"SELECT CAST({_idiv(_wide(str(a), 's') + f' * {b}', str(c), 's')}"
            f" AS BIGINT) AS x").collect()[0]["x"]
        d = duckdb.sql(
            f"SELECT CAST({_idiv(_wide(str(a), 'd') + f' * {b}', str(c), 'd')}"
            f" AS BIGINT) AS x").fetchone()[0]
        assert s == want and d == want, (a, b, c, s, d, want)


def test_curate_incr_empty_corpus_zero_not_null(spark):
    """Empty documents view: the incremental funnel must report 0 for
    stages 0-4 (matching the DuckDB full-recompute twin), not NULL from
    SUM over zero rows (r5 ADVICE twin divergence)."""
    try:
        # the force rebuild starts a new input epoch, so the memoized
        # stage tables rebuild over the (empty) synthetic view
        _swap_documents_view(spark, [])
        textkit.prepare_textkit_views(spark, "curate_attrition_incr")
        got = {r["stage"]: r["n_docs"] for r in spark.sql(
            textkit.spark_sql_queries()["curate_attrition_incr"]).collect()}
        for stage in ("0_input", "1_corpus_filter", "2_repetition",
                      "3_contamination", "4_near_dedup"):
            assert got[stage] == 0, (stage, got)
        assert all(v is not None for v in got.values())
    finally:
        _restore_views(spark)


def test_ann_recall_eval_gates_index_quality(spark):
    """ann_recall_eval as CI gate: on the planted-neighbor corpus (12
    genuine near-dups per query at n_planes=12), the operator's own
    recall_x1e6 must clear the floor for multiprobe and multitable, and
    must equal a Python replay of hits/truth — so an index regression
    (bad bucketing, broken probe order) fails CI here instead of
    shipping a correct-but-useless index."""
    from t2p_spark import materialize
    from t2p_spark.ann import DIM, ann_sql

    rng = random.Random(7)

    def rand_vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    queries = [rand_vec() for _ in range(8)]
    rows = [(i, "q", v) for i, v in enumerate(queries)]
    nid = 100
    for qv in queries:
        for _ in range(12):
            rows.append((nid, "nbr",
                         [x + rng.gauss(0.0, 0.12) for x in qv]))
            nid += 1
    for _ in range(1500):
        rows.append((nid, "bg", rand_vec()))
        nid += 1
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).createOrReplaceTempView("embeddings")
    try:
        q = ann_sql("s", n_planes=12)
        eval_rows = spark.sql(q["ann_recall_eval"]).collect()
        truth = {}
        for r in spark.sql(q["ann_topk_brute"]).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        by_variant = {}
        for r in eval_rows:
            by_variant.setdefault(r["variant"], []).append(r)
            assert r["n_truth"] == len(truth[r["query_id"]])
        for variant, name in (("multiprobe", "ann_topk_multiprobe"),
                              ("multitable", "ann_topk_multitable")):
            approx = {}
            for r in spark.sql(q[name]).collect():
                approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            mean = 0
            for r in by_variant[variant]:
                n_hit = len(truth[r["query_id"]]
                            & approx.get(r["query_id"], set()))
                assert r["n_hit"] == n_hit, (variant, r["query_id"])
                assert r["recall_x1e6"] == n_hit * 10**6 // r["n_truth"]
                mean += r["recall_x1e6"]
            mean //= len(by_variant[variant])
            # THE GATE: planted-corpus recall floor
            assert mean >= 500_000, (variant, mean)
    finally:
        spark.catalog.dropTempView("embeddings")
        materialize.reset(spark)
