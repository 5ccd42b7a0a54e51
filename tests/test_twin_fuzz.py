"""Differential fuzzing of the engine twins.

Every textkit operator ships as a Spark implementation plus a DuckDB
oracle generated from the same builder; the driver gate checks them on
the fixed corpus. This test checks them on ADVERSARIAL corpora: random
word-salad documents with planted edge cases (empty text, single token,
punctuation-only, repeated tokens, exact duplicates), asserting the two
engines produce identical row sets for each twinned operator. Any
engine-semantics drift (regex dialect, cast rounding, fold order, NULL
handling) surfaces here before it can reach the driver gate.

Examples are few (Spark round-trips are ~seconds each) but each example
runs the full operator list, and hypothesis shrinks failures to a
minimal corpus.
"""

import math

import duckdb
import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings

from t2p_spark import textkit

# operators compared row-for-row on every fuzzed corpus. The pair/LSH
# ops are included too (r3 VERDICT #7): corpus() always plants an exact
# duplicate AND a one-token-edit near-duplicate of a long doc, so the
# candidate-pair outputs are non-empty under fuzzing rather than
# trivially-equal empties.
FUZZED = [
    "dedup_exact", "lang_id", "quality_score", "token_stats",
    "token_stats_bpe", "doc_fingerprint", "corpus_filter", "sample_split",
    "repetition_stats", "contamination_check", "minhash_signatures",
    "lm_score", "substring_dedup", "pii_scrub",
    "chunk_documents", "seq_pack_stats", "top_terms_by_source",
    "dedup_minhash_lsh", "simhash_clusters", "simhash_neardup_pairs",
    "ngram_jaccard_pairs", "split_leakage", "source_overlap_matrix",
    "shard_manifest", "mixture_weights", "vocab_coverage",
    "neardup_verified_pairs", "seq_pack_plan",
]

WORDS = ["the", "a", "spark", "join", "merge", "x1", "9", "zz",
         "...", "!!", "", "agg agg", "Mixed", "UPPER"]

word_list = st.lists(st.sampled_from(WORDS), min_size=0, max_size=40)


@st.composite
def corpus(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = []
    for i in range(n):
        doc_id = draw(st.integers(min_value=0, max_value=200))
        text = " ".join(draw(word_list))
        # NULL sources are legal corpus rows: every twin must agree on
        # NULL grouping/partitioning/joining (r6: a non-null-safe bucket
        # join silently dropped them from seq_pack_plan)
        source = None if doc_id % 5 == 0 else "s%d" % (doc_id % 3)
        rows.append((doc_id, source, len(text), text))
    # ALWAYS plant a long base doc + its exact duplicate + a one-token
    # near-duplicate: guarantees non-empty outputs from the pair/LSH
    # operators (colliding minhash bands, hamming-close simhashes,
    # overlapping shingles) on every example.
    base = " ".join(draw(st.lists(st.sampled_from(WORDS[:8]),
                                  min_size=12, max_size=20)))
    rows.append((300, "s0", len(base), base))
    rows.append((301, "s1", len(base), base))
    near = base + " " + draw(st.sampled_from(WORDS[:8]))
    rows.append((302, "s2", len(near), near))
    # plant one NULL-source doc unconditionally (the random draws above
    # only make one with probability ~0.2/doc): EVERY example must
    # exercise NULL grouping/partitioning/joining
    rows.append((303, None, len(base), base))
    # doc_ids must be unique: they are the documents table's key
    seen, uniq = set(), []
    for r in rows:
        if r[0] not in seen:
            seen.add(r[0])
            uniq.append(r)
    return uniq


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


@pytest.fixture(scope="module")
def _cleanup(spark):
    yield
    from tests.test_scale_hardening import _restore_views

    _restore_views(spark)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=corpus())
def test_twins_agree_on_fuzzed_corpora(spark, _cleanup, rows):
    from tests.test_scale_hardening import _swap_documents_view

    _swap_documents_view(spark, rows)
    con = duckdb.connect()
    con.sql("CREATE TABLE documents "
            "(doc_id BIGINT, source VARCHAR, n_chars BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    sq = textkit.spark_sql_queries()
    dq = textkit.duckdb_oracle_queries()
    for name in FUZZED:
        textkit.prepare_textkit_views(spark, name)
        got = spark.sql(sq[name])
        want = con.sql(dq[name])
        g = _rowset(got.columns, [tuple(r) for r in got.collect()])
        w = _rowset([c[0] for c in want.description], want.fetchall())
        assert g == w, name


EVENTS_FUZZED = [
    "events_sessionize", "events_tumbling_hour", "events_hypertable_rollup",
    "events_cohort_retention", "events_rolling_7d_users", "events_funnel",
    "events_value_quantiles", "events_props_stats",
    "events_anomaly_days",
]

_ET = ["view", "click", "purchase", "scroll"]
_VALUES = [0.0, 50.0, 50.0000001, -3.25, 87.5, 1e6, 0.1]


@st.composite
def events_corpus(draw):
    """Random events across the ISO-week/year boundary (2023-12-25 was a
    Monday; Jan 1 2024 too) with value ties, the exact `> 50` boundary,
    and shared user_ids — the inputs where engine date/window semantics
    could drift."""
    import datetime

    base = datetime.datetime(2023, 12, 20)
    n = draw(st.integers(min_value=1, max_value=30))
    rows = []
    for eid in range(n):
        ts = base + datetime.timedelta(
            minutes=draw(st.integers(min_value=0, max_value=60 * 24 * 26)))
        rows.append((
            eid, ts,
            draw(st.integers(min_value=1, max_value=6)),
            draw(st.sampled_from(_ET)),
            draw(st.sampled_from(_VALUES)),
            '{"k": %d}' % draw(st.integers(min_value=0, max_value=999)),
        ))
    return rows


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=events_corpus())
def test_events_twins_agree_on_fuzzed_corpora(spark, rows):
    """The shared-ANSI events queries run VERBATIM in both engines; this
    asserts the engines agree on the semantics the shared text leans on —
    date_trunc at week/year boundaries, INTERVAL arithmetic, window
    tie-breaks, conditional aggregation — on adversarial inputs.
    events_rolling_7d_users is an engineered twin (sequence vs
    generate_series day-explode) and fuzzes through its twin pair."""
    from t2p_spark.relational import (
        EVENTS_ROLLING_7D_ORACLE, EVENTS_ROLLING_7D_SPARK, RELATIONAL_SQL,
    )

    twins = {"events_rolling_7d_users":
             (EVENTS_ROLLING_7D_SPARK, EVENTS_ROLLING_7D_ORACLE)}

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.createOrReplaceTempView("events")
    con = duckdb.connect()
    con.sql("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, "
            "user_id BIGINT, event_type VARCHAR, value DOUBLE, "
            "props VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    try:
        for name in EVENTS_FUZZED:
            s_sql, d_sql = twins.get(
                name, (RELATIONAL_SQL.get(name), RELATIONAL_SQL.get(name)))
            got = spark.sql(s_sql)
            want = con.sql(d_sql)
            g = _rowset(got.columns, [tuple(r) for r in got.collect()])
            w = _rowset([c[0] for c in want.description], want.fetchall())
            assert g == w, name
    finally:
        # drop the synthetic view AND the registration memo, else a later
        # test's register_views() would be memo-skipped against a dropped
        # view (same contract as _restore_views for the documents fuzzer)
        from t2p_spark import materialize

        materialize.reset(spark)
        spark.catalog.dropTempView("events")
