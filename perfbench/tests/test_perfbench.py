"""Tests for the benchmark's own input generation and output checks.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, workloads  # noqa: E402


def test_extract_generator_is_deterministic_per_seed():
    for i, skew_every in ((0, 0), (5, 0), (7, 8)):
        a = corpus.extract_row(i, 3, skew_every)
        assert a == corpus.extract_row(i, 3, skew_every)
        assert a != corpus.extract_row(i, 4, skew_every)
    doc_id, text, *_ = corpus.extract_doc(7, 3, skew_every=8)
    assert doc_id == "skew-000007" and len(text) > 1 << 20
    _, spans = corpus.extract_row(7, 3, skew_every=8)
    # a skew doc is cut into several offset-ordered text spans
    assert [s[0] for s in spans[:2]] == ["media", "text"] and len(spans) > 2


def test_query_tables_are_deterministic_per_seed():
    a, b, c = (corpus.query_tables(s) for s in (5, 5, 6))
    assert set(a) == set(corpus.QUERY_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    assert a["lineitem"].num_rows == corpus.QUERY_SIZES["lineitem"]
    small = corpus.query_tables(5, 0.02)
    assert small["lineitem"].num_rows == corpus.QUERY_SIZES["lineitem"] // 50
    assert small["documents"].equals(corpus.query_tables(5, 0.02)["documents"])


def _digest(docs):
    d = checks.Digest()
    for doc_id, status, error, spans in docs:
        d.add(doc_id, status, error, len(spans), checks.spans_hash(doc_id, spans))
    return d.as_dict()


def test_digest_check_fails_on_one_span_perturbation():
    from t2p_spark.convert import convert_doc_safe

    docs = []
    for i in range(6):
        doc_id, text, w, h, ref = corpus.extract_doc(i, 11)
        status, spans, error = convert_doc_safe(json.loads(text), w, h, ref)
        docs.append((doc_id, status, error, spans))
    want = _digest(docs)
    # order-free: shuffled docs give the same digest
    assert checks.digest_mismatch(_digest(docs[::-1]), want) == {}
    doc_id, status, error, spans = next(d for d in docs if d[3])
    k, text, media_ref, offset = spans[0]
    perturbed = [(doc_id, status, error,
                  [(k, text + "x", media_ref, offset)] + spans[1:])]
    perturbed += [d for d in docs if d[0] != doc_id]
    bad = checks.digest_mismatch(_digest(perturbed), want)
    assert set(bad) == {"span_digest"}


def test_reason_classes_split_quarantine_by_error_type():
    assert checks.reason_class("ok", "") == "ok"
    assert checks.reason_class("quarantined", "ValueError: x: y") == \
        "quarantined:ValueError"


def test_unknown_query_name_fails_loudly():
    registry = {"a": object(), "b": object()}
    with pytest.raises(ValueError, match="unknown query names.*nope"):
        workloads.resolve_queries(["a", "nope"], registry)
    assert list(workloads.resolve_queries(["b", "a"], registry)) == ["b", "a"]


def test_workload_query_lists_resolve_offline():
    import __spark_entry__

    registry = __spark_entry__.queries()
    for names in (workloads.QUERIES, workloads.PROBE_QUERIES):
        workloads.resolve_queries([n for n, _ in names], registry)
        assert {m for _, m in names} <= set(workloads.MODULES)
    assert set(workloads.NEEDS_REFERENCE) <= set(registry)
    with pytest.raises(ValueError, match="reference corpus"):
        workloads.resolve_queries(["render_pagexml"], registry)


def test_committed_digest_is_the_reference_converter_on_seed_0():
    """expected.json holds, per extraction workload, the digest of
    convert_doc_safe over the generated docs of seed 0."""
    from t2p_spark.convert import convert_doc_safe

    wl = workloads.WORKLOADS["extract_skew"]()
    docs = []
    for i in range(wl.n_docs):
        doc_id, text, w, h, ref = corpus.extract_doc(i, 0, wl.skew_every)
        status, spans, error = convert_doc_safe(json.loads(text), w, h, ref)
        docs.append((doc_id, status, error, spans))
    assert _digest(docs) == checks.expected_digest(wl.name, 0)
