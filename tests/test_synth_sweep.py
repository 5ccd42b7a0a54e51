"""M3: Spark pipeline == oracle on a deterministic synthetic corpus.

The corpus covers the fixture-gap features (KEY_VALUE_SET, LAYOUT_TABLE
matched/unmatched, LAYOUT_PAGE_NUMBER, LAYOUT_LIST nesting, merged cells,
selection elements, bbox-only geometry, multi-CHILD blocks) plus skew and
quarantine documents.
"""

import json

import pytest

from t2p_spark.convert import convert_doc_safe
from t2p_spark.pipeline import extract
from t2p_spark.schema import DOCS_SCHEMA
from t2p_spark.synth import corpus_rows

N_DOCS = 300


def _oracle(spans):
    media = next(s for s in spans if s[0] == "media")
    payload = "".join(
        s[1] for s in sorted(
            (s for s in spans if s[0] == "text"), key=lambda s: s[3]
        )
    )
    w, h = media[1].split("x")
    return convert_doc_safe(json.loads(payload), int(w), int(h), media[2])


@pytest.fixture(scope="module")
def sweep(spark):
    rows = list(corpus_rows(N_DOCS, seed=42, chunk_size=200_000))
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    got = {r["doc_id"]: r for r in extract(docs, parallelism=4).collect()}
    return rows, got


def test_rowcount_and_statuses(sweep):
    rows, got = sweep
    assert len(got) == len(rows) == N_DOCS
    # exact quarantine composition: the quarantined set must be precisely
    # the docs the pure-Python oracle quarantines — every bad- doc, plus
    # the gen- docs that hit the reference's faithful table-splice crash
    # path (see synth.py docstring). A loose >= would mask a real
    # over-quarantine regression in the Spark path.
    expected_quar = {
        doc_id for doc_id, spans in rows if _oracle(spans)[0] == "quarantined"
    }
    got_quar = {
        doc_id for doc_id, r in got.items() if r["status"] == "quarantined"
    }
    assert got_quar == expected_quar
    bad = {doc_id for doc_id, _ in rows if doc_id.startswith("bad-")}
    assert bad <= expected_quar  # every intentional bad doc quarantined
    # skew docs always convert
    assert not any(d.startswith("skew-") for d in expected_quar)


def test_spark_equals_oracle_everywhere(sweep):
    rows, got = sweep
    mismatches = []
    for doc_id, spans in rows:
        status, expected, err = _oracle(spans)
        row = got[doc_id]
        if row["status"] != status:
            mismatches.append((doc_id, "status", row["status"], status))
            continue
        got_spans = [tuple(s) for s in row["spans"]]
        if got_spans != [tuple(s) for s in expected]:
            mismatches.append((doc_id, "spans", len(got_spans), len(expected)))
    assert not mismatches, mismatches[:5]


def test_intentional_bad_docs_quarantined(sweep):
    rows, got = sweep
    for doc_id, _ in rows:
        if doc_id.startswith("bad-"):
            assert got[doc_id]["status"] == "quarantined", doc_id
