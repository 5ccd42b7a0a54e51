"""M2: the Spark pipeline equals the goldens/oracle on the fixture corpus."""

import pyspark.sql.functions as F
import pytest

from t2p_spark.fixtures import doc_row, fixture_doc_rows, fixture_ids, golden_meta
from t2p_spark.pipeline import extract, extracted_metrics
from t2p_spark.schema import DOCS_SCHEMA
from tests.conftest import needs_reference


@pytest.fixture(scope="module")
def extracted_rows(spark):
    # 64k chunks exercise multi-span payload reassembly in offset order
    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=65536)), schema=DOCS_SCHEMA
    )
    out = extract(docs, parallelism=2).collect()
    return {r["doc_id"]: r for r in out}


@needs_reference
def test_all_fixture_docs_ok(extracted_rows):
    assert sorted(extracted_rows) == fixture_ids()
    for doc_id, row in extracted_rows.items():
        assert row["status"] == "ok", (doc_id, row["error"])


@needs_reference
@pytest.mark.parametrize("doc_id", fixture_ids())
def test_spark_spans_equal_golden(extracted_rows, doc_id):
    golden = golden_meta(doc_id)["spans"]
    got = [[s["kind"], s["text"], s["media_ref"], s["offset"]]
           for s in extracted_rows[doc_id]["spans"]]
    assert got == golden


@needs_reference
def test_shuffled_span_order_is_reassembled(spark):
    doc_id = fixture_ids()[0]
    meta = golden_meta(doc_id)
    import os

    from t2p_spark.fixtures import REF_JSON_DIR
    json_text = open(os.path.join(REF_JSON_DIR, f"{doc_id}.json"),
                     encoding="utf-8").read()
    _, spans = doc_row(doc_id, json_text, meta["width"], meta["height"],
                       meta["media_ref"], chunk_size=10000)
    # scramble physical order; offsets still define logical order
    scrambled = [spans[0]] + list(reversed(spans[1:]))
    docs = spark.createDataFrame([(doc_id, scrambled)], schema=DOCS_SCHEMA)
    row = extract(docs, parallelism=1).collect()[0]
    assert row["status"] == "ok"
    got = [[s["kind"], s["text"], s["media_ref"], s["offset"]]
           for s in row["spans"]]
    assert got == meta["spans"]


def test_quarantine_row_not_crash(spark):
    docs = spark.createDataFrame(
        [
            ("bad-json", [("media", "100x100", "x.jpg", 0),
                          ("text", "{not json", "", 1)]),
            ("no-media", [("text", '{"Blocks": []}', "", 0)]),
        ],
        schema=DOCS_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in extract(docs, parallelism=1).collect()}
    assert rows["bad-json"]["status"] == "quarantined"
    assert "JSONDecodeError" in rows["bad-json"]["error"]
    assert rows["no-media"]["status"] == "quarantined"


@needs_reference
def test_metrics_aggregate(spark):
    docs = spark.createDataFrame(
        list(fixture_doc_rows()), schema=DOCS_SCHEMA
    )
    ext = extract(docs, parallelism=2)
    m = extracted_metrics(ext).agg(
        F.sum("n_docs"), F.sum("n_ok"), F.sum("n_quarantined")
    ).collect()[0]
    assert list(m) == [8, 8, 0]
