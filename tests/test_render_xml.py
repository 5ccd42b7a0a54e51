"""PAGE-XML renderer == reference output (canonical form) on all 8
fixtures, plus the Spark surface and the single-file CLI."""

import json
import subprocess
import sys

import pytest

from t2p_spark.flatten import flatten_page_xml, page_dims
from t2p_spark.render_xml import (
    canonical_form, canonical_md5, render_page_xml,
)
from t2p_spark.fixtures import REF_XML_DIR, read_reference
from tests.conftest import (
    FIXTURE_IDS, REF_JSON_DIR, load_textract_json, needs_reference,
)


def _ref_xml(doc_id: str) -> str:
    return read_reference(f"{REF_XML_DIR}/{doc_id}.xml")


@needs_reference
@pytest.mark.parametrize("doc_id", FIXTURE_IDS)
def test_render_matches_reference_xml(doc_id):
    """Canonical-form equality with the committed reference PAGE-XML —
    the same Metadata/imageFilename normalization the reference's own
    test applies (reference tests/test_workspace.py:37-57)."""
    ref = _ref_xml(doc_id)
    w, h, media = page_dims(ref)
    got = render_page_xml(load_textract_json(doc_id), w, h, media)
    assert canonical_form(got) == canonical_form(ref), doc_id


@needs_reference
def test_rendered_xml_flattens_to_golden_spans():
    """Round-trip: our rendered XML, flattened by the golden-derivation
    spec, reproduces the exact golden span sequence."""
    from tests.conftest import load_golden

    doc_id = FIXTURE_IDS[0]
    ref = _ref_xml(doc_id)
    w, h, media = page_dims(ref)
    got = render_page_xml(load_textract_json(doc_id), w, h, media)
    spans = flatten_page_xml(got, media_ref=media)
    golden = [tuple(s) for s in load_golden(doc_id)["spans"]]
    assert spans == golden


@needs_reference
def test_render_spark_kernel(spark):
    from t2p_spark.fixtures import fixture_doc_rows
    from t2p_spark.render_xml import render_pagexml_df
    from t2p_spark.schema import DOCS_SCHEMA

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA
    )
    rows = {r["doc_id"]: r for r in render_pagexml_df(docs).collect()}
    golden = {
        g["doc_id"]: g["canon_md5"]
        for g in json.load(open("tests/golden_render/render_canon_md5.json",
                                encoding="utf-8"))
    }
    assert len(rows) == 8
    for doc_id, md5 in golden.items():
        assert rows[doc_id]["status"] == "ok"
        assert rows[doc_id]["canon_md5"] == md5, doc_id


def test_render_kernel_quarantines_bad_doc(spark):
    from t2p_spark.render_xml import render_pagexml_df
    from t2p_spark.schema import DOCS_SCHEMA

    rows = [("bad", [("media", "10x10", "m.jpg", 0),
                     ("text", "[1,2]", "", 0)])]
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    out = render_pagexml_df(docs).collect()
    assert out[0]["status"] == "quarantined"


@needs_reference
def test_cli_single_file(tmp_path):
    doc_id = FIXTURE_IDS[0]
    ref = _ref_xml(doc_id)
    w, h, media = page_dims(ref)
    out = tmp_path / "out.xml"
    rc = subprocess.run(
        [sys.executable, "-m", "t2p_spark.cli",
         f"{REF_JSON_DIR}/{doc_id}.json", media,
         "--image-width", str(w), "--image-height", str(h),
         "-O", str(out)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert rc.returncode == 0, rc.stderr[-500:]
    assert canonical_md5(out.read_text(encoding="utf-8")) \
        == canonical_md5(ref)


def test_render_synth_gap_fixtures_pinned():
    """The renderer's behavior on the gap features the 8 reference
    fixtures never exercise (KV regions, LAYOUT_TABLE claiming, merged
    cells, selection elements, bbox-only geometry) is pinned by committed
    canonical md5s — and each rendered XML round-trips through the flatten
    spec to exactly the converter's span sequence, tying the renderer to
    the independently reference-anchored converter, not to itself."""
    import os

    from t2p_spark.convert import convert_doc
    from t2p_spark.synth import generate_doc

    golden_path = os.path.join(os.path.dirname(__file__), "golden_render",
                               "render_synth_md5.json")
    records = {r["doc_id"]: r for r in json.load(open(golden_path))}
    assert len(records) == 8
    for doc_id, rec in records.items():
        seed = int(doc_id.rsplit("-", 1)[1])
        aws, w, h, media = generate_doc(doc_id, seed)
        xml = render_page_xml(aws, w, h, media)
        assert canonical_md5(xml) == rec["canon_md5"], doc_id
        spans = flatten_page_xml(xml, media_ref=media)
        assert spans == [tuple(s) for s in convert_doc(aws, w, h, media)], \
            doc_id
