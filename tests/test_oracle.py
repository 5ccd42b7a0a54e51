"""M1: the pure-Python oracle equals the flattened reference PAGE-XMLs.

This is the semantic anchor of the whole engine — the Spark pipeline is
asserted equal to the oracle (tests/test_pipeline.py), and the oracle is
asserted equal to the reference's committed output here, span by span
(the reference's own golden-XML regression re-expressed per FIXTURES.md §3;
cf. /root/reference/tests/test_workspace.py:24-60).
"""

import pytest

from t2p_spark.convert import convert_doc, convert_doc_safe
from tests.conftest import (
    FIXTURE_IDS, load_golden, load_textract_json, needs_reference,
)


@needs_reference
@pytest.mark.parametrize("doc_id", FIXTURE_IDS)
def test_oracle_matches_golden(doc_id):
    golden = load_golden(doc_id)
    aws = load_textract_json(doc_id)
    spans = convert_doc(aws, golden["width"], golden["height"], golden["media_ref"])
    assert [list(s) for s in spans] == golden["spans"]


def test_goldens_cover_all_eight_fixtures():
    assert len(FIXTURE_IDS) == 8


# --- quarantine policy: reference crash paths become quarantine rows -------
# (SURVEY.md §2.8 — never reproduce a crash, never silently mis-convert)

PAGE_GEOM = {"BoundingBox": {"Left": 0.0, "Top": 0.0, "Width": 1.0, "Height": 1.0}}


def _block(bid, btype, geom=None, **extra):
    b = {"Id": bid, "BlockType": btype, "Confidence": 99.0,
         "Geometry": geom or PAGE_GEOM}
    b.update(extra)
    return b


def test_quarantine_dangling_word():
    # word with no line/cell/layout parent -> reference crashes at
    # convert_aws.py:888 (`lines.append` on a dict)
    doc = {"Blocks": [
        _block("p", "PAGE"),
        _block("w1", "WORD", Text="x"),
    ]}
    status, spans, err = convert_doc_safe(doc, 100, 100)
    assert status == "quarantined" and spans == [] and "AttributeError" in err


def test_quarantine_two_pages():
    doc = {"Blocks": [_block("p1", "PAGE"), _block("p2", "PAGE")]}
    status, _, err = convert_doc_safe(doc, 100, 100)
    assert status == "quarantined" and "AssertionError" in err


def test_quarantine_wordless_table_in_layout_mode():
    # table never appears in word-derived order -> text_regions.index raises
    # (convert_aws.py:931, SURVEY.md §2.8.3)
    doc = {"Blocks": [
        _block("p", "PAGE"),
        _block("l1", "LINE", Text="hello",
               Relationships=[{"Type": "CHILD", "Ids": ["w1"]}]),
        _block("w1", "WORD", Text="hello"),
        _block("t1", "TABLE",
               geom={"BoundingBox": {"Left": 0.5, "Top": 0.5, "Width": 0.3, "Height": 0.3}},
               Relationships=[{"Type": "CHILD", "Ids": ["c1"]}]),
        _block("c1", "CELL", RowIndex=1, ColumnIndex=1, RowSpan=1, ColumnSpan=1),
    ]}
    status, _, err = convert_doc_safe(doc, 100, 100)
    assert status == "quarantined" and "ValueError" in err
    # the reason names the table by Id, not by address: the same every run
    assert convert_doc_safe(doc, 100, 100)[2] == err and "0x" not in err


def test_table_geometry_match_replaces_layout():
    # J10 (convert_aws.py:920-927): a table whose geometry equals a layout's
    # replaces that layout in the reading order — even a wordless table.
    doc = {"Blocks": [
        _block("p", "PAGE"),
        _block("l1", "LINE", Text="hello",
               Relationships=[{"Type": "CHILD", "Ids": ["w1"]}]),
        _block("w1", "WORD", Text="hello"),
        _block("t1", "TABLE", Relationships=[{"Type": "CHILD", "Ids": ["c1"]}]),
        _block("c1", "CELL", RowIndex=1, ColumnIndex=1, RowSpan=1, ColumnSpan=1),
    ]}  # every geometry is PAGE_GEOM -> t1 == dummy-layout geometry
    spans = convert_doc(doc, 100, 100)
    assert [s[0] for s in spans] == ["table", "cell"]


def test_quarantine_bad_geometry():
    doc = {"Blocks": [
        _block("p", "PAGE"),
        _block("l1", "LINE", Text="hi",
               geom={"BoundingBox": {"Left": 0.9, "Top": 0.0, "Width": 0.5, "Height": 0.1}},
               Relationships=[{"Type": "CHILD", "Ids": ["w1"]}]),
        _block("w1", "WORD", Text="hi"),
    ]}
    status, _, err = convert_doc_safe(doc, 100, 100)
    assert status == "quarantined" and "AssertionError" in err


def test_empty_doc_ok():
    status, spans, _ = convert_doc_safe({"Blocks": [_block("p", "PAGE")]}, 10, 10)
    assert status == "ok" and spans == []


def test_simple_doc_spans():
    # one dangling line -> dummy LAYOUT_DUMMY region, floating, no custom attr
    doc = {"Blocks": [
        _block("p", "PAGE"),
        _block("l1", "LINE", Text="hello world",
               geom={"BoundingBox": {"Left": 0.1, "Top": 0.1, "Width": 0.5, "Height": 0.05}},
               Relationships=[{"Type": "CHILD", "Ids": ["w1", "w2"]}]),
        _block("w1", "WORD", Text="hello", TextType="PRINTED",
               geom={"BoundingBox": {"Left": 0.1, "Top": 0.1, "Width": 0.2, "Height": 0.05}}),
        _block("w2", "WORD", Text="world", TextType="HANDWRITING",
               geom={"BoundingBox": {"Left": 0.35, "Top": 0.1, "Width": 0.2, "Height": 0.05}}),
    ]}
    spans = convert_doc(doc, 1000, 1000)
    US = "\x1f"
    # note 151: ceil((0.1+0.05)*1000) = ceil(150.00000000000003) — the
    # reference's float arithmetic (math.ceil, convert_aws.py:578) is faithful
    assert spans == [
        ("region", f"100,100 600,100 600,151 100,151{US}floating{US}", "", 0),
        ("line", f"100,100 600,100 600,151 100,151{US}hello world", "", 1),
        ("word", f"100,100 301,100 301,151 100,151{US}hello{US}printed", "", 2),
        ("word", f"350,100 550,100 550,151 350,151{US}world{US}handwritten-cursive", "", 3),
    ]


def test_quarantine_wordless_table_in_word_order_mode():
    # all lines in cells (no layouts, no dummies) + a second wordless table:
    # the reference serializes it but crashes building its reading-order
    # group (convert_aws.py:1148) -> quarantine
    doc = {"Blocks": [
        _block("p", "PAGE"),
        _block("t1", "TABLE",
               geom={"BoundingBox": {"Left": 0.0, "Top": 0.0, "Width": 0.4, "Height": 0.2}},
               Relationships=[{"Type": "CHILD", "Ids": ["c1"]}]),
        _block("c1", "CELL", RowIndex=1, ColumnIndex=1, RowSpan=1, ColumnSpan=1,
               geom={"BoundingBox": {"Left": 0.0, "Top": 0.0, "Width": 0.4, "Height": 0.2}},
               Relationships=[{"Type": "CHILD", "Ids": ["w1"]}]),
        _block("l1", "LINE", Text="x",
               geom={"BoundingBox": {"Left": 0.0, "Top": 0.0, "Width": 0.1, "Height": 0.05}},
               Relationships=[{"Type": "CHILD", "Ids": ["w1"]}]),
        _block("w1", "WORD", Text="x",
               geom={"BoundingBox": {"Left": 0.0, "Top": 0.0, "Width": 0.1, "Height": 0.05}}),
        _block("t2", "TABLE",
               geom={"BoundingBox": {"Left": 0.5, "Top": 0.5, "Width": 0.3, "Height": 0.2}},
               Relationships=[{"Type": "CHILD", "Ids": ["c2"]}]),
        _block("c2", "CELL", RowIndex=1, ColumnIndex=1, RowSpan=1, ColumnSpan=1,
               geom={"BoundingBox": {"Left": 0.5, "Top": 0.5, "Width": 0.3, "Height": 0.2}}),
    ]}
    status, _, err = convert_doc_safe(doc, 100, 100)
    assert status == "quarantined" and "1148" in err

    # sanity: without the wordless table the same doc converts fine in
    # word-order mode (table + cell + line + word spans)
    doc_ok = {"Blocks": doc["Blocks"][:5]}
    status, spans, err = convert_doc_safe(doc_ok, 100, 100)
    assert status == "ok" and [s[0] for s in spans] == [
        "table", "cell", "line", "word"]
