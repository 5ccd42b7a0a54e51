"""METS workspace resolution parity (the reference's corpus entry point).

The reference's own test harness reaches its fixtures through an OCR-D
workspace (its tests/test_workspace.py:17-22 resolves
tests/workspace/mets.xml, then pairs images/ with textract_responses/ and
reference_page_xml/). These tests pin that t2p_spark.workspace re-derives
the same resolution without the ocrd stack: same page set, same image dims
(sniffed from bytes where the reference used PIL), and byte-identical doc
rows to the fixtures module the rest of the suite builds on — so workspace
input is transitively covered by every extraction-parity test.

Pure-Python module: no Spark session needed.
"""

import os

from t2p_spark import workspace
from t2p_spark.fixtures import (
    REF_METS as METS, fixture_doc_rows, fixture_ids, golden_meta,
)
from tests.conftest import needs_reference


@needs_reference
def test_parse_mets_resolves_every_fixture_page():
    pages = {p.page_id: p for p in workspace.parse_mets(METS)}
    # the reference workspace enumerates exactly the fixture corpus
    assert sorted(pages) == fixture_ids()
    for p in pages.values():
        assert p.textract_path and os.path.exists(p.textract_path)
        assert p.image_path  # href resolved even when not materialized
        assert p.page_xml_path and p.page_xml_path.endswith(
            f"{p.page_id}.xml")


@needs_reference
def test_image_dims_sniffer_matches_reference_dims():
    """For every image materialized in the reference workspace, the pure
    byte sniffer must report the dims the goldens pinned (the goldens'
    dims came from the reference XMLs' imageWidth/imageHeight)."""
    pages = workspace.parse_mets(METS)
    sniffed = 0
    for p in pages:
        if not (p.image_path and os.path.exists(p.image_path)):
            continue
        meta = golden_meta(p.page_id)
        assert workspace.image_dims(p.image_path) == \
            (meta["width"], meta["height"]), p.page_id
        sniffed += 1
    assert sniffed >= 3  # jpgs materialized in the reference checkout


@needs_reference
def test_workspace_rows_equal_fixture_rows():
    """With golden dims supplied for unmaterialized images, the workspace
    yields byte-identical rows to fixtures.fixture_doc_rows — the input
    every extraction-parity test (and the committed goldens) already pin."""
    dims = {d: (golden_meta(d)["width"], golden_meta(d)["height"])
            for d in fixture_ids()}
    got = sorted(workspace.workspace_doc_rows(METS, dims=dims,
                                              chunk_size=1 << 20))
    want = sorted(fixture_doc_rows(chunk_size=1 << 20))
    assert [r[0] for r in got] == [r[0] for r in want]
    for (gid, gspans), (wid, wspans) in zip(got, want):
        assert gspans == wspans, gid


def test_richer_workspace_resilience(tmp_path):
    """Workspaces richer than the reference fixture must not break
    resolution: (a) an ALTO/text fptr in the page div never shadows the
    Textract JSON (unknown mimetypes are ignored, first-of-kind wins);
    (b) an unsniffable materialized image (e.g. JPEG-2000) falls back to
    caller dims instead of crashing; (c) a truncated JPEG raises
    ValueError, not struct.error."""
    ws = tmp_path / "ws"
    ws.mkdir()
    (ws / "doc.json").write_text("{}")
    (ws / "doc.xml").write_text("<alto/>")
    # JP2 signature box: unsniffable by the header sniffer
    (ws / "doc.jp2").write_bytes(
        b"\x00\x00\x00\x0cjP  \r\n\x87\n" + b"\x00" * 32)
    (ws / "mets.xml").write_text("""<?xml version="1.0"?>
<mets xmlns="http://www.loc.gov/METS/"
      xmlns:xlink="http://www.w3.org/1999/xlink">
 <fileSec><fileGrp USE="ALL">
  <file ID="f-alto" MIMETYPE="text/xml">
   <FLocat xlink:href="doc.xml"/></file>
  <file ID="f-json" MIMETYPE="application/json">
   <FLocat xlink:href="doc.json"/></file>
  <file ID="f-img" MIMETYPE="image/jp2">
   <FLocat xlink:href="doc.jp2"/></file>
 </fileGrp></fileSec>
 <structMap TYPE="PHYSICAL"><div TYPE="physSequence">
  <div TYPE="page" ID="p1">
   <fptr FILEID="f-alto"/><fptr FILEID="f-json"/><fptr FILEID="f-img"/>
  </div>
 </div></structMap>
</mets>""")

    pages = workspace.parse_mets(str(ws / "mets.xml"))
    assert len(pages) == 1
    # the ALTO fptr (earlier in the div) must not have shadowed the JSON
    assert pages[0].textract_path.endswith("doc.json")
    assert pages[0].page_id == "doc"
    assert pages[0].image_path.endswith("doc.jp2")

    # materialized-but-unsniffable image: caller dims win, no crash
    rows = list(workspace.workspace_doc_rows(
        str(ws / "mets.xml"), dims={"doc": (425, 600)}))
    assert [r[0] for r in rows] == ["doc"]
    # no dims fallback -> the page is skipped, still no crash
    assert list(workspace.workspace_doc_rows(str(ws / "mets.xml"))) == []

    # truncated JPEG: ValueError (documented), never struct.error
    trunc = ws / "trunc.jpg"
    trunc.write_bytes(b"\xff\xd8\xff\xe0\x00")
    try:
        workspace.image_dims(str(trunc))
        raise AssertionError("expected ValueError")
    except ValueError:
        pass

    # JPEG with spec-legal 0xFF fill bytes before the SOF marker
    fill = ws / "fill.jpg"
    fill.write_bytes(
        b"\xff\xd8" + b"\xff\xff\xff"
        + b"\xc0\x00\x11\x08\x02\x58\x01\xa9" + b"\x00" * 12)
    assert workspace.image_dims(str(fill)) == (425, 600)


@needs_reference
def test_workspace_rows_skip_unresolvable_pages():
    """Without a dims fallback, only pages with a materialized image
    resolve — the contract of an offline partial workspace copy."""
    got = [r[0] for r in workspace.workspace_doc_rows(METS)]
    materialized = {p.page_id for p in workspace.parse_mets(METS)
                    if p.image_path and os.path.exists(p.image_path)}
    assert sorted(got) == sorted(materialized)
    assert len(got) >= 3

