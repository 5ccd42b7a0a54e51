"""PAGE-XML renderer — the reference's one output shape the span model
does not carry (VERDICT r1 "What's missing" #2).

Re-derives ``instantiate_pagexml`` + ``to_xml`` of the reference
(/root/reference/textract2page/convert_aws.py:944-1211) on the shared
stage-2-6 object model (t2p_spark.convert.build_model): regions are written
inside <Page> in CONSTRUCTION order (layouts dict order, then unclaimed
tables), while the Textract reading order lives in ReadingOrder /
OrderedGroup[@id='global-reading-order'] with per-table/-figure/-nested
local groups — exactly the reference's serialization semantics.

Parity contract: canonical-form equality with the 8 committed reference
PAGE-XMLs after stripping Metadata children and Page/@imageFilename —
the same normalization the reference's own test applies
(/root/reference/tests/test_workspace.py:37-57). Float confidences use
generateDS's '%.15g' rendering (verified against the goldens).

OFF the extraction hot path: rendering is a separate per-doc kernel
(``render_pagexml_df``) — the span pipeline never pays for XML.
"""

from __future__ import annotations

import hashlib
import io
import xml.etree.ElementTree as ET
from typing import Iterator, Optional

import pyspark.sql.types as T

from t2p_spark.convert import Layout, Table, build_model, points_from_geometry
from t2p_spark.kernel import decode_payloads, row_kernel
from t2p_spark.pipeline import MAX_PAYLOAD_BYTES, assemble_payload

NS_PC = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
NS_XSI = "http://www.w3.org/2001/XMLSchema-instance"
SCHEMA_LOC = (f"{NS_PC} http://schema.primaresearch.org/PAGE/gts/"
              f"pagecontent/2019-07-15/pagecontent.xsd")
# deterministic metadata (no wall clock — the parity normalization strips
# Metadata children anyway, mirroring the reference test)
CREATOR = "t2p_spark"
CREATED = "2000-01-01T00:00:00"


def _conf(value: float) -> str:
    """generateDS float rendering — matches the goldens' conf attrs."""
    return "%.15g" % value


def render_page_xml(aws_json: dict, img_width: int, img_height: int,
                    img_path: str = "") -> str:
    """One parsed Textract response -> PAGE-XML string (pretty-printed)."""
    model = build_model(aws_json)
    layouts, tables = model.layouts, model.tables

    root = ET.Element("pc:PcGts", {
        "xmlns:pc": NS_PC,
        "xmlns:xsi": NS_XSI,
        "xsi:schemaLocation": SCHEMA_LOC,
    })
    meta = ET.SubElement(root, "pc:Metadata")
    ET.SubElement(meta, "pc:Creator").text = CREATOR
    ET.SubElement(meta, "pc:Created").text = CREATED
    ET.SubElement(meta, "pc:LastChange").text = CREATED
    page = ET.SubElement(root, "pc:Page", {
        "imageFilename": img_path,
        "imageWidth": str(img_width),
        "imageHeight": str(img_height),
    })

    def pts(obj) -> str:
        return points_from_geometry(obj.geometry, img_width, img_height)

    # --- global reading order (:957-999) ---------------------------------
    reading_order_el = ET.SubElement(page, "pc:ReadingOrder")
    global_og = ET.SubElement(reading_order_el, "pc:OrderedGroup", {
        "id": "global-reading-order",
        "comments": "Reading order as defined by Textract.",
    })
    local_reading_orders: dict = {}
    for idx, obj in enumerate(model.reading_order):
        table = tables.get(obj.id)
        layout = layouts.get(obj.id)
        ref = f"{obj.prefix}_{obj.id}"
        if table is not None:
            el = ET.SubElement(global_og, "pc:UnorderedGroupIndexed", {
                "id": f"{ref}_reading-order",
                "regionRef": ref,
                "index": str(idx),
                "comments": "Reading order of this table.",
            })
            local_reading_orders[f"{ref}_reading-order"] = el
        elif layout is not None and (
            (layout.textract_layout_type == "LAYOUT_FIGURE"
             and layout.child_lines) or layout.child_regions
        ):
            el = ET.SubElement(global_og, "pc:OrderedGroupIndexed", {
                "id": f"{ref}_reading-order",
                "regionRef": ref,
                "index": str(idx),
                "comments": "Reading order of this region.",
            })
            local_reading_orders[f"{ref}_reading-order"] = el
        else:
            ET.SubElement(global_og, "pc:RegionRefIndexed", {
                "index": str(idx),
                "regionRef": ref,
            })

    # --- region serialization (:1003-1199) --------------------------------
    def add_text_equiv(parent: ET.Element, block) -> None:
        if block.text:
            te = ET.SubElement(parent, "pc:TextEquiv",
                               {"conf": _conf(block.confidence)})
            ET.SubElement(te, "pc:Unicode").text = block.text

    def add_word(parent: ET.Element, word, id_suffix: str = "") -> None:
        attrs = {"id": f"{word.prefix}_{word.id}{id_suffix}"}
        if word.text_type is not None:
            attrs["production"] = word.text_type
        w_el = ET.SubElement(parent, "pc:Word", attrs)
        ET.SubElement(w_el, "pc:Coords", {"points": pts(word)})
        add_text_equiv(w_el, word)

    def add_line(parent: ET.Element, line, id_suffix: str = "") -> None:
        l_el = ET.SubElement(parent, "pc:TextLine",
                             {"id": f"{line.prefix}_{line.id}{id_suffix}"})
        ET.SubElement(l_el, "pc:Coords", {"points": pts(line)})
        for word in line.child_words:
            add_word(l_el, word, id_suffix)
        add_text_equiv(l_el, line)

    def inst(block, parent: ET.Element) -> Optional[ET.Element]:
        local_ro = local_reading_orders.get(
            f"{block.prefix}_{block.id}_reading-order"
        )
        local_idx = 0

        if isinstance(block, Layout) and \
                block.textract_layout_type == "LAYOUT_FIGURE":  # :1018-1054
            img = ET.SubElement(parent, "pc:ImageRegion", {
                # type_=page_layout_type is silently dropped by the
                # reference serializer (ImageRegionType has no @type)
                "id": f"{block.prefix}_{block.id}",
                "custom": "textract-layout-type: figure;",
            })
            ET.SubElement(img, "pc:Coords", {"points": pts(block)})
            for line in block.child_lines:
                line_region_id = f"{line.prefix}_text-region_{line.id}"
                region = ET.SubElement(img, "pc:TextRegion",
                                       {"id": line_region_id})
                ET.SubElement(region, "pc:Coords", {"points": pts(line)})
                if local_ro is not None:
                    ET.SubElement(local_ro, "pc:RegionRefIndexed", {
                        "index": str(local_idx), "regionRef": line_region_id,
                    })
                    local_idx += 1
                add_line(region, line)
            assert len(block.child_regions) == 0, \
                "unexpected AWS layout recursion in LAYOUT_FIGURE"
            return img

        if isinstance(block, Layout) and \
                block.textract_layout_type == "LAYOUT_TABLE":  # :1057-1059
            return None

        if isinstance(block, Layout):  # :1083-1110
            attrs = {
                "id": f"{block.prefix}_{block.id}",
                "type": block.page_layout_type,
            }
            if block.textract_layout_type != "LAYOUT_DUMMY":
                lt = block.textract_layout_type.split("LAYOUT_")[1].lower()
                attrs["custom"] = f"textract-layout-type: {lt};"
            region = ET.SubElement(parent, "pc:TextRegion", attrs)
            ET.SubElement(region, "pc:Coords", {"points": pts(block)})
            for line in block.child_lines:
                add_line(region, line)
            for child in block.child_regions:
                assert child.textract_layout_type.startswith("LAYOUT_") and \
                    child.textract_layout_type not in (
                        "LAYOUT_FIGURE", "LAYOUT_TABLE"), \
                    "unexpected AWS layout recursion"
                child_el = inst(child, region)
                if local_ro is not None:
                    ET.SubElement(local_ro, "pc:RegionRefIndexed", {
                        "index": str(local_idx),
                        "regionRef": child_el.get("id"),
                    })
                    local_idx += 1
            return region

        if isinstance(block, Table):  # :1112-1193
            t_el = ET.SubElement(parent, "pc:TableRegion", {
                "id": f"{block.prefix}_{block.id}",
                "rows": str(block.rows),
                "columns": str(block.columns),
            })
            ET.SubElement(t_el, "pc:Coords", {"points": pts(block)})
            visited_merged = []
            for cell in block.common_cells:
                merged = cell.parent_merged_cell
                if merged:
                    if merged in visited_merged:
                        continue
                    visited_merged.append(merged)
                    cell = merged
                cell_region_id = f"{cell.prefix}_text-region_{cell.id}"
                region = ET.SubElement(t_el, "pc:TextRegion",
                                       {"id": cell_region_id})
                ET.SubElement(region, "pc:Coords", {"points": pts(cell)})
                roles = ET.SubElement(region, "pc:Roles")
                ET.SubElement(roles, "pc:TableCellRole", {
                    "rowIndex": str(cell.row_index),
                    "columnIndex": str(cell.column_index),
                    "rowSpan": str(cell.row_span),
                    "colSpan": str(cell.column_span),
                    "header": "true" if cell.column_header else "false",
                })
                # reference passes index= to RegionRefType, which has no
                # such attribute — generateDS drops it (goldens confirm)
                ET.SubElement(local_ro, "pc:RegionRef",
                              {"regionRef": cell_region_id})
                suffix = f"-{cell.row_index}-{cell.column_index}"
                for line in cell.child_lines:
                    add_line(region, line, suffix)
            return t_el
        return None  # Key/Value are never serialized (§2.8.2)

    for layout in layouts.values():  # :1201-1202 construction order
        inst(layout, page)
    for table in tables.values():  # :1204-1205
        inst(table, page)

    # generateDS exports Page's choice-group children grouped BY MEMBER
    # TYPE (all TextRegions in insertion order, then all ImageRegions,
    # then all TableRegions) — the goldens confirm; regroup to match.
    region_tags = ("pc:TextRegion", "pc:ImageRegion", "pc:TableRegion")
    regions = [el for el in list(page) if el.tag in region_tags]
    for el in regions:
        page.remove(el)
    for tag in region_tags:
        for el in regions:
            if el.tag == tag:
                page.append(el)

    tree = ET.ElementTree(root)
    ET.indent(tree, space="    ")
    buf = io.BytesIO()
    tree.write(buf, encoding="UTF-8", xml_declaration=True)
    return buf.getvalue().decode("utf-8") + "\n"


# --- parity normalization (mirrors the reference test's comparison) ---------

def canonical_form(xml_text: str) -> str:
    """Strip Metadata children + Page/@imageFilename, drop indentation
    whitespace, then W3C-canonicalize — the stdlib equivalent of the
    reference test's parse -> strip -> lxml pretty_print comparison."""
    root = ET.fromstring(xml_text)
    ns = {"pc": NS_PC}
    meta = root.find("pc:Metadata", ns)
    if meta is not None:
        for child in list(meta):
            meta.remove(child)
        meta.text = None
    page = root.find("pc:Page", ns)
    if page is not None and "imageFilename" in page.attrib:
        del page.attrib["imageFilename"]

    def strip_ws(el: ET.Element) -> None:
        if len(el) and el.text is not None and not el.text.strip():
            el.text = None
        if el.tail is not None and not el.tail.strip():
            el.tail = None
        for child in el:
            strip_ws(child)

    strip_ws(root)
    return ET.canonicalize(ET.tostring(root, encoding="unicode"))


def canonical_md5(xml_text: str) -> str:
    return hashlib.md5(canonical_form(xml_text).encode()).hexdigest()


# --- Spark surface -----------------------------------------------------------

RENDERED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("canon_md5", T.StringType()),
])


def _render_row(doc_id, width, height, media_ref, _json_text, aws,
                reason) -> Iterator[tuple]:
    """One decoded doc -> its rendered PAGE-XML fingerprint; quarantine
    semantics identical to the extract kernel — the model build raises
    exactly where the span path does."""
    if reason is None:
        try:
            xml = render_page_xml(aws, width, height, media_ref or "")
        except Exception:  # noqa: BLE001 — reference crash paths
            pass
        else:
            yield doc_id, "ok", len(xml.encode()), canonical_md5(xml)
            return
    yield doc_id, "quarantined", 0, ""


def render_pagexml_df(docs, max_payload_bytes: int = MAX_PAYLOAD_BYTES):
    """docs(doc_id, spans) -> (doc_id, status, n_bytes, canon_md5).

    A doc over ``max_payload_bytes`` renders as status=quarantined instead
    of overflowing the Arrow string column and killing the stage."""
    return assemble_payload(docs, max_payload_bytes).mapInArrow(
        row_kernel(RENDERED_SCHEMA, _render_row, decode_payloads),
        schema=RENDERED_SCHEMA)
