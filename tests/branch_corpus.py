"""Branch corpus: one minimal hand-built Textract response per converter
branch that the 120-doc synth corpus (``synth.corpus_rows(120, seed=7)``)
does not reach.

Together the two corpora reach every executable line of a function body in
``t2p_spark/convert.py`` (tests/test_branch_corpus.py). Their verdicts
(status, full error text, span md5, render md5) are pinned in
tests/golden_synth/convert_golden.json by ``tools/make_synth_golden.py``.

Each doc is ``(name, aws_json, width, height)``; the name says which branch
it reaches. Built here, never read back from a golden, so the oracle is not
circular.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

W, H = 1000, 800


def bbox(left: float, top: float, width: float, height: float) -> Dict:
    return {"BoundingBox": {"Left": left, "Top": top, "Width": width,
                            "Height": height}}


def poly(points) -> Dict:
    return {"Polygon": [{"X": x, "Y": y} for x, y in points]}


def block(bid: str, btype: str, geom: Dict, children=(), **extra) -> Dict:
    b = {"Id": bid, "BlockType": btype, "Confidence": 95.5, "Geometry": geom}
    if children:
        b["Relationships"] = [{"Type": "CHILD", "Ids": list(children)}]
    b.update(extra)
    return b


def text_line(i: int, top: float, left: float = 0.1) -> List[Dict]:
    """LINE l<i> holding one WORD w<i>."""
    return [
        block(f"l{i}", "LINE", bbox(left, top, 0.3, 0.02), [f"w{i}"],
              Text=f"line {i}"),
        block(f"w{i}", "WORD", bbox(left, top, 0.1, 0.02), Text=f"w{i}",
              TextType="PRINTED"),
    ]


def cell(cid: str, row: int, col: int, geom: Dict, children=(), **extra) -> Dict:
    return block(cid, "CELL", geom, children, RowIndex=row, ColumnIndex=col,
                 RowSpan=1, ColumnSpan=1, **extra)


PAGE = block("p", "PAGE", bbox(0, 0, 1, 1))
TABLE_BOX = bbox(0.1, 0.5, 0.6, 0.2)


def one_cell_table(tid: str = "t1", word: str = "w9", **extra) -> List[Dict]:
    """TABLE <tid> with one CELL holding LINE l9 / WORD w9."""
    return [
        block(tid, "TABLE", TABLE_BOX, [f"{tid}c"], **extra),
        cell(f"{tid}c", 1, 1, TABLE_BOX, [word]),
        block("l9", "LINE", bbox(0.1, 0.5, 0.3, 0.02), [word], Text="cell"),
        block(word, "WORD", bbox(0.1, 0.5, 0.1, 0.02), Text="cell"),
    ]


def _circle(n: int, x_at=None) -> List[Tuple[float, float]]:
    """n points on a small ring; point ``x_at`` (if given) has X=1.5."""
    pts = [(0.5 + 0.1 * math.cos(2 * math.pi * k / n),
            0.5 + 0.1 * math.sin(2 * math.pi * k / n)) for k in range(n)]
    if x_at is not None:
        pts[x_at] = (1.5, pts[x_at][1])
    return pts


def branch_docs() -> List[Tuple[str, Dict, int, int]]:
    docs = []

    def add(name: str, blocks, width: int = W, height: int = H) -> None:
        docs.append((name, {"Blocks": blocks}, width, height))

    # build_geometry: a polygon point without "Y" takes the .get fallback
    # (-1.0) and fails the range assert
    line = text_line(1, 0.1)
    line[0]["Geometry"] = {"Polygon": [{"X": 0.1, "Y": 0.1}, {"X": 0.2},
                                       {"X": 0.2, "Y": 0.2}]}
    add("polygon_point_without_y", [PAGE] + line)

    # build_geometry: a polygon point that is no object (TypeError in the
    # fast path, then AttributeError in the fallback)
    line = text_line(1, 0.1)
    line[1]["Geometry"] = {"Polygon": [[0.1, 0.1], [0.2, 0.1], [0.2, 0.2]]}
    add("polygon_point_not_object", [PAGE] + line)

    # build_geometry: a bounding box without "Height" (fallback -1.0)
    line = text_line(1, 0.1)
    del line[0]["Geometry"]["BoundingBox"]["Height"]
    add("bbox_without_height", [PAGE] + line)

    # build_geometry: >16-point polygons take the min/max range check
    line = text_line(1, 0.1)
    line[0]["Geometry"] = poly(_circle(20))
    line[1]["Geometry"] = poly(_circle(17))
    add("long_polygon", [PAGE] + line)

    # ... and re-run the per-point asserts when one point is out of range
    line = text_line(1, 0.1)
    line[0]["Geometry"] = poly(_circle(20, x_at=9))
    add("long_polygon_out_of_range", [PAGE] + line)

    # _append_first_seen past 32 items: a layout listing 33 lines plus the
    # words of 35 lines (the last two lines come in through their words)
    blocks = [PAGE]
    for i in range(35):
        blocks += text_line(i, 0.02 * i)
    blocks.append(block(
        "x1", "LAYOUT_TEXT", bbox(0.05, 0, 0.9, 0.75),
        [f"l{i}" for i in range(33)] + [f"w{i}" for i in range(35)]))
    add("layout_over_32_lines", blocks)

    # stage 4: a LAYOUT_TABLE claims the table (the table leaves the
    # top-level regions and is emitted nowhere)
    add("layout_claims_table", [PAGE] + one_cell_table() + [
        block("x1", "LAYOUT_TABLE", TABLE_BOX, ["t1"])])

    # emit: a text layout with a table child fails the recursion check
    # (AttributeError: a Table has no layout type)
    add("layout_with_table_child", [PAGE] + text_line(1, 0.1) + one_cell_table()
        + [block("x1", "LAYOUT_TEXT", bbox(0.05, 0.05, 0.9, 0.7),
                 ["l1", "t1"])])

    # emit: nested layouts of every layout type, and an unknown type
    # (floating); the nested ones leave the top level in stage 4
    blocks, layouts = [PAGE], []
    kinds = ["LAYOUT_HEADER", "LAYOUT_TITLE", "LAYOUT_SECTION_HEADER",
             "LAYOUT_TEXT", "LAYOUT_LIST", "LAYOUT_KEY_VALUE_SET",
             "LAYOUT_PAGE_NUMBER", "LAYOUT_FOOTER", "LAYOUT_SOMETHING_NEW"]
    for i, kind in enumerate(kinds):
        blocks += text_line(i, 0.05 + 0.08 * i)
        layouts.append(block(f"x{i}", kind, bbox(0.05, 0.05 + 0.08 * i, 0.5,
                                                 0.05), [f"l{i}"]))
    layouts[8]["Relationships"][0]["Ids"].append("x0")
    layouts[4]["Relationships"][0]["Ids"] += ["x2", "x3"]
    add("nested_layout_types", blocks + layouts)

    # emit: a figure with a child layout fails the figure recursion assert
    add("figure_with_child_layout", [PAGE] + text_line(1, 0.1)
        + text_line(2, 0.3) + [
            block("f1", "LAYOUT_FIGURE", bbox(0.05, 0.05, 0.9, 0.5),
                  ["l1", "x1"]),
            block("x1", "LAYOUT_TEXT", bbox(0.05, 0.3, 0.5, 0.05), ["l2"])])

    # emit: a text layout with a figure child fails the recursion assert
    add("layout_with_figure_child", [PAGE] + text_line(1, 0.1)
        + text_line(2, 0.3) + [
            block("x1", "LAYOUT_TEXT", bbox(0.05, 0.05, 0.9, 0.5),
                  ["l1", "f1"]),
            block("f1", "LAYOUT_FIGURE", bbox(0.05, 0.3, 0.5, 0.05),
                  ["l2"])])

    # stage 6, word-order mode: every line sits in a table cell, so there
    # is no layout and the reading order is the word order
    add("word_order_mode", [PAGE] + one_cell_table())

    # ... and a second, wordless table there is serialized without a
    # reading-order group: AttributeError (convert_aws.py:1148)
    add("word_order_wordless_table", [PAGE] + one_cell_table() + [
        block("t2", "TABLE", bbox(0.1, 0.8, 0.3, 0.1), ["t2c"]),
        cell("t2c", 1, 1, bbox(0.1, 0.8, 0.3, 0.1))])

    # stage 6, layout mode: a wordless table matches no layout and is not
    # in the word order, so text_regions.index raises ValueError
    add("layout_mode_wordless_table", [PAGE] + text_line(1, 0.1) + [
        block("t2", "TABLE", bbox(0.1, 0.8, 0.3, 0.1), ["t2c"]),
        cell("t2c", 1, 1, bbox(0.1, 0.8, 0.3, 0.1))])

    # stage 6 table splice: the table's word comes first in word order
    # (spliced after the region that follows it) ...
    add("splice_table_first", [PAGE] + one_cell_table() + text_line(1, 0.1))

    # ... or later (spliced after the region before it)
    add("splice_table_later", [PAGE] + text_line(1, 0.1) + one_cell_table())

    # stage 6: a table with the same geometry as a layout replaces it
    add("table_replaces_layout", [PAGE] + one_cell_table() + text_line(1, 0.1)
        + [block("x1", "LAYOUT_TABLE", TABLE_BOX, ["l1"])])

    # Table: the STRUCTURED_TABLE probe raises on a non-container
    # EntityTypes (TypeError)
    add("table_entity_types_scalar",
        [PAGE] + one_cell_table(EntityTypes=5))

    # merged cell over two cells, emitted once in place of the first
    blocks = [PAGE, block("t1", "TABLE", TABLE_BOX, ["c1", "c2", "m1"])]
    for j, cid in enumerate(("c1", "c2")):
        geom = bbox(0.1 + 0.3 * j, 0.5, 0.3, 0.2)
        blocks.append(cell(cid, 1, j + 1, geom, [f"w{j}"],
                           EntityTypes=["COLUMN_HEADER"]))
        blocks += text_line(j, 0.5, left=0.1 + 0.3 * j)
    blocks.append(block("m1", "MERGED_CELL", TABLE_BOX, ["c1", "c2"],
                        RowIndex=1, ColumnIndex=1, RowSpan=1, ColumnSpan=2))
    add("merged_cell", blocks)

    # Line: a CHILD id that is no WORD block (AttributeError)
    add("line_child_not_word", [PAGE] + text_line(1, 0.1)
        + [block("l2", "LINE", bbox(0.1, 0.3, 0.3, 0.02), ["nope"],
                 Text="x")])

    # CommonCell: a cell word outside any line (AttributeError)
    add("cell_word_outside_line", [PAGE] + [
        block("t1", "TABLE", TABLE_BOX, ["c1"]),
        cell("c1", 1, 1, TABLE_BOX, ["w1"]),
        block("w1", "WORD", bbox(0.1, 0.5, 0.1, 0.02), Text="x")])

    # CommonCell: a selection element with a non-numeric confidence
    # (ValueError from float())
    tbl = one_cell_table()
    tbl[1]["Relationships"][0]["Ids"].append("s1")
    add("cell_selection_bad_confidence", [PAGE] + tbl + [
        block("s1", "SELECTION_ELEMENT", bbox(0.5, 0.5, 0.02, 0.02),
              SelectionStatus="SELECTED", Confidence="high")])

    # key/value: a value with a selection element and a key with a word
    kv = [
        block("k1", "KEY_VALUE_SET", bbox(0.1, 0.1, 0.2, 0.02), ["w1"],
              EntityTypes=["KEY"]),
        block("v1", "KEY_VALUE_SET", bbox(0.4, 0.1, 0.2, 0.02), ["w2", "s1"],
              EntityTypes=["VALUE"]),
        block("s1", "SELECTION_ELEMENT", bbox(0.6, 0.1, 0.02, 0.02),
              SelectionStatus="NOT_SELECTED"),
    ]
    kv[0]["Relationships"].append({"Type": "VALUE", "Ids": ["v1"]})
    add("key_value", [PAGE] + text_line(1, 0.1) + text_line(2, 0.1, 0.4) + kv)

    # Value: a selection element without geometry (TypeError)
    bad = [dict(b) for b in kv]
    bad[2] = {k: v for k, v in kv[2].items() if k != "Geometry"}
    add("value_selection_without_geometry",
        [PAGE] + text_line(1, 0.1) + text_line(2, 0.1, 0.4) + bad)

    # Key: an associated VALUE id with no VALUE block (AttributeError)
    bad = [dict(kv[0], Relationships=[
        {"Type": "CHILD", "Ids": ["w1"]}, {"Type": "VALUE", "Ids": ["v9"]}])]
    add("key_missing_value", [PAGE] + text_line(1, 0.1) + bad)

    # build_model: Blocks that is no list (TypeError)
    docs.append(("blocks_not_a_list", {"Blocks": 5}, W, H))

    # points: integer coordinates 0 and 1, in a box and in a polygon
    line = text_line(1, 0.1)
    line[0]["Geometry"] = bbox(0, 0, 1, 1)
    line[1]["Geometry"] = poly([(0, 0), (1, 0), (1, 1), (0, 1)])
    add("integer_coordinates", [PAGE] + line)

    # points: a -0.0 coordinate formats as "0"
    line = text_line(1, 0.1)
    line[0]["Geometry"] = bbox(-0.0, 0.1, 0.3, 0.02)
    line[1]["Geometry"] = poly([(-0.0, 0.1), (0.1, -0.0), (0.1, 0.1)])
    add("negative_zero_coordinate", [PAGE] + line)

    # points: (left + width) * w is computed as one product. It lands on
    # 750.0 exactly for 0.25 + 0.5, and on 300.00000000000006 (ceil 301)
    # for 0.1 + 0.2, where left * w + width * w would give 300
    line = text_line(1, 0.1)
    line[0]["Geometry"] = bbox(0.25, 0.25, 0.5, 0.5)
    line[1]["Geometry"] = bbox(0.1, 0.1, 0.2, 0.2)
    add("box_right_edge_on_integer", [PAGE] + line)

    # points: boxes, a 3-point and a 17-point polygon in one doc
    blocks = [PAGE]
    for i in range(3):
        blocks += text_line(i, 0.1 + 0.1 * i)
    blocks[1]["Geometry"] = poly([(0.1, 0.1), (0.4, 0.1), (0.4, 0.12)])
    blocks[4]["Geometry"] = poly(_circle(17))
    add("mixed_box_and_polygon", blocks)

    # points: a negative image width and height (ceil of negative
    # products; 0.0004 * -1000 lies in (-1, 0) and formats as "0")
    line = text_line(1, 0.1)
    line[1]["Geometry"] = bbox(0.0004, 0.1, 0.1, 0.02)
    add("negative_image_size", [PAGE] + line, -1000, -800)

    # build_geometry: a negative box width fails its range assert
    line = text_line(1, 0.1)
    line[1]["Geometry"] = bbox(0.2, 0.1, -0.1, 0.02)
    add("negative_box_width", [PAGE] + line)

    # stage 5: a dangling line whose Id is an int cannot name its dummy
    # layout (TypeError from line.id + "_parent")
    line = text_line(1, 0.1)
    line[0]["Id"] = 7
    add("dangling_line_int_id", [PAGE] + line)

    # emit: a word whose Text is a number fails the field join (TypeError)
    line = text_line(1, 0.1)
    line[1]["Text"] = 42
    add("word_text_number", [PAGE] + line)
    return docs
