"""Single-document Textract-JSON -> span-sequence converter (the oracle).

Re-derives, stage by stage, the semantics of the reference converter
``/root/reference/textract2page/convert_aws.py`` (slub/textract2page), but
emits the flattened span sequence of FIXTURES.md §3 directly instead of
PAGE-XML. Used three ways:

  1. as the pytest oracle validated against the flattened golden XMLs,
  2. inside the Arrow batch kernel (``t2p_spark.kernel``) — the per-document
     unit of work after columnar JSON assembly,
  3. by ``synth.py`` to compute goldens for generated corpora.

Reference crash paths (SURVEY.md §2.8) surface here as ordinary Python
exceptions; callers wrap them via :func:`convert_doc_safe` into quarantine
rows instead of killing the job — documents the reference would crash on
are *invalid input*, never silently mis-converted.

Citations in comments are file:line into the reference ``convert_aws.py``.
"""

from __future__ import annotations

import math
from operator import itemgetter
from typing import Dict, List, Tuple

_GET_XY = itemgetter("X", "Y")

Span = Tuple[str, str, str, int]

US = "\x1f"

# convert_aws.py:39
TEXT_TYPE_MAP = {"PRINTED": "printed", "HANDWRITING": "handwritten-cursive"}
# convert_aws.py:40-51
LAYOUT_TYPE_MAP = {
    "LAYOUT_TITLE": "heading",
    "LAYOUT_HEADER": "header",
    "LAYOUT_FOOTER": "footer",
    "LAYOUT_SECTION_HEADER": "heading",
    "LAYOUT_PAGE_NUMBER": "page-number",
    "LAYOUT_LIST": "other",
    "LAYOUT_FIGURE": "other",
    "LAYOUT_TABLE": "other",
    "LAYOUT_KEY_VALUE_SET": "other",
    "LAYOUT_TEXT": "paragraph",
}


# ---------------------------------------------------------------------------
# geometry — tagged tuples reproduce the reference dataclass equality
# (convert_aws.py:54-120; equality is used for the table<->LAYOUT_TABLE
#  match at :924)

def build_geometry(geom: Dict) -> tuple:
    """convert_aws.py:599-608 with the validation asserts of :65-67,:86-92,:107-108."""
    if "Polygon" in geom:
        try:
            # fast path: C-level itemgetter (~4x the dict-.get listcomp) —
            # the fallback re-runs the canonical form so every miss raises
            # the ORIGINAL exception (error strings are part of the contract)
            pts = tuple(map(_GET_XY, geom["Polygon"]))
        except (KeyError, TypeError):
            pts = tuple(
                [(p.get("X", -1.0), p.get("Y", -1.0)) for p in geom["Polygon"]]
            )
        if len(pts) > 16:
            # long polygons: C-speed range check; the per-point assert loop
            # re-runs only on violation to produce the exact reference
            # AssertionError. s == s is the NaN sentinel (NaN always
            # propagates through sum, but can hide from min/max).
            xs, ys = zip(*pts)
            s = sum(xs) + sum(ys)
            if not (0 <= min(xs) and max(xs) <= 1
                    and 0 <= min(ys) and max(ys) <= 1 and s == s):
                for x, y in pts:
                    assert 0 <= x <= 1, x  # :66
                    assert 0 <= y <= 1, y  # :67
        else:  # short polygons: the plain loop beats the zip/min/max setup
            for x, y in pts:
                assert 0 <= x <= 1, x  # :66
                assert 0 <= y <= 1, y  # :67
        assert len(pts) >= 3, len(pts)  # :108
        return ("P", pts)
    bbox = geom["BoundingBox"]
    try:
        left = bbox["Left"]
        top = bbox["Top"]
        width = bbox["Width"]
        height = bbox["Height"]
    except (KeyError, TypeError):
        left = bbox.get("Left", -1.0)
        top = bbox.get("Top", -1.0)
        width = bbox.get("Width", -1.0)
        height = bbox.get("Height", -1.0)
    assert 0 <= left <= 1, left          # :87
    assert 0 <= top <= 1, top            # :88
    assert 0 <= width <= 1, width        # :89
    assert 0 <= height <= 1, height      # :90
    assert width + left <= 1, (width, left)    # :91
    assert height + top <= 1, (height, top)    # :92
    return ("B", (left, top, width, height))


def points_from_geometry(geometry: tuple, w: int, h: int) -> str:
    """Pixel points string — convert_aws.py:567-596. ceil, never round."""
    kind, data = geometry
    if kind == "P":
        c = math.ceil
        return " ".join(
            [f"{c(x * w)},{c(y * h)}" for x, y in data]
        )
    left, top, width, height = data
    x1 = math.ceil(left * w)
    y1 = math.ceil(top * h)
    x2 = math.ceil((left + width) * w)
    y3 = math.ceil((top + height) * h)
    # clockwise TL TR BR BL (:573-582)
    return f"{x1},{y1} {x2},{y1} {x2},{y3} {x1},{y3}"


def _append_first_seen(dst: list, items) -> None:
    """First-seen append — identical semantics to the reference's
    ``x not in list`` loops (blocks have identity ``==``; None dedups to
    one entry either way). Tiny lists (the common cell/line case) use the
    plain linear scan; an id-set takes over once dst grows, so pathological
    many-line layouts stay O(n) instead of O(n^2)."""
    seen = None
    for it in items:
        if seen is None:
            if it not in dst:
                dst.append(it)
            if len(dst) > 32:
                seen = set(map(id, dst))
        else:
            k = id(it)
            if k not in seen:
                seen.add(k)
                dst.append(it)


def get_child_ids(block: Dict) -> List[str]:
    """First CHILD relationship group only — convert_aws.py:611-631 (§2.8.4).

    Crash parity: once any CHILD entry exists (probed with .get), the
    reference's comprehension evaluates ``rel["Type"]`` on EVERY
    relationship — a relationship dict missing "Type" raises KeyError
    (-> quarantine). A first-CHILD early return would skip that scan and
    convert such docs successfully, silently diverging from the reference
    (r2 ADVICE). Likewise Ids defaults via .get(.., []) — an explicit
    ``"Ids": null`` propagates None and crashes in the caller, as there.
    And the default must be .get("Relationships", []) with NO ``or []``
    coercion: an explicit ``"Relationships": null`` returns None and the
    any() scan raises TypeError (-> quarantine) in the reference too
    (r3 ADVICE).
    """
    rels = block.get("Relationships", [])
    if not any(r.get("Type") == "CHILD" for r in rels):
        return []
    return [r.get("Ids", []) for r in rels if r["Type"] == "CHILD"][0]


# ---------------------------------------------------------------------------
# block model — minimal mirrors of the reference classes; identity-based
# equality everywhere except geometry (tuples), exactly like the reference.
# The model is a tree: objects hold only their downward lists. The
# reference's upward parent_* attributes live in the per-build _Links.

class _Links:
    """Upward links of one ``build_model`` call, one dict per parent slot
    of the reference (``parent_line``, ``parent_cell`` -> its table,
    ``parent_value``, ``parent_key``, ``parent_layout``), each mapping a
    Word or Line object to its parent. Keyed by object, not Id: a WORD and
    a LINE block may share an Id. Written in construction order, so the
    last constructor wins, as with the reference's attribute writes."""
    __slots__ = ("line", "table", "value", "key", "layout")

    def __init__(self) -> None:
        self.line: Dict = {}
        self.table: Dict = {}
        self.value: Dict = {}
        self.key: Dict = {}
        self.layout: Dict = {}


def _link(links: Dict, children: list, parent) -> None:
    """The reference's ``child.parent_x = parent`` loop: a None child (a
    child id that resolved to no block) raises AttributeError there."""
    if None in children:
        raise AttributeError(
            f"child of {parent!r} is no block: reference crash path "
            "(parent link set on None)")
    links.update(dict.fromkeys(children, parent))


def _child_lines(lines: list, words: list, up: _Links) -> list:
    """Append the words' lines to ``lines`` first-seen (:354-357, :182-184);
    a word outside any line appends None."""
    _append_first_seen(lines, map(up.line.get, words))
    return lines


def _check_selection_elements(child_ids, selection_blocks) -> None:
    """The reference builds a SelectionElement per selection child
    (:529-554) that no output reads; only its validation is kept."""
    for i in child_ids:
        block = selection_blocks.get(i)
        if block:
            build_geometry(block.get("Geometry"))  # :130
            float(block.get("Confidence"))  # :131


class _Block:
    __slots__ = ("id", "prefix", "geometry", "confidence")

    def _base(self, block: Dict, prefix: str) -> None:
        self.id = block.get("Id")
        self.prefix = prefix
        self.geometry = build_geometry(block.get("Geometry"))  # :130
        self.confidence = float(block.get("Confidence")) / 100  # :131

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self.id!r})"


class Word(_Block):
    __slots__ = ("text", "text_type")

    def __init__(self, block: Dict) -> None:  # :406-421
        self._base(block, "textract-word")
        self.text = block.get("Text")
        self.text_type = TEXT_TYPE_MAP.get(block.get("TextType"))


class Line(_Block):
    __slots__ = ("text", "child_words")

    def __init__(self, block: Dict, words: Dict[str, Word], up: _Links) -> None:  # :273-292
        self._base(block, "textract-line")
        self.text = block.get("Text")
        # :284-288 — no None-filter: a non-WORD child id yields None and the
        # parent link crashes (AttributeError), like the reference.
        self.child_words = [words.get(i) for i in get_child_ids(block)]
        _link(up.line, self.child_words, self)


class _Cell(_Block):
    __slots__ = ("row_index", "column_index", "row_span", "column_span",
                 "column_header")

    def _cell_base(self, block: Dict, prefix: str) -> None:  # :295-312
        self._base(block, prefix)
        self.row_index = int(block["RowIndex"]) - 1
        self.column_index = int(block["ColumnIndex"]) - 1
        self.row_span = int(block["RowSpan"])
        self.column_span = int(block["ColumnSpan"])
        self.column_header = "COLUMN_HEADER" in (block.get("EntityTypes") or [])


class CommonCell(_Cell):
    __slots__ = ("child_lines",)

    def __init__(self, block, table, selection_blocks, words, up) -> None:  # :331-369
        self._cell_base(block, "textract-cell")
        child_ids = get_child_ids(block)
        child_words = [w for w in map(words.get, child_ids) if w]
        _link(up.table, child_words, table)  # :351-352
        self.child_lines = _child_lines([], child_words, up)
        _link(up.table, self.child_lines, table)  # :358-359
        _check_selection_elements(child_ids, selection_blocks)


class MergedCell(_Cell):
    __slots__ = ("child_cells", "child_lines")

    def __init__(self, block, common_cells) -> None:  # :372-403
        self._cell_base(block, "textract-merged-cell")
        # :384-389 nested loop, CHILD-id order
        self.child_cells = [cell for cell_id in get_child_ids(block)
                            for cell in common_cells if cell.id == cell_id]
        self.child_lines = [l for c in self.child_cells for l in c.child_lines]


class Table(_Block):
    __slots__ = ("cells", "rows", "columns")

    def __init__(self, block, cell_blocks, merged_cell_blocks,
                 selection_blocks, words, up) -> None:  # :199-270
        self._base(block, "textract-table")
        # :201 — the STRUCTURED_TABLE probe (its flag is never read) raises
        # TypeError on a non-container EntityTypes
        "STRUCTURED_TABLE" in (block.get("EntityTypes") or [])
        child_ids = get_child_ids(block)
        # :237-246 left-semi: ids not in cell_blocks are dropped
        common_cells = [
            CommonCell(cell_blocks[i], self, selection_blocks, words, up)
            for i in child_ids
            if cell_blocks.get(i)
        ]
        merged_of = {}  # :384-389 — the last merged cell claiming a cell wins
        for i in child_ids:
            if merged_cell_blocks.get(i):
                merged = MergedCell(merged_cell_blocks[i], common_cells)
                merged_of.update(dict.fromkeys(merged.child_cells, merged))
        # the emitted cells (:1116-1123): each merged cell once, in place of
        # its first child cell
        self.cells = list(dict.fromkeys(
            merged_of.get(c, c) for c in common_cells))
        # :262-269 — max() raises on a cell-less table (quarantine, §2.8)
        self.rows = max(c.row_index for c in common_cells) + 1
        self.columns = max(c.column_index for c in common_cells) + 1


class Value(_Block):
    __slots__ = ()

    def __init__(self, block, selection_blocks, words, up) -> None:  # :424-469
        self._base(block, "textract-value")
        child_ids = get_child_ids(block)
        _check_selection_elements(child_ids, selection_blocks)
        child_words = [w for w in map(words.get, child_ids) if w]
        _link(up.value, child_words, self)
        _link(up.value, _child_lines([], child_words, up), self)


class Key(_Block):
    __slots__ = ()

    def __init__(self, block, values, words, up) -> None:  # :472-526
        self._base(block, "textract-key")
        rels = block.get("Relationships") or []
        if any(r.get("Type") == "VALUE" for r in rels):
            value_ids = [
                r.get("Ids") or [] for r in rels if r["Type"] == "VALUE"
            ][0]
            # :505-509 — a missing value id yields None -> AttributeError
            if None in [values.get(i) for i in value_ids]:
                raise AttributeError(
                    f"{self!r} names a missing VALUE block: reference crash "
                    "path")
        child_words = [w for w in map(words.get, get_child_ids(block)) if w]
        _link(up.key, child_words, self)
        _link(up.key, _child_lines([], child_words, up), self)


class Layout(_Block):
    __slots__ = ("page_layout_type", "textract_layout_type",
                 "child_lines", "child_regions")

    def __init__(self, block, top_blocks, words, lines, up) -> None:  # :134-196
        layout_type = block["BlockType"]
        prefix = "textract-" + layout_type.lower().replace("_", "-")  # :165-167
        self._base(block, prefix)
        self.page_layout_type = LAYOUT_TYPE_MAP.get(layout_type, "floating")  # :163
        self.textract_layout_type = layout_type
        child_ids = get_child_ids(block)
        child_words = [w for w in map(words.get, child_ids) if w]
        _link(up.layout, child_words, self)  # :174-175
        # :182-184 — may append a None line, on which :186-187 crashes
        self.child_lines = _child_lines(
            [x for x in map(lines.get, child_ids) if x], child_words, up)
        _link(up.layout, self.child_lines, self)
        self.child_regions = [
            b for b in map(top_blocks.get, child_ids) if b
        ]


def _dummy_layout(line: Line) -> Layout:
    """The LAYOUT_DUMMY parent of a dangling line (:895-906). The reference
    builds it from a copy of the line's block under the Id
    ``<line id>_parent``, so its geometry and confidence are the line's,
    already validated; a non-str line Id raises TypeError here as there."""
    dummy = Layout.__new__(Layout)
    dummy.id = line.id + "_parent"  # :902-903
    dummy.prefix = "textract-layout-dummy"
    dummy.geometry = line.geometry
    dummy.confidence = line.confidence
    dummy.page_layout_type = "floating"
    dummy.textract_layout_type = "LAYOUT_DUMMY"
    dummy.child_lines = [line]
    dummy.child_regions = []
    return dummy


# ---------------------------------------------------------------------------
# reading order — convert_aws.py:634-701

def derive_reading_order(word_list, up: _Links) -> List[object]:
    """Each word's line's region, then the word's own region, first-seen.
    A region is the first set of the table (via the cell), value, key and
    layout links — later dicts in the merge take precedence."""
    region_of = {**up.layout, **up.key, **up.value, **up.table}
    line_of = up.line
    top: List[object] = []
    seen = set()
    for word in word_list:
        for region in (region_of.get(line_of.get(word)), region_of.get(word)):
            if region is not None and region not in seen:
                seen.add(region)
                top.append(region)
    return top


# ---------------------------------------------------------------------------
# serialization to spans — mirrors instantiate_pagexml (:1001-1199) plus the
# flattening spec (FIXTURES.md §3): pre-order, same field joins.

class _Emitter:
    """The spans of one document, as four columns: each span's kind, its
    geometry, the text that follows its points, and its media ref. The
    points are formatted afterwards, per span by :meth:`spans` or in bulk
    by the Arrow kernel (``t2p_spark.kernel``). Each tail is joined
    as ``US.join(["", ...])`` so that a non-str field raises the same
    ``sequence item N`` TypeError as a join that starts with the points."""

    def __init__(self, media_ref: str) -> None:
        self.media_ref = media_ref
        self.kinds: List[str] = []
        self.geoms: List[tuple] = []
        self.tails: List[str] = []
        self.refs: List[str] = []

    def _span(self, kind: str, obj, tail: str, ref: str = "") -> None:
        self.kinds.append(kind)
        self.geoms.append(obj.geometry)
        self.tails.append(tail)
        self.refs.append(ref)

    def spans(self, w: int, h: int) -> List[Span]:
        """The spans as ``(kind, text, media_ref, offset)`` tuples, each
        span's points formatted by :func:`points_from_geometry`."""
        pts = points_from_geometry
        return [(k, pts(g, w, h) + t, m, i)
                for i, (k, g, t, m) in enumerate(
                    zip(self.kinds, self.geoms, self.tails, self.refs))]

    def emit_line(self, line: Line) -> None:  # :1061-1072
        self._span("line", line, US.join(["", line.text or ""]))
        # the line's words (:1074-1081), column by column
        words = line.child_words
        self.tails.extend([US.join(["", w.text or "", w.text_type or ""])
                           for w in words])
        self.kinds.extend(["word"] * len(words))
        self.geoms.extend([w.geometry for w in words])
        self.refs.extend([""] * len(words))

    def emit_table(self, table: Table) -> None:  # :1112-1193
        self._span("table", table,
                   US.join(["", str(table.rows), str(table.columns)]))
        for cell in table.cells:
            self._span("cell", cell, US.join([
                "",
                str(cell.row_index),
                str(cell.column_index),
                str(cell.row_span),
                str(cell.column_span),
                "true" if cell.column_header else "false",
            ]))
            for line in cell.child_lines:  # :1160-1175 full line + all words
                self.emit_line(line)

    def emit_layout(self, layout: Layout) -> None:
        lt = layout.textract_layout_type
        if lt == "LAYOUT_FIGURE":  # :1018-1054
            # ImageRegionType has no `type` attribute — the reference's
            # type_=page_layout_type (:1020) is silently dropped by the
            # serializer (golden XMLs carry no @type on ImageRegion).
            self._span("media", layout,
                       US.join(["", "", "textract-layout-type: figure;"]),
                       self.media_ref)
            for line in layout.child_lines:
                # dummy text region per line (:1027-1037): no type/custom
                self._span("region", line, US.join(["", "", ""]))
                self.emit_line(line)
            # :1050-1052
            assert len(layout.child_regions) == 0, \
                "unexpected AWS layout recursion in LAYOUT_FIGURE"
            return
        if lt == "LAYOUT_TABLE":  # :1057-1059 — emits nothing
            return
        # :1083-1110
        custom = ""
        if lt != "LAYOUT_DUMMY":  # :1085-1088
            custom = f"textract-layout-type: {lt.split('LAYOUT_')[1].lower()};"
        self._span("region", layout,
                   US.join(["", layout.page_layout_type, custom]))
        for line in layout.child_lines:
            self.emit_line(line)
        for child in layout.child_regions:
            # :1094-1099 — AttributeError on Table/Key/Value children,
            # AssertionError on FIGURE/TABLE recursion, like the reference
            assert child.textract_layout_type.startswith("LAYOUT_") and \
                child.textract_layout_type not in ("LAYOUT_FIGURE", "LAYOUT_TABLE"), \
                "unexpected AWS layout recursion"
            self.emit_layout(child)


# ---------------------------------------------------------------------------
# the engine — convert_aws.py:728-1211 stages 2..8 (§3.3)

class _Model:
    """Stages 2-6 output: everything serialization needs (spans or XML)."""
    __slots__ = ("layouts", "tables", "reading_order")

    def __init__(self, layouts, tables, reading_order) -> None:
        self.layouts = layouts
        self.tables = tables
        self.reading_order = reading_order


def build_model(aws_json: Dict) -> _Model:
    """Stages 2-6 (bucket, link, de-nest, repair, order) of the reference
    pipeline — shared by the span emitter (convert_doc) and the PAGE-XML
    renderer (t2p_spark.render_xml). Raises on every input the reference
    converter would crash on (SURVEY.md §2.8).
    """
    # stage 2: bucket (:753-792)
    page_block = None
    line_blocks: Dict[str, Dict] = {}
    word_blocks: Dict[str, Dict] = {}
    table_blocks: Dict[str, Dict] = {}
    cell_blocks: Dict[str, Dict] = {}
    merged_cell_blocks: Dict[str, Dict] = {}
    selection_blocks: Dict[str, Dict] = {}
    kv_blocks: Dict[str, Dict] = {}
    layout_blocks: Dict[str, Dict] = {}
    block_order: Dict[str, int] = {}
    # dict dispatch replaces the reference's 8 sequential string compares
    # per block (same routing: BlockTypes are mutually exclusive except the
    # LAYOUT_ prefix family; PAGE keeps its exact single-page assert)
    buckets = {
        "LINE": line_blocks, "WORD": word_blocks, "TABLE": table_blocks,
        "CELL": cell_blocks, "MERGED_CELL": merged_cell_blocks,
        "SELECTION_ELEMENT": selection_blocks, "KEY_VALUE_SET": kv_blocks,
    }
    for order, block in enumerate(aws_json["Blocks"]):
        block_order[block["Id"]] = order
        bt = block["BlockType"]
        target = buckets.get(bt)
        if target is not None:
            target[block["Id"]] = block
        elif bt == "PAGE":
            assert page_block is None, "page must not have more than 1 PAGE block"
            page_block = block
        elif bt.startswith("LAYOUT_"):
            layout_blocks[block["Id"]] = block
        # TABLE_TITLE / TABLE_FOOTER blocks are collected but never used by
        # the reference (§2.8.6) — we skip the dead buckets entirely.

    # stage 3: link (:794-841) — construction order defines link precedence
    up = _Links()
    words = {i: Word(b) for i, b in word_blocks.items()}
    lines = {i: Line(b, words, up) for i, b in line_blocks.items()}
    tables = {
        i: Table(b, cell_blocks, merged_cell_blocks, selection_blocks, words, up)
        for i, b in table_blocks.items()
    }
    values = {
        i: Value(b, selection_blocks, words, up)
        for i, b in kv_blocks.items()
        if "VALUE" in (b.get("EntityTypes") or [])
    }
    keys = {
        i: Key(b, values, words, up)
        for i, b in kv_blocks.items()
        if "KEY" in (b.get("EntityTypes") or [])
    }
    top_blocks = dict(layout_blocks)
    top_blocks.update(tables)
    top_blocks.update(keys)
    top_blocks.update(values)
    layouts = {
        i: Layout(b, top_blocks, words, lines, up)
        for i, b in layout_blocks.items()
    }

    # stage 4: de-nest recursive layouts, claim tables (:843-864)
    for layout in list(layouts.values()):
        for i, child in enumerate(layout.child_regions):
            if isinstance(child, dict):
                child_id = child["Id"]
                assert child_id in layouts
                layout.child_regions[i] = layouts.pop(child_id)
            elif child.id in tables:
                del tables[child.id]
            # KEY/VALUE claiming is commented out in the reference (:857-864)

    # stage 5: repair (:866-909)
    for word in words.values():
        if word in up.line or word in up.table or word in up.layout:
            continue
        # reference crash path :888 (`lines.append` on a dict) — §2.8.1
        raise AttributeError(
            "dangling word (no line/cell/layout parent): reference crash path"
        )
    for line in lines.values():
        if line in up.table or line in up.layout:
            continue
        dummy = _dummy_layout(line)
        up.layout[line] = dummy
        block_order[dummy.id] = block_order[line.id]  # :908
        layouts[dummy.id] = dummy

    # stage 6: order (:911-941). The word-derived order is read only in
    # word-order mode and to splice a table that matches no layout.
    text_regions = None
    if any(layouts):
        layout_regions = sorted(layouts.values(), key=lambda o: block_order[o.id])
        for table in tables.values():  # :920-938 table splice
            layout_pos = -1
            for layout in layout_regions:
                if layout.geometry == table.geometry:
                    layout_pos = layout_regions.index(layout)
                    layout_regions[layout_pos] = table
                    break
            if layout_pos > -1:
                continue
            if text_regions is None:
                text_regions = derive_reading_order(words.values(), up)
            text_pos = text_regions.index(table)  # ValueError on wordless table (§2.8.3)
            if text_pos > 0:
                layout_pos = layout_regions.index(text_regions[text_pos - 1]) + 1
            else:
                layout_pos = layout_regions.index(text_regions[text_pos + 1]) + 1
            layout_regions = (
                layout_regions[:layout_pos] + [table] + layout_regions[layout_pos:]
            )
        reading_order = layout_regions
    else:
        reading_order = text_regions = derive_reading_order(words.values(), up)
        # crash parity (:1148): in word-order mode a table with cells but no
        # words is serialized (:1198) without a reading-order group ->
        # `None.add_RegionRef` AttributeError in the reference.
        in_order = {id(obj) for obj in text_regions}
        for table in tables.values():
            if id(table) not in in_order:
                raise AttributeError(
                    "wordless table in word-order mode: reference crash "
                    "path convert_aws.py:1148"
                )

    return _Model(layouts, tables, reading_order)


def emit_doc(aws_json: Dict, media_ref: str = "") -> _Emitter:
    """Stages 2-8 of one parsed Textract response: its spans as columns,
    points not yet formatted. Raises on every input the reference
    converter would crash on (SURVEY.md §2.8)."""
    model = build_model(aws_json)
    # stages 7+8 fused: emit spans per top-level object, in reading order.
    # (The reference writes region XML in construction order and reorders via
    # ReadingOrder; flatten_page_xml re-sorts to reading order — FIXTURES.md §3.)
    emitter = _Emitter(media_ref)
    for obj in model.reading_order:
        if isinstance(obj, Table):
            # word-order mode crash parity: a serialized table outside the
            # reading order never happens; a table *in* reading order always
            # has its local group (:967-976), so emission is total here.
            emitter.emit_table(obj)
        elif isinstance(obj, Layout):
            emitter.emit_layout(obj)
        # Key/Value top-level entries are reading-order-only in the reference
        # (never serialized, §2.8.2) -> dangling regionRef -> no spans.
    return emitter


def convert_doc(aws_json: Dict, img_width: int, img_height: int,
                media_ref: str = "") -> List[Span]:
    """Convert one parsed Textract response to its ordered span sequence.

    Raises on every input the reference converter would crash on
    (SURVEY.md §2.8) — wrap with :func:`convert_doc_safe` in pipelines.
    """
    return emit_doc(aws_json, media_ref).spans(img_width, img_height)


def quarantine_reason(exc: Exception) -> str:
    """A quarantined document's ``error``: the exception class and text."""
    return f"{type(exc).__name__}: {exc}"


def convert_doc_safe(aws_json, img_width, img_height, media_ref=""):
    """(status, spans, error) — quarantine instead of crash.

    status: 'ok' | 'quarantined'. Quarantined docs carry an empty span list
    and the reference crash reason (SURVEY.md §2.8 policy).
    """
    try:
        return "ok", convert_doc(aws_json, img_width, img_height, media_ref), ""
    except Exception as exc:  # noqa: BLE001 — reference crash paths are data-dependent
        return "quarantined", [], quarantine_reason(exc)
