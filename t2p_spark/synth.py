"""Deterministic synthetic Textract corpus generator (FIXTURES.md §4).

Two families, all seeded (no wall clock, no external data, no file reads):

  A. generated — random valid block DAGs covering the fixture gaps:
                 KEY_VALUE_SET, LAYOUT_TABLE (geometry-matched + unmatched),
                 LAYOUT_PAGE_NUMBER, LAYOUT_LIST one-level nesting,
                 SELECTED selection elements, merged cells, bbox-only
                 geometry, multi-CHILD-relationship blocks.
  B. skew      — pathological many-block documents (north_rule) and
                 quarantine docs (dangling words, wordless tables).

Quarantine composition (measured, asserted exactly in
tests/test_synth_sweep.py): every ``bad-`` doc quarantines by construction,
AND a fraction of ``gen-`` docs (~5% at 2000 docs) quarantine via the
reference's *faithful* table-splice crash path — a Key/Value or de-nested
layout as the table's word-order predecessor raises ValueError in the
reference (convert_aws.py:931-936), which this engine maps to quarantine
per SURVEY §2.8. The pure-Python oracle and the Spark kernel agree on the
exact per-doc verdict; ``skew-`` docs always convert.
"""

from __future__ import annotations

import json
import random
from typing import Dict, Iterator, List, Optional, Tuple

from t2p_spark.fixtures import doc_row

WORDS = (
    "spark shuffle partition arrow batch kernel span layout table cell "
    "word line page figure reading order textract golden oracle quarantine "
    "lineage bucket salt skew broadcast codegen pushdown prune vector"
).split()


def _uuid(rng: random.Random) -> str:
    return "%08x-%04x-%04x-%04x-%012x" % (
        rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
        rng.getrandbits(16), rng.getrandbits(48),
    )


def _bbox(l: float, t: float, w: float, h: float) -> Dict:
    return {"BoundingBox": {"Left": round(l, 6), "Top": round(t, 6),
                            "Width": round(w, 6), "Height": round(h, 6)}}


def _poly_from(l: float, t: float, w: float, h: float,
               rng: random.Random) -> Dict:
    jit = lambda v: min(1.0, max(0.0, v + rng.uniform(-0.002, 0.002)))  # noqa: E731
    pts = [(l, t), (l + w, t), (l + w, t + h), (l, t + h)]
    geom = _bbox(l, t, w, h)
    geom["Polygon"] = [{"X": round(jit(x), 6), "Y": round(jit(y), 6)}
                       for x, y in pts]
    return geom


class _PageBuilder:
    """Assembles a Blocks array in Textract emission order:
    PAGE, (LINE, WORD*)*, TABLE/CELL/..., KEY_VALUE_SET*, LAYOUT_*.
    Vertical cursor tracks top-to-bottom reading order."""

    def __init__(self, rng: random.Random, use_polygons: bool) -> None:
        self.rng = rng
        self.use_polygons = use_polygons
        self.lines: List[Dict] = []
        self.tables: List[Dict] = []
        self.kvs: List[Dict] = []
        self.layouts: List[Dict] = []
        self.y = 0.02

    def geom(self, l, t, w, h) -> Dict:
        if self.use_polygons:
            return _poly_from(l, t, w, h, self.rng)
        return _bbox(l, t, w, h)

    def _advance(self, h: float) -> float:
        top = self.y
        self.y = min(0.98, self.y + h + 0.005)
        return top

    def add_line(self, n_words: int, left=0.05, width=0.9,
                 height=0.012, text_type="PRINTED") -> Dict:
        rng = self.rng
        top = self._advance(height)
        texts = [rng.choice(WORDS) for _ in range(n_words)]
        word_ids = []
        words = []
        for i, t in enumerate(texts):
            wl = left + width * i / n_words
            ww = width / n_words * 0.9
            wid = _uuid(rng)
            word_ids.append(wid)
            words.append({
                "Id": wid, "BlockType": "WORD", "Text": t,
                "TextType": text_type if rng.random() < 0.9 else "HANDWRITING",
                "Confidence": round(rng.uniform(50, 99.99), 6),
                "Geometry": self.geom(wl, top, ww, height),
            })
        line = {
            "Id": _uuid(rng), "BlockType": "LINE", "Text": " ".join(texts),
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "Geometry": self.geom(left, top, width, height),
            "Relationships": [{"Type": "CHILD", "Ids": word_ids}],
        }
        self.lines.append(line)
        self.lines.extend(words)
        return line

    def add_paragraph(self, layout_type="LAYOUT_TEXT", n_lines=3,
                      multi_child=False) -> Dict:
        rng = self.rng
        top0 = self.y
        lines = [self.add_line(rng.randint(2, 7)) for _ in range(n_lines)]
        ids = [l["Id"] for l in lines]
        if multi_child and len(ids) > 1:
            # second CHILD group must be ignored (§2.8.4 first-group-only)
            rels = [{"Type": "CHILD", "Ids": ids[:-1]},
                    {"Type": "CHILD", "Ids": [ids[-1]]}]
        else:
            rels = [{"Type": "CHILD", "Ids": ids}]
        layout = {
            "Id": _uuid(rng), "BlockType": layout_type,
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "Geometry": self.geom(0.04, top0, 0.92, self.y - top0),
            "Relationships": rels,
        }
        self.layouts.append(layout)
        return layout

    def add_list(self, n_items=2) -> None:
        rng = self.rng
        top0 = self.y
        children = [self.add_paragraph("LAYOUT_TEXT", rng.randint(1, 3))
                    for _ in range(n_items)]
        self.layouts.append({
            "Id": _uuid(rng), "BlockType": "LAYOUT_LIST",
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "Geometry": self.geom(0.03, top0, 0.94, self.y - top0),
            "Relationships": [{"Type": "CHILD",
                               "Ids": [c["Id"] for c in children]}],
        })

    def add_figure(self, n_lines=1) -> None:
        rng = self.rng
        top0 = self.y
        lines = [self.add_line(rng.randint(1, 4)) for _ in range(n_lines)]
        self._advance(0.08)
        self.layouts.append({
            "Id": _uuid(rng), "BlockType": "LAYOUT_FIGURE",
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "Geometry": self.geom(0.1, top0, 0.8, self.y - top0),
            "Relationships": [{"Type": "CHILD",
                               "Ids": [l["Id"] for l in lines]}],
        })

    def add_table(self, rows=3, cols=3, merged=0, selection=0,
                  layout_table: Optional[str] = None,
                  wordless: bool = False) -> None:
        """layout_table: None | 'matched' | 'unmatched' — adds a LAYOUT_TABLE
        block with equal / different geometry (J10 both arms)."""
        rng = self.rng
        top0 = self.y
        cell_h = 0.02
        cells = []
        sel_blocks = []
        for r in range(rows):
            rtop = self._advance(cell_h)
            for c in range(cols):
                cl = 0.05 + 0.9 * c / cols
                cw = 0.9 / cols * 0.95
                cell = {
                    "Id": _uuid(rng), "BlockType": "CELL",
                    "RowIndex": r + 1, "ColumnIndex": c + 1,
                    "RowSpan": 1, "ColumnSpan": 1,
                    "Confidence": round(rng.uniform(50, 99.99), 6),
                    "Geometry": self.geom(cl, rtop, cw, cell_h),
                }
                if r == 0 and rng.random() < 0.5:
                    cell["EntityTypes"] = ["COLUMN_HEADER"]
                child_ids = []
                if not wordless and rng.random() < 0.85:
                    line = self.add_line(rng.randint(1, 3), left=cl,
                                         width=cw, height=cell_h * 0.8)
                    child_ids = list(line["Relationships"][0]["Ids"])
                if selection > 0 and rng.random() < 0.3:
                    sel = {
                        "Id": _uuid(rng), "BlockType": "SELECTION_ELEMENT",
                        "SelectionStatus": rng.choice(["SELECTED", "NOT_SELECTED"]),
                        "Confidence": round(rng.uniform(50, 99.99), 6),
                        "Geometry": self.geom(cl, rtop, cw * 0.2, cell_h * 0.8),
                    }
                    sel_blocks.append(sel)
                    child_ids.append(sel["Id"])
                    selection -= 1
                if child_ids:
                    cell["Relationships"] = [{"Type": "CHILD", "Ids": child_ids}]
                cells.append(cell)
        table_geom = self.geom(0.05, top0, 0.9, self.y - top0)
        table = {
            "Id": _uuid(rng), "BlockType": "TABLE",
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "EntityTypes": ["STRUCTURED_TABLE"],
            "Geometry": table_geom,
            "Relationships": [{"Type": "CHILD",
                               "Ids": [c["Id"] for c in cells]}],
        }
        merged_blocks = []
        for _ in range(merged):
            r = rng.randrange(rows)
            c = rng.randrange(max(1, cols - 1))
            span_cells = [cells[r * cols + c], cells[r * cols + c + 1]]
            if any(sc.get("_merged") for sc in span_cells):
                continue
            for sc in span_cells:
                sc["_merged"] = True
            mb = {
                "Id": _uuid(rng), "BlockType": "MERGED_CELL",
                "RowIndex": r + 1, "ColumnIndex": c + 1,
                "RowSpan": 1, "ColumnSpan": 2,
                "Confidence": round(rng.uniform(50, 99.99), 6),
                "Geometry": self.geom(0.05 + 0.9 * c / cols, top0,
                                      0.9 / cols * 2, cell_h),
                "Relationships": [{"Type": "CHILD",
                                   "Ids": [sc["Id"] for sc in span_cells]}],
            }
            merged_blocks.append(mb)
        if merged_blocks:
            table["Relationships"][0]["Ids"].extend(
                m["Id"] for m in merged_blocks
            )
        for cell in cells:
            cell.pop("_merged", None)
        self.tables.append(table)
        self.tables.extend(cells)
        self.tables.extend(merged_blocks)
        self.tables.extend(sel_blocks)
        if layout_table:
            self.layouts.append({
                "Id": _uuid(rng), "BlockType": "LAYOUT_TABLE",
                "Confidence": round(rng.uniform(50, 99.99), 6),
                "Geometry": (json.loads(json.dumps(table_geom))
                             if layout_table == "matched"
                             else self.geom(0.05, top0, 0.88, 0.01)),
            })

    def add_kv_pair(self) -> None:
        rng = self.rng
        key_line = self.add_line(1, left=0.05, width=0.2)
        val_line = self.add_line(rng.randint(1, 2), left=0.3, width=0.3)
        sel = None
        if rng.random() < 0.5:
            sel = {
                "Id": _uuid(rng), "BlockType": "SELECTION_ELEMENT",
                "SelectionStatus": rng.choice(["SELECTED", "NOT_SELECTED"]),
                "Confidence": round(rng.uniform(50, 99.99), 6),
                "Geometry": self.geom(0.62, self.y - 0.015, 0.02, 0.012),
            }
        val_child = list(val_line["Relationships"][0]["Ids"])
        if sel is not None:
            val_child.append(sel["Id"])
        value = {
            "Id": _uuid(rng), "BlockType": "KEY_VALUE_SET",
            "EntityTypes": ["VALUE"],
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "Geometry": self.geom(0.3, self.y - 0.017, 0.34, 0.014),
            "Relationships": [{"Type": "CHILD", "Ids": val_child}],
        }
        key = {
            "Id": _uuid(rng), "BlockType": "KEY_VALUE_SET",
            "EntityTypes": ["KEY"],
            "Confidence": round(rng.uniform(50, 99.99), 6),
            "Geometry": self.geom(0.05, self.y - 0.017, 0.22, 0.014),
            "Relationships": [
                {"Type": "VALUE", "Ids": [value["Id"]]},
                {"Type": "CHILD",
                 "Ids": list(key_line["Relationships"][0]["Ids"])},
            ],
        }
        self.kvs.extend([value, key] + ([sel] if sel is not None else []))

    def add_dangling_word(self) -> None:
        """Word outside any line/cell/layout — reference crash path §2.8.1."""
        self.lines.append({
            "Id": _uuid(self.rng), "BlockType": "WORD", "Text": "dangling",
            "TextType": "PRINTED", "Confidence": 90.0,
            "Geometry": self.geom(0.4, self._advance(0.012), 0.1, 0.012),
        })

    def build(self) -> Dict:
        rng = self.rng
        blocks = [{
            "Id": _uuid(rng), "BlockType": "PAGE",
            "Geometry": _bbox(0, 0, 1, 1),
        }]
        blocks += self.lines + self.tables + self.kvs + self.layouts
        return {
            "DocumentMetadata": {"Pages": 1},
            "AnalyzeDocumentModelVersion": "1.0",
            "Blocks": blocks,
        }


def generate_doc(doc_id: str, seed: int) -> Tuple[Dict, int, int, str]:
    """One generated document: (aws_json, width, height, media_ref)."""
    rng = random.Random(seed)
    builder = _PageBuilder(rng, use_polygons=rng.random() < 0.7)
    has_layout_analysis = rng.random() < 0.6

    n_elements = rng.randint(2, 8)
    for _ in range(n_elements):
        kind = rng.choices(
            ["paragraph", "title", "section", "pagenum", "figure", "list",
             "table", "kv", "plain"],
            weights=[30, 6, 8, 3, 6, 5, 12, 6, 24],
        )[0]
        if not has_layout_analysis and kind in (
            "paragraph", "title", "section", "pagenum", "figure", "list",
        ):
            kind = "plain"
        if kind == "paragraph":
            builder.add_paragraph("LAYOUT_TEXT", rng.randint(1, 5),
                                  multi_child=rng.random() < 0.15)
        elif kind == "title":
            builder.add_paragraph("LAYOUT_TITLE", 1)
        elif kind == "section":
            builder.add_paragraph("LAYOUT_SECTION_HEADER", 1)
        elif kind == "pagenum":
            builder.add_paragraph("LAYOUT_PAGE_NUMBER", 1)
        elif kind == "figure":
            builder.add_figure(rng.randint(0, 3))
        elif kind == "list":
            builder.add_list(rng.randint(1, 3))
        elif kind == "table":
            builder.add_table(
                rows=rng.randint(2, 5), cols=rng.randint(2, 4),
                merged=rng.randint(0, 2), selection=rng.randint(0, 2),
                layout_table=(
                    None if not has_layout_analysis or rng.random() < 0.6
                    else rng.choice(["matched", "unmatched"])
                ),
            )
        elif kind == "kv":
            builder.add_kv_pair()
        else:  # plain dangling lines -> dummy layouts
            for _ in range(rng.randint(1, 4)):
                builder.add_line(rng.randint(2, 8))

    width = rng.randint(400, 4000)
    height = rng.randint(400, 6000)
    return builder.build(), width, height, f"images/{doc_id}.jpg"


def generate_skew_doc(doc_id: str, seed: int, n_lines: int) -> Tuple[Dict, int, int, str]:
    """Pathological many-block doc: n_lines dangling lines (~9x blocks)."""
    rng = random.Random(seed)
    builder = _PageBuilder(rng, use_polygons=False)
    for _ in range(n_lines):
        builder.add_line(rng.randint(4, 12))
        builder.y = 0.02 + (builder.y - 0.02) % 0.9  # wrap the cursor
    return builder.build(), 2000, 3000, f"images/{doc_id}.jpg"


def generate_quarantine_doc(doc_id: str, seed: int) -> Tuple[Dict, int, int, str]:
    rng = random.Random(seed)
    builder = _PageBuilder(rng, use_polygons=False)
    builder.add_line(3)
    case = seed % 3
    if case == 0:
        builder.add_dangling_word()
    elif case == 1:
        builder.add_table(rows=2, cols=2, wordless=True)
    else:
        # second PAGE block
        builder.lines.append({
            "Id": _uuid(rng), "BlockType": "PAGE",
            "Geometry": _bbox(0, 0, 1, 1),
        })
    return builder.build(), 1000, 1000, f"images/{doc_id}.jpg"


def row_for_index(i: int, seed: int = 42,
                  chunk_size: Optional[int] = None,
                  quarantine_ratio: float = 0.02,
                  skew_ratio: float = 0.01) -> Tuple[str, List]:
    """The i-th corpus row — a pure function of (i, seed), so corpus
    generation distributes over the cluster (``synth_docs`` runs it inside
    mapInArrow; an undistributable generator is useless at target scale)."""
    doc_seed = seed * 1_000_003 + i
    r = (i * 2654435761) % 1000 / 1000.0  # deterministic mix selector
    if r < quarantine_ratio:
        doc_id = f"bad-{i:08d}"
        aws, w, h, ref = generate_quarantine_doc(doc_id, doc_seed)
    elif r < quarantine_ratio + skew_ratio:
        doc_id = f"skew-{i:08d}"
        aws, w, h, ref = generate_skew_doc(doc_id, doc_seed,
                                           n_lines=2000 + (i % 3) * 2000)
    else:
        doc_id = f"gen-{i:08d}"
        aws, w, h, ref = generate_doc(doc_id, doc_seed)
    return doc_row(doc_id, json.dumps(aws, separators=(",", ":")),
                   w, h, ref, chunk_size)


def corpus_rows(n_docs: int, seed: int = 42, chunk_size: Optional[int] = None,
                quarantine_ratio: float = 0.02,
                skew_ratio: float = 0.01) -> Iterator[Tuple[str, List]]:
    """(doc_id, spans) input rows for a synthetic corpus of n_docs docs.

    Deterministic in (n_docs, seed). Mix: skew and quarantine docs per the
    ratios, remainder generated DAGs.
    """
    for i in range(n_docs):
        yield row_for_index(i, seed, chunk_size, quarantine_ratio, skew_ratio)


def synth_docs(ids, seed: int):
    """The docs table (schema.DOCS_SCHEMA) for an ``id`` frame such as
    ``spark.range(n)``: row ``i`` is ``row_for_index(i, seed)`` with 1 MiB
    text spans, generated on the executors. The caller partitions ``ids``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from t2p_spark.schema import DOCS_SCHEMA

    arrow_schema = to_arrow_schema(DOCS_SCHEMA)

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [row_for_index(i, seed, chunk_size=1 << 20)
                    for i in batch.column("id").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[0] for r in rows], pa.string()),
                 pa.array([r[1] for r in rows],
                          arrow_schema.field("spans").type)],
                schema=arrow_schema)

    return ids.mapInArrow(gen, DOCS_SCHEMA)
