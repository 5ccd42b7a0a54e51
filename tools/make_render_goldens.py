"""Golden canonical fingerprints for the PAGE-XML renderer.

Usage: python tools/make_render_goldens.py [--check]

For each committed reference PAGE-XML, records the md5 of its CANONICAL
form (Metadata children + Page/@imageFilename stripped, indentation
dropped, W3C C14N — t2p_spark.render_xml.canonical_form, the same
normalization the reference's own test applies). The driver's
``render_pagexml`` query computes the identical fingerprint from OUR
rendered XML in the Spark kernel, so the DuckDB oracle row matching is
renderer == reference, NOT renderer == itself.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from t2p_spark.fixtures import (  # noqa: E402
    REF_XML_DIR, read_reference, reference_path,
)
from t2p_spark.render_xml import canonical_md5  # noqa: E402

OUT_PATH = os.path.join(os.path.dirname(__file__), "..", "tests",
                        "golden_render", "render_canon_md5.json")
SYNTH_OUT_PATH = os.path.join(os.path.dirname(__file__), "..", "tests",
                              "golden_render", "render_synth_md5.json")

# Seeds chosen so the set renders cleanly (some synth docs legitimately
# hit reference crash paths -> quarantine; those can't pin renderer
# output) AND covers every renderer surface the 8 reference fixtures
# leave untested: KEY_VALUE_SET (2,6,10,15), LAYOUT_TABLE (11,15,34),
# merged cells (1,10,11,15), selection elements (1,2,10,11), and
# bbox-only geometry (0,2,6,15).
SYNTH_SEEDS = (0, 1, 2, 6, 10, 11, 15, 34)


def _synth_records() -> list:
    from t2p_spark.render_xml import render_page_xml
    from t2p_spark.synth import generate_doc

    records = []
    seen_types: set = set()
    bbox_only = False
    for s in SYNTH_SEEDS:
        doc_id = f"synthrender-{s}"
        aws, w, h, media = generate_doc(doc_id, s)
        seen_types |= {b["BlockType"] for b in aws["Blocks"]}
        bbox_only = bbox_only or "Polygon" not in json.dumps(aws)
        xml = render_page_xml(aws, w, h, media)
        records.append({
            "doc_id": doc_id,
            "status": "ok",
            "canon_md5": canonical_md5(xml),
        })
    assert {"KEY_VALUE_SET", "LAYOUT_TABLE", "MERGED_CELL",
            "SELECTION_ELEMENT"} <= seen_types and bbox_only, \
        "seed set no longer covers the gap features"
    return records


def main() -> int:
    check = "--check" in sys.argv
    os.makedirs(os.path.dirname(OUT_PATH), exist_ok=True)
    records = []
    xml_dir = reference_path(REF_XML_DIR)
    for path in sorted(glob.glob(os.path.join(xml_dir, "*.xml"))):
        doc_id = os.path.basename(path)[:-4]
        xml = read_reference(path)
        records.append({
            "doc_id": doc_id,
            "status": "ok",
            "canon_md5": canonical_md5(xml),
        })
    synth = _synth_records()
    if check:
        existing = json.load(open(OUT_PATH, encoding="utf-8"))
        assert existing == records, "render golden drift"
        print(f"checked {len(records)} records")
        existing_synth = json.load(open(SYNTH_OUT_PATH, encoding="utf-8"))
        assert existing_synth == synth, "synth render golden drift"
        print(f"checked {len(synth)} synth records")
    else:
        with open(OUT_PATH, "w", encoding="utf-8") as f:
            json.dump(records, f, indent=1)
        print(f"wrote {len(records)} records")
        with open(SYNTH_OUT_PATH, "w", encoding="utf-8") as f:
            json.dump(synth, f, indent=1)
        print(f"wrote {len(synth)} synth records")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
