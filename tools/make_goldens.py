"""Derive golden span sequences from the committed reference PAGE-XMLs.

Usage: python tools/make_goldens.py [--check]

Writes tests/golden/<doc_id>.json: {doc_id, width, height, media_ref, spans}.
Goldens are mechanical flattenings (FIXTURES.md §3) of the reference
PAGE-XMLs in t2p_spark.fixtures.REF_XML_DIR — the only executable ground
truth offline (the reference's ocrd dep is absent).
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
from t2p_spark.flatten import flatten_page_xml, page_dims  # noqa: E402

OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "golden")


def main() -> int:
    check = "--check" in sys.argv
    os.makedirs(OUT_DIR, exist_ok=True)
    n = 0
    xml_dir = reference_path(REF_XML_DIR)
    for path in sorted(glob.glob(os.path.join(xml_dir, "*.xml"))):
        stem = os.path.basename(path)[:-4]
        xml = read_reference(path)
        width, height, media_ref = page_dims(xml)
        spans = flatten_page_xml(xml, media_ref=media_ref)
        record = {
            "doc_id": stem,
            "width": width,
            "height": height,
            "media_ref": media_ref,
            "spans": [list(s) for s in spans],
        }
        out_path = os.path.join(OUT_DIR, f"{stem}.json")
        if check:
            existing = json.load(open(out_path, encoding="utf-8"))
            assert existing == record, f"golden drift: {stem}"
        else:
            with open(out_path, "w", encoding="utf-8") as f:
                json.dump(record, f, ensure_ascii=False, indent=1)
        n += 1
    print(f"{'checked' if check else 'wrote'} {n} goldens")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
