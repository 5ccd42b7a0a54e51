"""Fixture corpus helpers and the one home of the external reference inputs.

Builds the input-table encoding of FIXTURES.md §1 from the reference fixture
corpus: one media span ("WxH" + image filename) followed by the Textract JSON
payload split into `chunk_size` text spans (chunking exercises the pipeline's
offset-ordered reassembly).

The reference inputs (8 Textract JSONs, their reference PAGE-XMLs and the
workspace mets.xml) live outside the repo. This module is the only place
that knows where; every reader of them goes through ``read_reference``,
which raises ``ReferenceMissing`` when a file is absent. The committed
goldens (tests/golden/) are always present.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Dict, Iterator, List, Optional, Tuple

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "golden")
REF_WORKSPACE = "/root/reference/tests/workspace"
REF_JSON_DIR = os.path.join(REF_WORKSPACE, "textract_responses")
REF_XML_DIR = os.path.join(REF_WORKSPACE, "reference_page_xml")
REF_METS = os.path.join(REF_WORKSPACE, "mets.xml")
REFERENCE_MISSING = f"reference inputs absent: no {REF_WORKSPACE}"


class ReferenceMissing(FileNotFoundError):
    """A reference input file is absent."""


def reference_available() -> bool:
    return all(os.path.exists(p) for p in (REF_JSON_DIR, REF_XML_DIR, REF_METS))


def reference_path(path: str) -> str:
    """``path`` itself if it exists, else ReferenceMissing."""
    if not os.path.exists(path):
        raise ReferenceMissing(f"{REFERENCE_MISSING} ({path})")
    return path


def read_reference(path: str) -> str:
    with open(reference_path(path), encoding="utf-8") as f:
        return f.read()


def load_textract_text(doc_id: str) -> str:
    return read_reference(os.path.join(REF_JSON_DIR, f"{doc_id}.json"))


def load_textract_json(doc_id: str) -> Dict:
    return json.loads(load_textract_text(doc_id))


def doc_row(doc_id: str, json_text: str, width: int, height: int,
            media_ref: str, chunk_size: Optional[int] = None) -> Tuple[str, List]:
    spans = [("media", f"{width}x{height}", media_ref, 0)]
    if chunk_size is None:
        chunk_size = len(json_text) or 1
    for i, start in enumerate(range(0, len(json_text), chunk_size)):
        spans.append(("text", json_text[start:start + chunk_size], "", i + 1))
    return (doc_id, spans)


def golden_meta(doc_id: str) -> Dict:
    with open(os.path.join(GOLDEN_DIR, f"{doc_id}.json"), encoding="utf-8") as f:
        return json.load(f)


def fixture_ids() -> List[str]:
    return sorted(
        os.path.basename(p)[:-5]
        for p in glob.glob(os.path.join(GOLDEN_DIR, "*.json"))
    )


def fixture_doc_rows(chunk_size: Optional[int] = None) -> Iterator[Tuple[str, List]]:
    for doc_id in fixture_ids():
        meta = golden_meta(doc_id)
        yield doc_row(doc_id, load_textract_text(doc_id), meta["width"],
                      meta["height"], meta["media_ref"], chunk_size)


def media_doc_rows() -> List[Tuple[str, List]]:
    """The fixture docs' media spans alone, from the committed goldens:
    ``doc_row`` with empty text yields only the media span."""
    metas = {doc_id: golden_meta(doc_id) for doc_id in fixture_ids()}
    return [doc_row(doc_id, "", m["width"], m["height"], m["media_ref"])
            for doc_id, m in metas.items()]
