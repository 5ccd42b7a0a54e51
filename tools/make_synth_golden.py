"""Materialize the pure-Python oracle's verdict for the 120-doc synth corpus.

Usage: python tools/make_synth_golden.py [--check]

Writes tests/golden_synth/synth_corpus_120.json — one record per document
with the per-doc metrics the `extract_synth_corpus` driver query returns
(doc_id, status, n_blocks, n_spans), computed by the SAME pure-Python
conversion the pytest golden suite validates against the reference
(t2p_spark.convert.convert_doc_safe), independently of Spark. The DuckDB
driver oracle reads this file via read_json, closing the `no_oracle` gap:
Spark kernel == committed pure-Python oracle, hash-checked per round.

Also writes tests/golden_synth/convert_golden.json: for every doc of the
branch corpus (tests/branch_corpus.py) and of the 120 synth docs, the
converter's status, full quarantine reason, md5 of the span list and, for
ok docs, the rendered PAGE-XML's canonical md5. It pins convert.py and
render_xml.py byte for byte over inputs that reach every converter line
(tests/test_branch_corpus.py); regenerate it only for an intended output
change.

Deterministic: corpus_rows(120, seed=7) — identical to the driver query.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from t2p_spark.convert import convert_doc_safe  # noqa: E402
from t2p_spark.render_xml import canonical_md5, render_page_xml  # noqa: E402
from t2p_spark.synth import corpus_rows  # noqa: E402
from tests.branch_corpus import branch_docs  # noqa: E402

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "..", "tests",
                          "golden_synth")
OUT_PATH = os.path.join(GOLDEN_DIR, "synth_corpus_120.json")
CONVERT_PATH = os.path.join(GOLDEN_DIR, "convert_golden.json")

N_DOCS = 120
SEED = 7


def _payload(spans):
    """(media span or None, joined JSON text) of one corpus row's spans."""
    media = next((s for s in spans if s[0] == "media"), None)
    return media, "".join(
        s[1] for s in sorted(
            (s for s in spans if s[0] == "text"), key=lambda s: s[3]
        )
    )


def doc_metrics(spans) -> dict:
    """Pure-Python twin of the kernel's per-doc path (t2p_spark.kernel)."""
    media, payload = _payload(spans)
    n_blocks = 0
    # reason = the kernel's normalized error class (the text before ':'):
    # 'InvalidDoc' / 'JSONDecodeError' / the convert_doc_safe exception
    # class — mirroring t2p_spark/kernel.py:90-107 exactly. The class (not
    # the message) is the twin-stable unit: orjson and json word their
    # parse errors differently.
    if media is None or not payload:
        status, out_spans, reason = "quarantined", [], "InvalidDoc"
    else:
        w, h = media[1].split("x")
        try:
            aws = json.loads(payload)
            if not isinstance(aws, dict):
                raise ValueError("payload is not a JSON object")
            blocks = aws.get("Blocks")
            n_blocks = len(blocks) if isinstance(blocks, list) else 0
        except ValueError:
            status, out_spans, reason = "quarantined", [], "JSONDecodeError"
        else:
            status, out_spans, err = convert_doc_safe(
                aws, int(w), int(h), media[2]
            )
            reason = err.split(":")[0] if err else ""
    # payload_bytes: the same sum the pipeline's oversized-payload guard
    # computes column-side (octet_length over text spans) — lets the
    # quarantine_oversize oracle replay the PayloadTooLarge cap rule
    payload_bytes = sum(
        len(s[1].encode("utf-8")) for s in spans if s[0] == "text"
    )
    return {"status": status, "n_blocks": n_blocks,
            "n_spans": len(out_spans), "reason": reason,
            "payload_bytes": payload_bytes}


def convert_record(aws, width: int, height: int, media_ref: str) -> dict:
    """One doc's converter verdict: status, the full quarantine reason
    (``convert_doc_safe``'s error text, deterministic since blocks repr by
    Id), span md5 and, for an ok doc, the rendered PAGE-XML's canonical
    md5."""
    status, spans, err = convert_doc_safe(aws, width, height, media_ref)
    rec = {"status": status, "error": err,
           "spans_md5": hashlib.md5(json.dumps(spans).encode()).hexdigest()}
    if status == "ok":
        rec["render_md5"] = canonical_md5(
            render_page_xml(aws, width, height, media_ref))
    return rec


def convert_inputs(rows):
    """(name, aws, width, height, media_ref) for the branch corpus, then
    for each synth corpus row."""
    for name, aws, w, h in branch_docs():
        yield name, aws, w, h, ""
    for doc_id, spans in rows:
        media, payload = _payload(spans)
        w, h = media[1].split("x")
        yield doc_id, json.loads(payload), int(w), int(h), media[2]


def convert_records(rows) -> dict:
    """convert_golden.json's content for the synth corpus ``rows``."""
    return {name: convert_record(aws, w, h, ref)
            for name, aws, w, h, ref in convert_inputs(rows)}


def synth_rows():
    return list(corpus_rows(N_DOCS, seed=SEED, chunk_size=1 << 20))


def main() -> int:
    check = "--check" in sys.argv
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    rows = synth_rows()
    records = [{"doc_id": doc_id, **doc_metrics(spans)}
               for doc_id, spans in rows]
    records.sort(key=lambda r: r["doc_id"])
    outputs = ((OUT_PATH, records), (CONVERT_PATH, convert_records(rows)))
    for path, content in outputs:
        name = os.path.basename(path)
        if check:
            existing = json.load(open(path, encoding="utf-8"))
            assert existing == content, f"{name} drift"
            print(f"checked {len(content)} records in {name}")
        else:
            with open(path, "w", encoding="utf-8") as f:
                json.dump(content, f, indent=1)
            print(f"wrote {len(content)} records to {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
