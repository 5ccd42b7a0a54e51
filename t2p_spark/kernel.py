"""Arrow batch kernels: the one boundary between Spark and Python.

JVM->Python crosses exactly once per Arrow batch (``mapInArrow``). Every
kernel of the package crosses it the same way:

  - its output is declared once, as a Spark ``StructType``; the Arrow
    schema is derived from it with ``to_arrow_schema``;
  - ``decode_payloads`` is the one decoder of an assembled doc batch
    (``t2p_spark.pipeline.assemble_payload``): per row the parsed Textract
    object, or the quarantine reason;
  - ``row_kernel`` is the one row loop: ``to_pylist`` in, zero or more
    output rows per input row, ``from_arrays`` out.

The extract kernel is the exception to the row loop: its span column is
built columnar (see ``_convert_batch``). Inside a batch the per-document
conversion is the shared ``convert_doc_safe`` logic — the same code pytest
validates against the reference goldens, so Spark==oracle by construction.
No row-at-a-time Python UDFs anywhere (input_hint constraint); the payload
assembly / dimension parsing upstream of this kernel is pure Column ops.

Batch shape in:  doc_id string, width int32, height int32,
                 media_ref string, json_text string(large ok)
                 [, payload_bytes int64 — the oversize marker]
Batch shape out: EXTRACTED_SCHEMA (doc_id, spans, status, error,
                 n_blocks, n_spans, span_fp)
"""

from __future__ import annotations

import hashlib
import json
from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from t2p_spark.convert import convert_doc_safe
from t2p_spark.schema import EXTRACTED_SCHEMA

try:  # orjson (Rust) parses ~2x faster than stdlib json, identical dicts;
    # gate behind import-try so the kernel runs on any worker image
    import orjson

    _loads = orjson.loads
except ImportError:  # pragma: no cover
    _loads = json.loads

EXTRACTED_ARROW = to_arrow_schema(EXTRACTED_SCHEMA)
_SPANS_ARROW = EXTRACTED_ARROW.field("spans").type


def decode_payloads(batch: pa.RecordBatch) -> Iterator[tuple]:
    """Per row of an assembled batch: ``(doc_id, width, height, media_ref,
    json_text, doc, reason)``. ``doc`` is the parsed Textract object and
    ``reason`` None, or ``doc`` is None and ``reason`` is the quarantine
    reason: ``PayloadTooLarge``, ``InvalidDoc`` or ``JSONDecodeError``.

    A non-NULL ``payload_bytes`` marks a doc over assemble_payload's cap
    whose json_text was deliberately left unbuilt (one such row would
    overflow Arrow's int32 string offsets and kill the stage). Batches
    without that column are accepted.
    """
    names = ("doc_id", "width", "height", "media_ref", "json_text")
    cols = [batch.column(n).to_pylist() for n in names]
    if "payload_bytes" in batch.schema.names:
        cols.append(batch.column("payload_bytes").to_pylist())
    else:
        cols.append([None] * batch.num_rows)
    for doc_id, width, height, media_ref, text, oversize in zip(*cols):
        doc = reason = None
        if oversize is not None:
            reason = (f"PayloadTooLarge: {oversize} bytes exceeds the "
                      "max_payload_bytes cap (Arrow row limit)")
        elif width is None or height is None or not text:
            reason = "InvalidDoc: missing media dims or payload"
        else:
            try:
                doc = _loads(text)
            except ValueError as exc:
                reason = f"JSONDecodeError: {exc}"
            else:
                if not isinstance(doc, dict):
                    reason = (f"JSONDecodeError: payload is JSON "
                              f"{type(doc).__name__}, not an object")
                    doc = None
        yield doc_id, width, height, media_ref, text, doc, reason


def _pylist_rows(batch: pa.RecordBatch) -> Iterator[tuple]:
    return zip(*(col.to_pylist() for col in batch.columns))


def row_kernel(schema, fn: Callable[..., Iterable[tuple]],
               rows: Callable[[pa.RecordBatch], Iterable[tuple]] = _pylist_rows):
    """A mapInArrow kernel producing Spark ``schema``: ``fn(*row)`` maps
    each input row to an iterable of output tuples in ``schema`` field
    order (one-to-many allowed). ``rows(batch)`` yields the input rows —
    by default the batch's columns zipped, or ``decode_payloads``."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arrow = to_arrow_schema(schema)
        for batch in batches:
            out = [rec for row in rows(batch) for rec in fn(*row)]
            cols = zip(*out) if out else [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(cols, arrow)],
                schema=arrow)

    return kernel


def _fingerprint(doc_id: str, spans) -> int:
    """Order-sensitive 63-bit fingerprint of the span sequence.

    Computed here, while the data is hot, so the metrics aggregation never
    has to re-read the (large) spans column — at corpus scale re-hashing
    the output would re-scan everything.

    One md5 over one joined buffer — byte-identical stream to the original
    per-field update loop (UTF-8 of a concatenation == concatenation of
    UTF-8), so checksums stay comparable across engine versions.
    """
    parts = [doc_id]
    parts.extend(f"\x1d{k}\x1e{t}\x1e{m}\x1e{o}" for k, t, m, o in spans)
    digest = hashlib.md5("".join(parts).encode()).digest()
    return int.from_bytes(digest[:8], "big") & 0x7FFFFFFFFFFFFFFF


def _convert_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    # columnar span construction: flat value arrays + list offsets — no
    # per-span Python dicts (the naive from_pylist path was the kernel's
    # hotspot, ~2x the conversion cost itself)
    kinds: list = []
    texts: list = []
    refs: list = []
    offs: list = []
    list_offsets = [0]
    status_col, error_col, nb_col, ns_col, fp_col = [], [], [], [], []

    for doc_id, width, height, media_ref, _, aws, reason in \
            decode_payloads(batch):
        if reason is None:
            n_blocks = len(aws.get("Blocks") or [])
            status, spans, error = convert_doc_safe(
                aws, width, height, media_ref or ""
            )
        else:
            n_blocks, status, spans, error = 0, "quarantined", [], reason
        if spans:
            ks, ts, ms, os_ = zip(*spans)
            kinds.extend(ks)
            texts.extend(ts)
            refs.extend(ms)
            offs.extend(os_)
        list_offsets.append(len(kinds))
        status_col.append(status)
        error_col.append(error)
        nb_col.append(n_blocks)
        ns_col.append(len(spans))
        fp_col.append(_fingerprint(doc_id, spans))

    span_type = _SPANS_ARROW.value_type
    span_struct = pa.StructArray.from_arrays(
        [pa.array(vals, f.type)
         for vals, f in zip((kinds, texts, refs, offs), span_type)],
        fields=list(span_type),
    )
    spans_arr = pa.ListArray.from_arrays(
        pa.array(list_offsets, pa.int32()), span_struct, type=_SPANS_ARROW
    )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            spans_arr,
            pa.array(status_col, type=pa.string()),
            pa.array(error_col, type=pa.string()),
            pa.array(nb_col, type=pa.int32()),
            pa.array(ns_col, type=pa.int32()),
            pa.array(fp_col, type=pa.int64()),
        ],
        schema=EXTRACTED_ARROW,
    )


def extract_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow entry point.

    The cycle GC is disabled *during* batch conversion: a many-block document
    inflates to millions of parsed-JSON dicts per batch and CPython's
    generational collector rescans them repeatedly (measured 2-4x wall-time
    variance). convert.py's object graph DOES contain parent/child reference
    cycles (Word<->Line, Cell<->Table, ...), so refcounting alone does not
    free it — a full ``gc.collect()`` runs after each batch to reclaim the
    per-document cycles, and gc is re-enabled when the iterator is exhausted
    so long-lived reused workers never accumulate garbage.
    """
    import gc

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield _convert_batch(batch)
            gc.collect()
    finally:
        if gc_was_enabled:
            gc.enable()
