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

Task start cost in the Python workers. At every task start PySpark's
worker calls ``importlib.invalidate_caches()`` (``worker_util.
setup_spark_files``). Before CPython 3.13, each ``zipimporter`` answers
by reading its archive's whole central directory again. A worker holds
16 of them: 12 for ``pyspark.zip`` (1,328 entries, about 12 ms a read),
2 for the py4j zip and 2 for the Spark core jar that Spark puts on the
workers' ``PYTHONPATH`` (5,359 entries, about 37 ms a read). Measured on
a 4-core VM with Python 3.11.7 and Spark 4.1.2, that is about 0.2 s of
CPU per task before the first row: a 52-task ``mapInArrow`` job that did
no work spent 12.5-13.6 s of Python CPU. So importing this module
replaces ``zipimporter.invalidate_caches`` with one that reads an archive
again only when its ``(st_mtime_ns, st_size)`` differs from the stat
taken at its last read; the same job then spent 2.1-2.3 s. A changed
archive, such as a re-added ``--py-files`` zip, is still read again, and
an archive that cannot be stat'ed goes to the stdlib method. Archives
read before the import are stamped at the import. Every worker body of
the package imports this module, so each task after the first in a
reused worker pays a few ``os.stat`` calls instead of 16 directory reads.
CPython 3.13 made the invalidation lazy (it only drops the cache entry),
and its ``zipimporter`` no longer keeps the directory this code swaps in,
hence the ``< (3, 13)`` gate.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import zipimport
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


def _archive_stamp(archive: str):
    """``(st_mtime_ns, st_size)`` of ``archive``, or None if it cannot be
    stat'ed."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamp_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` read an archive's directory
    again only when the archive changed since its last read (see the
    module docstring)."""
    stamps = {archive: _archive_stamp(archive)
              for archive in zipimport._zip_directory_cache}
    read_directory = zipimport._read_directory
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches

    def read_stamped(archive):
        # stat first: a change during the read leaves an old stamp, so the
        # next invalidation reads the archive again
        stamp = _archive_stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or stamps.get(self.archive) != stamp:
            stdlib_invalidate(self)
        else:
            self._files = files

    zipimport._read_directory = read_stamped
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# the module-name test keeps a reload of this module from stacking the
# wrappers
if (sys.version_info < (3, 13)
        and zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"):
    _stamp_zip_directories()


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


def _count_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    yield pa.RecordBatch.from_arrays(
        [pa.array([sum(b.num_rows for b in batches)], pa.int64())],
        names=["n"])


def warm_workers(spark, n_tasks: int) -> None:
    """Start the Python worker pool before a timed window: one
    ``mapInArrow`` job of ``n_tasks`` tasks. Its body lives in this module,
    so each worker imports the kernel (pyarrow, the converter, the
    zip-directory stamps) while it unpickles the task."""
    (spark.range(0, 64 * n_tasks, numPartitions=n_tasks)
     .mapInArrow(_count_rows, "n long").collect())


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
            blocks = aws.get("Blocks")
            # any other Blocks value is build_model's to quarantine
            n_blocks = len(blocks) if isinstance(blocks, list) else 0
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

    The cycle GC is disabled while batches convert: a many-block document
    parses into millions of JSON dicts, and CPython's generational collector
    would rescan them again and again. Measured on one thread of a 4-core
    Xeon VM, a 6000-line skew doc (14.7 MB JSON) parsed and converted in
    0.75-0.88 s with the collector off and 1.23-1.46 s with it on. The
    converter's model holds no reference cycles, so refcounting frees each
    document's objects without a collection. gc is re-enabled when the
    iterator ends, so long-lived reused workers keep their collector.
    """
    import gc

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield _convert_batch(batch)
    finally:
        if gc_was_enabled:
            gc.enable()
