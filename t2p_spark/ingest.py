"""Ingest adapter: raw Textract JSON file directories -> the docs table.

The reference's native input is ONE pretty-printed Textract JSON file per
document plus the page image (for pixel dims) — reference
convert_aws.py:746-747 (json.load) and :704-725 (PIL dims). A user
switching from the reference points this adapter at that directory plus a
dims table (doc_id, width, height, media_ref) — the dims a real lake
carries as media metadata (this sandbox has no PIL, exactly like the
reference's convert_file_without_image path takes dims explicitly).

Everything is Column-only (wholetext scan -> filename-derived doc_id ->
dims join -> span-array construction); the output is the canonical
interleaved docs(doc_id, spans) table of FIXTURES.md §1, byte-equivalent
to what fixtures.doc_row builds in Python — so the whole extraction
correctness chain applies to ingested directories unchanged.

Scale notes: one row per FILE (wholetext) — fine for Textract responses
(KB-MB each); doc-id skew does not exist (ids are filenames); the dims
join broadcasts when the dims table is small, shuffles otherwise. The
chunked span encoding keeps per-span text below chunk_size so downstream
row-group/page sizes stay bounded.
"""

from __future__ import annotations

from functools import partial

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from t2p_spark.kernel import decode_payloads, row_kernel
from t2p_spark.pipeline import MAX_PAYLOAD_BYTES, assemble_payload
from t2p_spark.schema import SPAN_STRUCT


def docs_from_json_dir(spark: SparkSession, json_dir: str,
                       dims: DataFrame,
                       chunk_size: int = 1 << 20,
                       streaming: bool = False,
                       with_quarantine: bool = False):
    """(json files under json_dir) x dims(doc_id, width, height, media_ref)
    -> docs(doc_id, spans) in the interleaved span encoding.

    streaming=True returns the same table as an UNBOUNDED stream
    (readStream over the directory — a landing zone continuously receiving
    Textract responses); feed it to pipeline.extract for end-to-end
    streaming extraction.

    with_quarantine=True returns (docs, quarantined) where quarantined is
    (doc_id, reason) for files whose doc_id has no dims row — otherwise
    those are dropped, which at lake scale silently loses documents.

    input_file_name() returns a URL-ENCODED URI: filenames with spaces,
    '%', or '#' arrive percent-encoded and would never match the dims key
    (r2 ADVICE) — decode before extracting the stem (try_ variant:
    malformed escapes keep the raw name rather than failing the scan).
    url_decode uses x-www-form-urlencoded semantics where a literal '+'
    means space, but input_file_name leaves '+' unencoded in the URI —
    escape it to %2B first so 'a+b.json' round-trips (r3 ADVICE).
    """
    reader = spark.readStream if streaming else spark.read
    fname = F.regexp_replace(F.input_file_name(), r"\+", "%2B")
    decoded = F.coalesce(F.call_function("try_url_decode", fname), fname)
    raw = (
        reader.format("text").option("wholetext", "true").load(json_dir)
        .select(
            F.regexp_extract(decoded, r"([^/]+)\.json$", 1).alias("doc_id"),
            F.col("value").alias("json_text"),
        )
    )
    j = raw.join(dims, "doc_id", "left" if with_quarantine else "inner")

    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.concat_ws("x", F.col("width").cast("string"),
                    F.col("height").cast("string")).alias("text"),
        F.col("media_ref").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(F.length("json_text") / F.lit(chunk_size)).cast("int"),
    )
    text_spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.col("json_text")
            .substr(i * chunk_size + 1, F.lit(chunk_size)).alias("text"),
            F.lit("").alias("media_ref"),
            (i + 1).cast("int").alias("offset"),
        ),
    )
    docs = j.filter(F.col("width").isNotNull()) if with_quarantine else j
    docs = docs.select(
        "doc_id",
        F.concat(F.array(media_span), text_spans).alias("spans"),
    )
    if with_quarantine:
        quarantined = j.filter(F.col("width").isNull()).select(
            "doc_id", F.lit("missing_dims").alias("reason"))
        return docs, quarantined
    return docs


# --- multi-page splitting adapter --------------------------------------------
#
# The reference requires pre-split input — one page per response
# (/root/reference/README.md:30-36: "the AWS data [...] must have been
# split into single pages before processing") — and the converter asserts
# exactly one PAGE block. Real Textract output for a multi-page PDF is ONE
# response whose blocks carry a ``Page`` int (SURVEY §1.1), so this is the
# most common migration snag. The adapter splits such a response into
# per-page docs (doc_id#pN) whose conversions equal the page-at-a-time
# reference runs; single-page docs pass through byte-identically.

SPLIT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def _encode_spans(dims_text: str, media_ref: str, payload: str,
                  chunk_size: int) -> list:
    spans = [("media", dims_text, media_ref, 0)]
    for i in range(0, max(1, len(payload)), chunk_size):
        spans.append(("text", payload[i:i + chunk_size], "",
                      i // chunk_size + 1))
    return spans


def _split_doc(chunk_size: int, doc_id: str, width, height, media_ref: str,
               json_text: str, payload, reason) -> list:
    """One decoded doc -> [(doc_id', spans, status, error)] rows."""
    if reason is not None:
        return [(doc_id, [], "quarantined", reason)]
    import orjson

    dims_text = f"{width}x{height}"
    try:
        blocks = payload.get("Blocks") or []
        n_pages = sum(1 for b in blocks
                      if isinstance(b, dict)
                      and b.get("BlockType") == "PAGE")
        if n_pages <= 1:
            # single page (or page-less): pass through untouched — the
            # converter's own 1-PAGE assert handles the rest
            return [(doc_id,
                     _encode_spans(dims_text, media_ref, json_text,
                                   chunk_size),
                     "ok", None)]
        pages: dict = {}
        for b in blocks:
            page = b.get("Page") if isinstance(b, dict) else None
            if not isinstance(page, int):
                # pageless multi-PAGE input: unsplittable — quarantine
                # rather than guess an assignment
                raise ValueError(
                    f"multi-page response ({n_pages} PAGE blocks) has a "
                    f"block without an integer Page field")
            pages.setdefault(page, []).append(b)
        out = []
        for page in sorted(pages):
            sub = dict(payload)
            sub["Blocks"] = pages[page]
            sub["DocumentMetadata"] = {"Pages": 1}
            text = orjson.dumps(sub).decode()
            out.append((f"{doc_id}#p{page}",
                        _encode_spans(dims_text, media_ref, text,
                                      chunk_size),
                        "ok", None))
        return out
    except Exception as exc:  # noqa: BLE001 — quarantine contract
        return [(doc_id, [], "quarantined",
                 f"{type(exc).__name__}: {exc}")]


def split_kernel(chunk_size: int):
    """The split mapInArrow kernel: assembled doc batches -> SPLIT_SCHEMA."""
    return row_kernel(SPLIT_SCHEMA, partial(_split_doc, chunk_size),
                      decode_payloads)


def split_multipage(docs: DataFrame, chunk_size: int = 1 << 20,
                    max_payload_bytes: int = MAX_PAYLOAD_BYTES) -> DataFrame:
    """docs(doc_id, spans) -> per-page docs + status/error.

    Column-only payload assembly feeds an Arrow kernel (orjson parse —
    the measured-fastest path, see BENCH/BASELINE.md) that regroups
    blocks by their Page field; narrow map, no shuffle, binary-bounded
    batches. Rows with status='ok' feed pipeline.extract unchanged;
    'quarantined' rows carry the reason: the extract kernel's own
    (PayloadTooLarge over ``max_payload_bytes``, InvalidDoc,
    JSONDecodeError) or a pageless multi-PAGE response."""
    return assemble_payload(docs, max_payload_bytes).mapInArrow(
        split_kernel(chunk_size), schema=SPLIT_SCHEMA)
