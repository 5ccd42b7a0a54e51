"""The extraction pipeline: docs table -> extracted spans table.

Plan shape (SURVEY.md §3.4):

    scan docs (Iceberg/Parquet; partition pruning on bucket for resume)
      -> Column-only payload assembly (media dims, ordered text concat)
      -> [optional] repartition by hash(doc_id)
      -> mapInArrow extract kernel (one JVM->Python cross per Arrow batch)
      -> write (partitioned by bucket(doc_id)) + metrics

Skew strategy (north_rule "pathological many-block documents"):
  - Arrow batches are BYTE-bounded (spark.sql.execution.arrow.
    maxBytesPerBatch, 64MB default in Spark 4), so one giant doc cannot
    blow up a Python worker's batch regardless of row count;
  - with parallelism=None the kernel runs directly on scan partitions —
    ZERO shuffle; parquet's maxPartitionBytes already size-balances the
    tasks. Pass parallelism=N only when the source is known to be
    badly laid out (few files / one giant file): that adds one explicit
    hash(doc_id) exchange at 4N granularity for scheduler elasticity.

Oversized-payload guard (the Arrow row limit): a single document whose
serialized payload approaches the Arrow string/int32 offset range (~2GB)
cannot cross mapInArrow — Spark cannot split a row, so one such doc would
fail the whole stage. ``assemble_payload`` therefore caps the payload for
every consumer (extract, the extraction stream, the PAGE-XML renderer, the
multi-page splitter): the byte count is computed column-side (a codegen
``aggregate`` over span lengths — the giant string itself is NEVER
materialized, CASE WHEN branch-skips the array_join) and every kernel
quarantines the marked row with ``PayloadTooLarge`` instead of crashing.
Default cap 1GiB leaves 2x headroom under the hard int32 limit.

Everything before/after the kernel is whole-stage-codegen Column ops —
``.explain()`` shows one scan, at most one explicit exchange, the kernel,
and the write.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from t2p_spark.kernel import extract_kernel
from t2p_spark.schema import EXTRACTED_SCHEMA

DEFAULT_BUCKETS = 64

# 1 GiB: 2x headroom under Arrow's int32 string-offset hard limit (~2GiB)
MAX_PAYLOAD_BYTES = 1 << 30


def bucket_of(n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """The output bucket of a doc: ``pmod(xxhash64(doc_id), n_buckets)``."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def assemble_payload(docs: DataFrame,
                     max_payload_bytes: int = MAX_PAYLOAD_BYTES) -> DataFrame:
    """Column-only: interleaved spans -> (doc_id, width, height, media_ref, json_text).

    Encoding per FIXTURES.md §1: the 'media' span carries "WxH" pixel dims in
    `text` and the image filename in `media_ref` (replacing the reference's
    PIL lookup, convert_aws.py:720-723); 'text' spans concatenate to the
    Textract JSON in `offset` order.

    The Arrow-row-limit guard holds for every consumer (extract, the
    extraction stream, the PAGE-XML renderer, the multi-page splitter): a
    ``payload_bytes`` column is added that is non-NULL exactly for docs
    whose concatenated text payload exceeds the cap; for those rows
    ``json_text`` stays NULL and the oversized string is never built (CASE
    WHEN short-circuits the array_join). ``kernel.decode_payloads`` turns
    the marker into a ``PayloadTooLarge`` quarantine reason.
    """
    # try_element_at: a doc without a media span yields NULL dims and is
    # quarantined by the kernel rather than failing the stage
    media = F.try_element_at(
        F.filter("spans", lambda s: s["kind"] == F.lit("media")), F.lit(1)
    )
    dims = F.split(media["text"], "x")
    text_spans = F.array_sort(
        F.filter("spans", lambda s: s["kind"] == F.lit("text")),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    json_text = F.array_join(
        F.transform(text_spans, lambda s: s["text"]), ""
    )
    cols = [
        F.col("doc_id"),
        F.element_at(dims, 1).cast("int").alias("width"),
        F.element_at(dims, 2).cast("int").alias("height"),
        F.coalesce(media["media_ref"], F.lit("")).alias("media_ref"),
    ]
    # codegen fold over span byte lengths — O(spans), never builds the string
    payload_bytes = F.aggregate(
        text_spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]), F.lit(0)),
    )
    oversize = payload_bytes > F.lit(int(max_payload_bytes))
    return docs.select(
        *cols,
        F.when(~oversize, json_text).alias("json_text"),
        F.when(oversize, payload_bytes).alias("payload_bytes"),
    )


def extract(docs: DataFrame, parallelism: int | None = None,
            n_buckets: int = DEFAULT_BUCKETS,
            max_payload_bytes: int = MAX_PAYLOAD_BYTES) -> DataFrame:
    """docs(doc_id, spans) -> extracted(doc_id, spans, status, ...) + bucket.

    parallelism=None (the scale default): zero shuffle — the kernel runs on
    the scan partitions; parquet size-splitting + byte-bounded Arrow batches
    handle doc-size skew. parallelism=N: one explicit hash(doc_id) exchange
    into 4N partitions, for badly-laid-out sources or local benches where
    the source has too few splits. Docs over ``max_payload_bytes`` are
    quarantined (``PayloadTooLarge``) instead of crashing the Arrow cross.
    """
    assembled = assemble_payload(docs, max_payload_bytes=max_payload_bytes)
    if parallelism is not None:
        assembled = assembled.repartition(parallelism * 4, "doc_id")

    out = assembled.mapInArrow(extract_kernel, schema=EXTRACTED_SCHEMA)
    return out.withColumn("bucket", bucket_of(n_buckets))


def extracted_metrics(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage/metrics aggregate (north_rule: per-partition
    progress + extraction metrics for exact resume).

    Aggregates the kernel-computed ``span_fp`` column — the metrics pass
    reads only pruned scalar columns, never the spans payload (re-hashing
    the output would re-scan the whole corpus).
    """
    return (
        extracted
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") == "quarantined", 1).otherwise(0)).alias(
                "n_quarantined"
            ),
            F.sum("n_blocks").alias("n_blocks"),
            F.sum("n_spans").alias("n_spans"),
            # order-insensitive, overflow-free checksum over per-doc
            # span fingerprints (ANSI mode forbids wrapping sum)
            F.expr("bit_xor(span_fp)").alias("span_checksum"),
        )
    )
