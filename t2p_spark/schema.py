"""Fixed schemas: the span struct and the docs/extracted tables.

The Textract payload has no Spark schema: the kernel parses it in Python
(orjson), which BENCH/BASELINE.md measured faster than JVM ``from_json``.
"""

from __future__ import annotations

import pyspark.sql.types as T

# --- span struct (input + output unit; BASELINE.json input_hint) -----------

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), nullable=False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT), nullable=False),
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), nullable=False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT), nullable=False),
    T.StructField("status", T.StringType(), nullable=False),   # ok | quarantined
    T.StructField("error", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_spans", T.IntegerType()),
    T.StructField("span_fp", T.LongType()),
])
