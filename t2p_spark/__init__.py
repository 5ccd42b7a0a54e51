"""t2p_spark — a PySpark-native layout-extraction engine.

Re-derives the semantics of slub/textract2page (AWS Textract JSON ->
PAGE-XML) as a distributed, vectorized span-extraction pipeline over an
Iceberg/Parquet table of interleaved text+media documents:

    docs(doc_id string,
         spans array<struct<kind string, text string, media_ref string, offset int>>)
      -> extracted(doc_id, spans, status, metrics...)

The output span sequence is byte-equal to the flattening of the reference
converter's PAGE-XML output (see FIXTURES.md §3 for the flattening spec and
``t2p_spark.flatten`` for its implementation).

Architecture (SURVEY.md §7):
  - ``schema``      span struct, docs and extracted table schemas
  - ``flatten``     PAGE-XML -> span list (golden derivation, stdlib ET)
  - ``convert``     pure-Python single-doc converter (the oracle)
  - ``kernel``      the Arrow kernel boundary: payload decoder, row loop,
                    extract kernel wrapping the converter
  - ``pipeline``    DataFrame job: scan -> payload assembly -> [optional
                    repartition] -> kernel -> bucket
  - ``checkpoint``  metrics/lineage table + exact resume
  - ``io_tables``   Iceberg sink when configured, bucketed Parquet otherwise
  - ``render_xml``  PAGE-XML renderer + its Spark kernel
  - ``ingest``      raw Textract-JSON directory -> docs table; multi-page split
  - ``workspace``   OCR-D METS workspace -> docs table; image header dims
  - ``streaming``   Structured Streaming extraction and landing-zone screens
  - ``synth``       deterministic corpus generator
  - ``fixtures``    reference fixture corpus; the one home of the reference
                    input paths
  - ``materialize`` the one registry of shared cached relations
  - ``session``     the session key the registries are scoped by
  - ``relational``  shared-ANSI-SQL analytics queries
  - ``textkit``     training-data ops: dedup, similarity, language-ID, quality
  - ``curate``      curation job: gates -> kept set -> chunks -> shards
  - ``ann``         embedding similarity search (brute-force + LSH-bucketed)
  - ``multimodal``  binary media column plumbing (decode stubbed offline)
  - ``cli``         single-file Textract JSON -> PAGE-XML converter
"""

__version__ = "0.1.0"
