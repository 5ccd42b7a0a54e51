"""Table-format layer: Iceberg when available, Parquet fallback offline.

The north_rule targets Iceberg tables partitioned by bucket(N, doc_id) with
snapshot lineage. This sandbox has no Iceberg runtime jar and no network
(SURVEY.md env facts), so the layer:

  - detects an Iceberg catalog at runtime (`iceberg_available`),
  - on Iceberg: DDL with PARTITIONED BY (bucket(N, doc_id)), writes via
    DataFrameWriterV2 (append/overwritePartitions), records snapshot ids in
    the metrics rows,
  - offline: directory-per-bucket Parquet with dynamic partition overwrite
    (identical layout semantics; exercised by the whole test suite).

On a real cluster activate Iceberg with:
    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.t2p=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.t2p.type=hadoop \
      --conf spark.sql.catalog.t2p.warehouse=<path> ...
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

CATALOG = "t2p"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        return False
    return spark.conf.get(f"spark.sql.catalog.{CATALOG}", None) is not None


def ensure_extracted_table(spark: SparkSession, name: str,
                           n_buckets: int = 64) -> Optional[str]:
    """Create the Iceberg output table if the catalog is active.

    Returns the fully-qualified table name, or None on the Parquet path.
    """
    if not iceberg_available(spark):
        return None
    fq = f"{CATALOG}.{name}"
    spark.sql(f"""
        CREATE TABLE IF NOT EXISTS {fq} (
          doc_id STRING,
          spans ARRAY<STRUCT<kind: STRING, text: STRING,
                             media_ref: STRING, offset: INT>>,
          status STRING, error STRING, n_blocks INT, n_spans INT,
          span_fp BIGINT, bucket INT
        ) USING iceberg
        PARTITIONED BY (bucket({n_buckets}, doc_id))
    """)
    return fq


def write_extracted(spark: SparkSession, df: DataFrame, dest: str,
                    n_buckets: int = 64, clustered: bool = False) -> dict:
    """Write extracted rows; returns lineage info (format + snapshot).

    clustered=False: rows are shuffled by bucket before the partitioned
    write — without it every task opens a file in every bucket directory
    (tasks x buckets files; measured 3x slower locally, a small-file
    catastrophe on a cluster).
    clustered=True: the caller guarantees each task's rows already share a
    bucket (input table partitioned by bucket(doc_id), FIXTURES.md §1), so
    the whole extract job stays ONE pipelined stage — no shuffle anywhere.
    """
    if not clustered:
        df = df.repartition(n_buckets, "bucket")
    table = ensure_extracted_table(spark, dest, n_buckets) \
        if not dest.startswith("/") else None
    if table is not None:
        df.writeTo(table).overwritePartitions()
        snap = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return {"format": "iceberg", "table": table,
                "snapshot_id": snap[0][0] if snap else None}
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(dest))
    return {"format": "parquet", "path": dest, "snapshot_id": None}
