"""Per-bucket checkpoint/lineage: idempotent commits + exact resume.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Output and metrics are written per ``bucket = pmod(xxhash64(
doc_id), n_buckets)``; a resume run reads the metrics table, prunes
completed buckets from the *input scan* (partition-pruning-friendly
filter), and only converts the remainder. Dynamic partition overwrite
makes re-running a half-written bucket idempotent.

Offline this runs on plain Parquet; on a real cluster the same layout maps
to an Iceberg table partitioned by ``bucket(N, doc_id)`` with snapshot ids
recorded per run (see t2p_spark.io_tables).
"""

from __future__ import annotations

import os
from typing import List, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from t2p_spark.io_tables import write_extracted
from t2p_spark.pipeline import bucket_of, extract, extracted_metrics


def completed_buckets(spark: SparkSession, metrics_path: str) -> List[int]:
    if not _exists(spark, metrics_path):
        return []
    m = spark.read.parquet(metrics_path)
    return [r["bucket"] for r in m.select("bucket").distinct().collect()]


def _exists(spark: SparkSession, path: str) -> bool:
    # local-fs fast path; on hdfs/s3 rely on the read attempt
    if path.startswith("/") or path.startswith("file:"):
        return os.path.exists(path.replace("file:", "", 1))
    try:
        spark.read.parquet(path).limit(0).collect()
        return True
    except Exception:
        return False


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    metrics_path: str,
    run_id: str,
    parallelism: Optional[int] = None,
    n_buckets: int = 64,
    resume: bool = False,
) -> DataFrame:
    """Read docs -> extract -> write spans + metrics, bucket by bucket.

    Returns the metrics DataFrame of the buckets processed in this run.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs = spark.read.parquet(input_path)

    # a bucket-partitioned input (FIXTURES.md §1 layout) gives real partition
    # pruning on resume AND a shuffle-free clustered write
    clustered = "bucket" in docs.columns

    done: List[int] = completed_buckets(spark, metrics_path) if resume else []
    if clustered and done:
        # fail fast if the input's bucket layout disagrees with n_buckets:
        # the `done` list is output buckets (mod n_buckets); applying it to a
        # differently-bucketed input would silently skip unfinished documents
        # on resume. A small sample catches a mismatched modulus with
        # near-certainty (each row agrees by luck with prob ~1/n_buckets).
        # Checked only when resume pruning is actually applied — a fresh run
        # re-extracts everything regardless of the input's layout, and the
        # check is one extra Spark job on the hot path.
        mism = (
            docs.select("doc_id", "bucket").limit(200)
            .filter(F.col("bucket") != bucket_of(n_buckets))
            .count()
        )
        if mism:
            raise ValueError(
                f"input bucket column does not match pmod(xxhash64(doc_id), "
                f"{n_buckets}) on {mism} sampled rows — the input was "
                f"clustered with a different bucket count; resume pruning "
                f"would skip documents. Re-cluster the input or pass the "
                f"matching --n-buckets."
            )
    else:
        docs = docs.withColumn("bucket", bucket_of(n_buckets))
    if done:
        # on a clustered input this prunes bucket directories at the scan
        docs = docs.filter(~F.col("bucket").isin(done))
    docs = docs.drop("bucket")

    out = extract(docs, parallelism=parallelism, n_buckets=n_buckets)
    lineage = write_extracted(spark, out, output_path, n_buckets=n_buckets,
                              clustered=clustered)

    # read the sink back through the same abstraction it was written with:
    # metrics must attest DURABLE data (that is what makes resume exact), and
    # on the Iceberg path the parquet directory read would fail outright.
    # Columns are pruned to scalars + the kernel-computed span_fp — the spans
    # payload is never re-read.
    if lineage["format"] == "iceberg":
        written = spark.table(lineage["table"])
    else:
        written = spark.read.parquet(output_path)
    if done:
        written = written.filter(~F.col("bucket").isin(done))
    metrics = (
        extracted_metrics(written)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("sink_format", F.lit(lineage["format"]))
        .withColumn("snapshot_id",
                    F.lit(lineage["snapshot_id"]).cast("long"))
    )
    # ONE pass over the durable output (pruned to scalar columns): collect
    # the tiny per-bucket result as Arrow and rebuild it as a LocalRelation.
    # Callers summarizing it trigger no further scans of the output (this
    # re-scan was part of the measured serial share keeping full-job
    # scaling below the 0.8 bar), and neither the append nor any later
    # action starts a Python worker, as every slice of a frame built from
    # a Python list would.
    mdf = spark.createDataFrame(metrics.toArrow(), metrics.schema)
    mdf.coalesce(1).write.mode("append").parquet(metrics_path)
    return mdf
