"""Materialize a deterministic synthetic docs corpus to parquet, distributed.

    python tools/make_corpus.py --out /tmp/corpus --n-docs 2000 [--seed 42]

Generation runs inside a mapInArrow kernel over spark.range(n_docs)
(t2p_spark.synth.synth_docs) — each row is a pure function of (index,
seed), so the generator scales with the cluster like everything else.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--driver-memory", default="8g",
                    help="JVM heap for the bucketing shuffle; 8g covers "
                         "~100k docs, pass 40g for 256k+ (applies only when "
                         "run bare — under spark-submit use its own flag)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from t2p_spark.synth import synth_docs

    spark = (
        SparkSession.builder.appName("t2p-make-corpus")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .getOrCreate()
    )
    import pyspark.sql.functions as F

    # input table layout per FIXTURES.md §1: partitioned by bucket(doc_id)
    # (Iceberg `bucket(N, doc_id)`; dir-per-bucket on the parquet fallback).
    # A bucketed input keeps the whole extract job a single pipelined stage.
    (synth_docs(spark.range(args.n_docs).repartition(args.partitions),
                args.seed)
     .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int"))
     .repartition(64, "bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(args.out))
    n = spark.read.parquet(args.out).count()
    print(f"done: {n} docs -> {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
