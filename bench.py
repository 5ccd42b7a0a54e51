"""Benchmark driver: one JSON line with per-query wall times + throughput.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Runs every driver-contract query at the given SF plus the extraction
pipeline over a deterministic synthetic corpus (cached under /tmp, keyed by
size+seed). Output:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "extract_docs_per_sec": ..., "extract_docs": ..., "cpus": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else 0.0


def ensure_corpus(spark, n_docs: int, path: str) -> None:
    """Distributed generation, bucket-partitioned layout (FIXTURES.md §1)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from t2p_spark.pipeline import bucket_of
    from t2p_spark.synth import synth_docs

    (synth_docs(spark.range(n_docs).repartition(CPUS * 2), SEED)
     .withColumn("bucket", bucket_of())
     .repartition(64, "bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from t2p_spark.fixtures import ReferenceMissing
    from t2p_spark.kernel import warm_workers
    from t2p_spark.pipeline import extract

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("t2p-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS * 2))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # row-count-bounded reader batches balloon on huge-string corpora
        # (4096 rows x MB-scale payloads = 100MB+ reservations per task);
        # 256 bounds the allocation burst — see jobs/extract.py
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = sf_of(SF_DIR)

    # warmup: JVM JIT + the Python worker pool (kernel imports)
    warm_workers(spark, CPUS * 2)

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    skipped: dict[str, str] = {}
    total = 0.0
    for name, fn in entrymod.queries().items():
        t0 = time.monotonic()
        try:
            n = fn(spark, SF_DIR).count()
        except ReferenceMissing as exc:
            skipped[name] = str(exc)
            print(f"# {name}: skipped ({exc})", file=sys.stderr)
            continue
        dt = time.monotonic() - t0
        timings[name] = round(dt, 3)
        total += dt
        # warm-up-isolated second run (r4 VERDICT #6): the first-run
        # number absorbs whatever JIT/import/cache warm-up lands on the
        # query's dict position, so cross-round >1.3x "regressions" were
        # unadjudicable; the warm number is the position-independent one
        # to compare across rounds. Streaming drains are excluded — a
        # second drain replays stateful checkpoint machinery, not the
        # query. (Warm curate_attrition_incr is also the incremental
        # funnel-only cost, stages already materialized.)
        if "_streamed" not in name and not name.startswith("stream_") \
                and name != "events_stream_dedup":
            t1 = time.monotonic()
            fn(spark, SF_DIR).count()
            warm[name] = round(time.monotonic() - t1, 3)
        print(f"# {name}: {dt:.3f}s (warm {warm.get(name, '-')}s, {n} rows)",
              file=sys.stderr)

    # extraction throughput over a cached deterministic corpus
    n_docs = max(200, int(20000 * sf))
    corpus = f"/tmp/t2p_bench_corpus_{n_docs}_{SEED}"
    ensure_corpus(spark, n_docs, corpus)
    docs = spark.read.parquet(corpus).drop("bucket")
    # 3 reps: the shared sandbox host shows up-to-2x wall noise between
    # identical runs (BENCH/BASELINE.md). Report BOTH min (steady-state
    # estimate, counts toward `value` — disclosed) and median (the
    # cross-round comparability number: min-of-N on a warm page cache
    # systematically flatters reruns, r2 ADVICE).
    reps = []
    for _rep in range(3):
        t0 = time.monotonic()
        extracted = extract(docs)  # bucketed scan partitions; zero shuffle
        n_ok = extracted.filter("status = 'ok'").count()
        reps.append(time.monotonic() - t0)
    dt_extract = min(reps)
    dt_median = sorted(reps)[len(reps) // 2]
    total += dt_extract
    timings["extract_pipeline"] = round(dt_extract, 3)
    print(f"# extract_pipeline: min {dt_extract:.3f}s / median "
          f"{dt_median:.3f}s of 3 ({n_ok} ok of {n_docs})", file=sys.stderr)

    result = {
        "metric": "total wall seconds: all driver-contract queries + "
                  "extraction pipeline at SF",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "queries_warm_rerun": warm,
        "queries_skipped": skipped,
        "sf": sf,
        "extract_docs": n_docs,
        "extract_docs_per_sec": round(n_docs / dt_extract, 2),
        "extract_sec_median": round(dt_median, 3),
        "extract_docs_per_sec_median": round(n_docs / dt_median, 2),
        "cpus": CPUS,
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
