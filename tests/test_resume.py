"""Exact resume: interrupted run + resume == uninterrupted run (north_rule)."""

import glob
import json
import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from t2p_spark import synth
from t2p_spark.checkpoint import _listed_on_driver, run_extract_job
from t2p_spark.fixtures import doc_row, fixture_doc_rows
from t2p_spark.schema import DOCS_SCHEMA
from tests.conftest import needs_reference


def _bucket_metrics(spark, path):
    return {
        r["bucket"]: (r["n_docs"], r["n_ok"], r["n_spans"], r["span_checksum"])
        for r in spark.read.parquet(path).collect()
    }


def _plan_root(df):
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _assert_exact_resume(spark, tmp_path, rows):
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    inp = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(inp)

    # reference run, uninterrupted
    run_extract_job(spark, inp, str(tmp_path / "out_full"),
                    str(tmp_path / "m_full"), run_id="full",
                    parallelism=2, n_buckets=8)
    want = _bucket_metrics(spark, str(tmp_path / "m_full"))

    # interrupted run: simulate a crash after some buckets committed by
    # running fully, then deleting 3 buckets' output + metrics rows
    out2, m2 = str(tmp_path / "out_r"), str(tmp_path / "m_r")
    run_extract_job(spark, inp, out2, m2, run_id="r1",
                    parallelism=2, n_buckets=8)
    victims = sorted(want)[:3]
    keep = spark.read.parquet(m2).filter(~F.col("bucket").isin(victims))
    keep_rows = keep.collect()
    shutil.rmtree(m2)
    spark.createDataFrame(keep_rows, keep.schema).write.parquet(m2)
    for b in victims:
        for d in glob.glob(os.path.join(out2, f"bucket={b}")):
            shutil.rmtree(d)

    # resume: must reprocess exactly the victims
    metrics = run_extract_job(spark, inp, out2, m2, run_id="r2",
                              parallelism=2, n_buckets=8, resume=True)
    # the returned frame is the collected result, not a re-scan: a
    # LocalRelation, equal to the rows appended under this run_id
    assert _plan_root(metrics) == "LocalRelation"
    returned = metrics.collect()
    appended = spark.read.parquet(m2).filter(F.col("run_id") == "r2")
    assert sorted(returned) == sorted(appended.collect())
    assert {r["bucket"] for r in returned} == set(victims)

    got = _bucket_metrics(spark, m2)
    assert got == want  # identical per-bucket counts + span checksums

    # resume again: nothing left to do
    metrics2 = run_extract_job(spark, inp, out2, m2, run_id="r3",
                               parallelism=2, n_buckets=8, resume=True)
    assert _plan_root(metrics2) == "LocalRelation"
    assert metrics2.count() == 0
    return want


@needs_reference
def test_exact_resume_after_partial_failure(spark, tmp_path):
    _assert_exact_resume(
        spark, tmp_path, list(fixture_doc_rows(chunk_size=1 << 20)))


def test_exact_resume_generated_docs(spark, tmp_path):
    """The same resume contract on generated documents only, so it runs
    without the reference Textract inputs: 36 generated docs and 4 that
    the kernel must quarantine, spread over 8 buckets."""
    specs = ([(f"gen-{i:02d}", synth.generate_doc, i) for i in range(36)]
             + [(f"bad-{i}", synth.generate_quarantine_doc, i)
                for i in range(4)])
    rows = []
    for doc_id, make, seed in specs:
        aws, w, h, media = make(doc_id, seed)
        rows.append(doc_row(doc_id, json.dumps(aws), w, h, media))
    # the job sets its partition overwrite mode per write, never on the
    # session
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    want = _assert_exact_resume(spark, tmp_path, rows)
    assert spark.conf.get(key) == before
    assert sum(n_docs for n_docs, _, _, _ in want.values()) == 40
    n_ok = sum(n_ok for _, n_ok, _, _ in want.values())
    assert 0 < n_ok <= 36, "both ok and quarantined buckets are resumed"


def test_extract_job_lists_buckets_on_the_driver(spark, tmp_path):
    """A job over an input and an output of more than 32 bucket dirs (the
    default parallel-listing threshold) starts no parallel-listing job,
    and leaves the session's threshold as it found it, also when a read
    raises."""
    from t2p_spark.pipeline import bucket_of

    n_buckets = 40
    rows = []
    for i in range(120):
        aws, w, h, media = synth.generate_doc(f"gen-{i:03d}", i)
        rows.append(doc_row(f"gen-{i:03d}", json.dumps(aws), w, h, media))
    inp = str(tmp_path / "docs")
    (spark.createDataFrame(rows, schema=DOCS_SCHEMA)
     .withColumn("bucket", bucket_of(n_buckets))
     .write.partitionBy("bucket").parquet(inp))
    assert len(glob.glob(os.path.join(inp, "bucket=*"))) > 32

    listing = spark._jvm.org.apache.spark.metrics.source \
        .HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT()
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    # the control: a plain read of the input lists it in a Spark job
    before = listing.getCount()
    spark.read.parquet(inp)
    assert listing.getCount() > before

    spark.conf.set(key, "33")
    out = str(tmp_path / "out")
    before = listing.getCount()
    metrics = run_extract_job(spark, inp, out, str(tmp_path / "m"),
                              run_id="r", n_buckets=n_buckets)
    assert listing.getCount() == before
    assert len(glob.glob(os.path.join(out, "bucket=*"))) > 32
    assert sum(r["n_docs"] for r in metrics.collect()) == 120
    assert spark.conf.get(key) == "33"

    # above the largest timed bucket count, the threshold rises no further
    with _listed_on_driver(spark, 1000):
        assert spark.conf.get(key) == "64"
    assert spark.conf.get(key) == "33"

    spark.conf.unset(key)
    with pytest.raises(AnalysisException):
        run_extract_job(spark, str(tmp_path / "missing"), out,
                        str(tmp_path / "m2"), run_id="r2",
                        n_buckets=n_buckets)
    assert spark.conf.get(key, None) is None
