"""End-to-end curation job: documents -> gates -> kept set -> training
chunks -> hash-assigned shards on disk, with a written manifest and a
funnel report.

This is the EXECUTABLE counterpart of the accounting twins
(`curate_attrition_incr`, `chunk_documents`, `shard_manifest`): the same
SQL stages, but materialized to parquet the way a 100-TB run schedules
them —

  1. each curation gate materialized once (`materialize_curation_stages`);
  2. the funnel report (one broadcast-join pass over the gate tables)
     written as `funnel/`;
  3. the kept TRAIN-split documents chunked into fixed-stride training
     windows;
  4. chunks hash-assigned to `n_shards` fixed shards — a pure function of
     (doc_id, chunk_idx), so shard contents are invariant to cluster
     size — and written `partitionBy(shard_id)` as `shards/`;
  5. a per-shard manifest (n_chunks, total_tokens, order-free mergeable
     fp60 digest) computed FROM THE WRITTEN FILES and cross-checked
     against the pre-write accounting — a corrupted or partial write
     cannot produce a matching manifest — then written as `manifest/`.

Run via spark-submit:

    spark-submit --master local[8] jobs/curate.py \
        --input /root/testdata/sf0.001 --output /tmp/curated
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def _shard_expr(n_shards: int) -> str:
    """The shard_manifest twin's assignment expression, built FROM the
    twin's own hash builder (textkit._hash60 of doc_id#chunk_idx, mod
    n_shards) so the on-disk shard assignment can never drift from the
    manifest operator (r5 ADVICE: no hand-duplicated dialect strings)."""
    from t2p_spark.textkit import _hash60

    key = "concat(CAST(doc_id AS STRING), '#', CAST(chunk_idx AS STRING))"
    return f"{_hash60(key, 's')} % {n_shards}"


def _fp60_expr() -> str:
    from t2p_spark.textkit import _hash60

    key = "concat(CAST(doc_id AS STRING), '#', CAST(chunk_idx AS STRING))"
    return _hash60(f"concat(chunk_md5, ':', {key})", "s")


def run_curation_job(spark: SparkSession, sf_dir: str, out_dir: str,
                     n_shards: int = None, resume: bool = False) -> dict:
    """Execute the curation pipeline; returns summary counters.

    Raises RuntimeError if the post-write manifest does not match the
    pre-write accounting (the write-integrity gate).

    ``resume=True`` (the restart path after a crashed run): the shard
    assignment is a pure function of the input, so the expected per-shard
    manifest is recomputed, every shard partition already on disk is
    verified against it, and ONLY missing/mismatching shards are rewritten
    (dynamic partition overwrite — same unit-of-restart design as
    jobs/extract.py's bucket resume). A corrupt or partial shard can never
    survive: it fails the digest compare and is rewritten."""
    from t2p_spark.relational import register_views
    from t2p_spark.textkit import (
        N_SHARDS, materialize_curation_stages, prepare_textkit_views,
        spark_sql_queries,
    )

    nsh = N_SHARDS if n_shards is None else n_shards
    register_views(spark, sf_dir)
    prepare_textkit_views(spark, "curate_attrition_incr")
    materialize_curation_stages(spark)
    sqls = spark_sql_queries()

    # 1-2. funnel report over the materialized gates
    funnel = spark.sql(sqls["curate_attrition_incr"])
    funnel.coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "funnel"))

    # 3. kept TRAIN docs: passed every gate AND landed in the train split
    kept = spark.sql("""
        SELECT d.doc_id FROM documents d
        JOIN cf_mat cf ON cf.doc_id = d.doc_id AND cf.verdict = 'keep'
        LEFT JOIN rep_mat r ON r.doc_id = d.doc_id
        LEFT JOIN cont_mat c ON c.doc_id = d.doc_id
        LEFT JOIN keepl_mat k ON k.doc_id = d.doc_id
        JOIN spl_mat sp ON sp.doc_id = d.doc_id AND sp.split = 'train'
        WHERE (r.doc_id IS NULL OR r.verdict = 'ok')
          AND (c.doc_id IS NULL OR c.verdict <> 'contaminated')
          AND (k.doc_id IS NULL OR k.decision <> 'drop')
    """)
    kept.createOrReplaceTempView("kept_train")

    # training chunks of the kept set only (the chunk twin's SQL,
    # restricted by a broadcast semi-join on the kept list)
    chunks = spark.sql(
        f"SELECT ch.* FROM ({sqls['chunk_documents']}) ch "
        f"WHERE EXISTS (SELECT 1 FROM kept_train kt "
        f"              WHERE kt.doc_id = ch.doc_id)")
    chunks.createOrReplaceTempView("kept_chunks")

    # 4. deterministic shard assignment; write clustered by shard
    sharded = spark.sql(
        f"SELECT {_shard_expr(nsh)} AS shard_id, doc_id, chunk_idx, "
        f"n_chunk_tokens, chunk_md5, {_fp60_expr()} AS fp60 "
        f"FROM kept_chunks")
    sharded.createOrReplaceTempView("prewrite_shards")
    shards_path = os.path.join(out_dir, "shards")
    manifest_sql = ("SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, "
                    "CAST(SUM(n_chunk_tokens) AS BIGINT) AS total_tokens, "
                    "CAST(BIT_XOR(fp60) AS BIGINT) AS content_fp60 "
                    "FROM {src} GROUP BY shard_id")
    expected = spark.sql(manifest_sql.format(src="prewrite_shards"))
    e_rows = sorted(tuple(r) for r in expected.collect())

    from t2p_spark.checkpoint import _exists

    n_resumed = 0
    done: set = set()
    on_disk: dict = {}
    if resume and _exists(spark, shards_path):  # remote-fs-safe existence
        # verify each shard partition already on disk against the
        # recomputed expected manifest; digests, not existence, decide
        try:
            spark.read.parquet(shards_path) \
                .createOrReplaceTempView("written_shards")
            on_disk = {r[0]: tuple(r) for r in spark.sql(
                manifest_sql.format(src="written_shards")).collect()}
        except Exception:  # noqa: BLE001 — unreadable partial dir
            on_disk = {}
        # fail fast on a layout change (extract's bucket-modulus analogue):
        # dynamic overwrite can never DELETE a stale partition outside the
        # expected set, so resuming across an --n-shards change would leave
        # orphan shards and fail the gate unrecoverably. Make the cause
        # explicit instead.
        stale = sorted(set(on_disk) - {e[0] for e in e_rows})
        if stale:
            raise ValueError(
                f"shards/ holds shard_id={stale} outside the expected "
                f"0..{nsh - 1} layout — the directory was written with a "
                f"different --n-shards (or different input). Resume cannot "
                f"reconcile a layout change; rerun without --resume to "
                f"rewrite the output, or pass the original --n-shards.")
        done = {e[0] for e in e_rows if on_disk.get(e[0]) == e}
    if resume and done:
        todo = sorted({e[0] for e in e_rows} - done)
        n_resumed = len(todo)
        if todo:
            # rewrite exactly the missing/mismatching shard partitions
            in_list = ", ".join(str(s) for s in todo)
            (sharded.where(f"shard_id IN ({in_list})")
             .repartition(len(todo), "shard_id")
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("shard_id").parquet(shards_path))
    else:
        # full write replaces the WHOLE directory (static overwrite, set
        # on the write: a session left on dynamic would strand partitions
        # from a previous layout)
        n_resumed = len(e_rows)
        (sharded.repartition(nsh, "shard_id")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "static")
         .partitionBy("shard_id").parquet(shards_path))

    # 5. manifest FROM THE WRITTEN FILES, cross-checked against the
    # pre-write accounting (order-free digests are mergeable, so both
    # sides are one map-side-combined aggregate). Every published manifest
    # row is disk-verified; on resume the already-verified `done` digests
    # are reused so intact shards are scanned ONCE, not twice — only the
    # rewritten partitions are re-read for the gate.
    if resume and done:
        import pyspark.sql.functions as F

        todo = sorted({e[0] for e in e_rows} - done)
        if todo:
            rewritten = (spark.read.parquet(shards_path)
                         .where(F.col("shard_id").isin(todo)))
            rewritten.createOrReplaceTempView("rewritten_shards")
            fresh = {r[0]: tuple(r) for r in spark.sql(
                manifest_sql.format(src="rewritten_shards")).collect()}
        else:
            fresh = {}
        w_rows = sorted(list(fresh.values())
                        + [on_disk[s] for s in done])
    else:
        spark.read.parquet(shards_path) \
            .createOrReplaceTempView("written_shards")
        written = spark.sql(manifest_sql.format(src="written_shards"))
        w_rows = sorted(tuple(r) for r in written.collect())
    if w_rows != e_rows:
        raise RuntimeError(
            f"shard manifest mismatch: written {w_rows} != expected {e_rows}")
    # an Arrow table plans as a LocalRelation, so the one-file write below
    # starts no Python worker per slice (a Python list would)
    manifest_schema = pa.schema([("shard_id", pa.int32()),
                                 ("n_chunks", pa.int64()),
                                 ("total_tokens", pa.int64()),
                                 ("content_fp60", pa.int64())])
    manifest_df = spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(manifest_schema.names, r)) for r in w_rows],
        schema=manifest_schema))
    manifest_df.coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "manifest"))

    funnel_rows = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    return {
        "n_input": funnel_rows.get("0_input", 0),
        "n_kept_train": kept.count(),
        "n_chunks": sum(r[1] for r in w_rows),
        "n_shards": len(w_rows),
        "total_tokens": sum(r[2] for r in w_rows),
        "n_shards_written": n_resumed,
        "funnel": funnel_rows,
    }
