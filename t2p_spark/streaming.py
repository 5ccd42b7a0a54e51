"""Structured Streaming surfaces of the engine.

The reference is a batch converter (no streaming anywhere, SURVEY.md §2.7);
these are the natural streaming extensions a continuously-ingesting corpus
needs, built on the same kernels so batch/stream semantics are identical:

  - ``run_extract_stream``: the extraction pipeline as a stream —
    ``pipeline.extract`` over a readStream of the docs table, drained
    once with availableNow and written by a foreachBatch sink
    partitioned by (batch_id, bucket) with dynamic partition overwrite,
    so a retried microbatch rewrites exactly its own output. The stream
    writes no metrics table.
  - ``_stage_chunks``: the one replay stager. It writes a table (or a
    slice of it) as ordered parquet chunk files with pinned mtimes, the
    landing-zone history a file stream replays oldest-first. Staging is
    memoized per session and table, and every staged dir lives under one
    per-process root that is removed at interpreter exit.
    ``_stage_redelivery`` stages the dedup screen's replay the same way:
    a copy of the events replay plus a last chunk of redelivered events.
  - ``_drain_to_memory``: the one memory drain. Each of the six streamed
    driver queries (sessionization, tumbling windows, redelivery dedup,
    near-dup / PII / quality screens) is a ``build`` from the replay
    stream to its output; the drain runs it to completion into a memory
    sink with availableNow and records its executed plan in
    ``LAST_STREAM_PLANS``. Each query's oracle is its batch twin.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from t2p_spark.pipeline import MAX_PAYLOAD_BYTES, extract
from t2p_spark.schema import DOCS_SCHEMA


def write_extract_batch(batch_df: DataFrame, batch_id: int,
                        output_path: str) -> None:
    """Idempotent microbatch sink for ``pipeline.extract`` output:
    partitioned by (batch_id, bucket) with dynamic partition overwrite, so
    a retried microbatch rewrites exactly its own batch_id partitions —
    at-least-once delivery becomes effectively-once durable output."""
    (batch_df
     .withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id", "bucket")
     .parquet(output_path))


def run_extract_stream(spark: SparkSession, input_path: str, output_path: str,
                       checkpoint_path: str,
                       max_payload_bytes: int = MAX_PAYLOAD_BYTES):
    """Drain the docs table at ``input_path`` once (availableNow, backfill
    mode), four files per microbatch.

    No shuffle inside the stream — one stage per microbatch. Oversized docs
    quarantine (PayloadTooLarge) exactly as in batch extract: one
    pathological arriving doc must not kill the long-running stream.

    Exactly-once: foreachBatch is at-least-once — on retry after a partial
    write the whole microbatch re-runs — so the sink must dedupe on batch_id.
    Partitioning by (batch_id, bucket) with dynamic partition overwrite makes
    a retry rewrite exactly its own batch_id partitions and nothing else:
    idempotent per microbatch, append across microbatches.
    """
    docs = (spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 4).parquet(input_path))
    out = extract(docs, max_payload_bytes=max_payload_bytes)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_extract_batch(batch_df, batch_id, output_path)

    return (
        out.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def events_sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """Per-user sessionization as a stream: Spark's native session window
    with the batch ``events_sessionize`` twin's 30-min inactivity gap, one
    row per (user_id, session) with its event count.

    A session window merges an event whose ts is at most its session's
    last ts plus the gap, so the plain "30 minutes" gap reproduces the
    batch twin's strict ``ts > prev + 30 min`` new-session test: a pair
    exactly 30 min apart stays one session, a pair 30 min + 1 us apart
    is two.

    Drained in complete mode, the sink holds every final session window,
    and the state keeps every session window too, so state grows with
    sessions, not with users: fine for the bounded availableNow replay
    this query drains. An unbounded feed would need append mode with a
    watermark plus a final flush of the sessions still open.
    """
    return events_stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes")).count()


def events_tumbling_stream(events_stream: DataFrame) -> DataFrame:
    """Watermarked 1h tumbling windows per event_type (late data > 2h dropped)."""
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_bucket"),
            "event_type",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


# The two landing-zone replays, as _stage_chunks arguments (table, slice,
# order columns, chunk count). Events arrive chronologically, because the
# tumbling query's 2h watermark drops data arriving later than that. The
# incoming documents are the doc_id % 4 = 0 slice (the oracles restrict
# their batch twins to it), in doc_id order.
_EVENTS_REPLAY = ("events", "TRUE", ("ts", "event_id"), 4)
_DOCS_REPLAY = ("documents", "doc_id % 4 = 0", ("doc_id",), 3)

_STAGED: dict = {}


@functools.cache
def _stage_root() -> str:
    """The per-process parent of every staged replay dir. The memo keeps
    staged dirs for the life of the process, so no drain may remove them;
    the whole root goes at interpreter exit instead."""
    root = tempfile.mkdtemp(prefix="t2p_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _stage_chunks(spark: SparkSession, sf_dir: str, table: str,
                  where: str, order: tuple, n_chunks: int):
    """Stage the ``where`` slice of ``table`` as n_chunks parquet files,
    disjoint in ``order`` and written in that order (the file stream
    replays them oldest-first by modification time) — a faithful replay
    of how a landing zone receives history. Returns (dir, schema);
    memoized per (session, sf_dir, table, n_chunks) — the staged replay
    of an immutable table is itself immutable, and the streamed driver
    queries over one table share it. The source frame is read only on a
    memo miss."""
    from pyspark.sql import Window

    from t2p_spark.session import session_key

    key = (session_key(spark), sf_dir, table, n_chunks)
    if key in _STAGED:
        return _STAGED[key]
    src = spark.read.parquet(f"{sf_dir}/{table}.parquet").where(where)
    out_dir = tempfile.mkdtemp(prefix=f"t2p_{table}_stream_",
                               dir=_stage_root())
    rn = F.row_number().over(Window.orderBy(*order))
    # cache the ranked relation: each chunk write filters it, and without
    # the cache every write re-runs the global sort — n_chunks full sorts
    # for one staging pass
    chunked = src.withColumn("_rn", rn).cache()
    n = chunked.count()
    per = (n + n_chunks - 1) // n_chunks
    # FileStreamSource orders files by mtime at ms resolution: two chunk
    # writes landing in the same millisecond could replay out of order and
    # break the time-order precondition of the events replay (the 2h
    # watermark would then drop rows — an intermittent oracle flake). Pin
    # each chunk's part-file mtime explicitly in chunk order.
    pinned: set = set()
    base_mtime = os.stat(out_dir).st_mtime
    for i in range(n_chunks):
        (chunked
         .filter((F.col("_rn") > i * per) & (F.col("_rn") <= (i + 1) * per))
         .drop("_rn").coalesce(1).write.mode("append").parquet(out_dir))
        for f in os.listdir(out_dir):
            if f.startswith("part-") and f not in pinned:
                t = base_mtime + (i + 1) * 10.0
                os.utime(os.path.join(out_dir, f), (t, t))
                pinned.add(f)
    chunked.unpersist()
    _STAGED[key] = (out_dir, src.schema)
    return _STAGED[key]


def _stage_redelivery(spark: SparkSession, sf_dir: str):
    """The events replay plus a final chunk that redelivers the ~5% of
    events whose md5-bucket of event_id is below 5. Returns (dir, schema),
    memoized like ``_stage_chunks``: the chunks are copied with their
    pinned mtimes, and the redelivery chunk's mtime is pinned after the
    last of them, so the stream replays it last."""
    from t2p_spark.session import session_key

    key = (session_key(spark), sf_dir, "events_redelivery")
    if key in _STAGED:
        return _STAGED[key]
    path, schema = _stage_chunks(spark, sf_dir, *_EVENTS_REPLAY)
    out_dir = tempfile.mkdtemp(prefix="t2p_events_dup_", dir=_stage_root())
    chunks = [f for f in os.listdir(path) if f.endswith(".parquet")]
    for f in chunks:
        shutil.copy2(os.path.join(path, f), out_dir)
    (spark.read.parquet(path)
     .where("CAST(CONV(SUBSTRING(md5(CAST(event_id AS STRING)), 1, 8), "
            "16, 10) AS BIGINT) % 100 < 5")
     .coalesce(1).write.mode("append").parquet(out_dir))
    last = max(os.stat(os.path.join(out_dir, f)).st_mtime for f in chunks)
    for f in os.listdir(out_dir):
        if f.endswith(".parquet") and f not in chunks:
            os.utime(os.path.join(out_dir, f), (last + 10.0, last + 10.0))
    _STAGED[key] = (out_dir, schema)
    return _STAGED[key]


_STREAM_SEQ = [0]

# driver-query name -> the last drained run's FINAL microbatch executed
# plan (explainInternal over lastExecution). Streams have no batch
# DataFrame whose plan tools/audit_plans.py could explain, so each drain
# records its own executed plan here and the audit reads it back — the
# same scale screening (joins/shuffles/red flags) the batch queries get.
LAST_STREAM_PLANS: dict[str, str] = {}


@contextlib.contextmanager
def _checkpoint():
    """A fresh checkpoint dir for one drain, removed when the block exits:
    the memory sink then holds the output and the drains here are never
    resumed."""
    ck = tempfile.mkdtemp(prefix="t2p_ck_")
    try:
        yield ck
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def _drain_to_memory(spark: SparkSession, audit_name: str, path: str,
                     schema, build, mode: str) -> str:
    """Run one streamed query to completion and return the name of its
    memory-sink table.

    The parquet files at ``path`` are replayed as a stream, which is also
    registered as the temp view ``<sink table>_in`` for builders that retarget
    batch SQL at it; ``build(stream, view)`` returns the query's output,
    written in output ``mode`` to a memory sink and drained with
    availableNow. The input view is dropped when the drain returns; the
    sink's table stays, because the caller's frame reads it. The last
    microbatch's executed plan is recorded as
    ``LAST_STREAM_PLANS[audit_name]`` (best-effort: plan capture must
    never fail a drain — py4j internals are version-sensitive).

    Shuffle partitions are capped for the drain (half the session's core
    count, floor 8): each stateful microbatch opens one state-store
    instance per shuffle partition, and at a bench-style 64 partitions x
    4 batches that fixed cost dwarfs the (tiny) replay. The rule is a
    default, not a measured optimum: on 4 cores at sf0.1, where it gives
    8, every stateful drain was slower at 16 and faster at 4, and the
    fastest count from 1 to 4 differed by query. Above 16 cores, where
    the rule gives more than 8, it is untimed. Fresh checkpoints pin
    their own partition count, so the cap never leaks into a resumed
    stream; the previous session value is restored on exit.
    """
    _STREAM_SEQ[0] += 1
    qname = f"{audit_name}_{_STREAM_SEQ[0]}"
    view = f"{qname}_in"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(8, spark.sparkContext.defaultParallelism // 2)))
    try:
        with _checkpoint() as ck:
            # maxFilesPerTrigger=2: the drain's per-microbatch fixed cost
            # (offset/commit log writes, one state-store instance per
            # shuffle partition, job scheduling) dominates at bench scale,
            # so the backfill batches two chunk files per trigger — still
            # >= 2 stateful microbatches over the 4 staged event chunks, so
            # state genuinely crosses batch boundaries; a 100-TB backfill
            # does exactly this (availableNow with large maxFilesPerTrigger
            # / maxBytesPerTrigger). The drained result is
            # trigger-granularity-invariant (oracle-checked).
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 2).parquet(path))
            stream.createOrReplaceTempView(view)
            q = (build(stream, view).writeStream.outputMode(mode)
                 .format("memory").queryName(qname)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
            try:
                explain = (spark.sparkContext._jvm
                           .org.apache.spark.sql.execution.ExplainMode)
                # StreamingQueryWrapper -> StreamExecution ->
                # IncrementalExecution (a QueryExecution): the formatted
                # executed plan of the final microbatch, same shape
                # tools/audit_plans.py parses for batch
                LAST_STREAM_PLANS[audit_name] = (
                    q._jsq.streamingQuery().lastExecution()
                    .explainString(explain.fromString("formatted")))
            except Exception:  # pragma: no cover - capture is diagnostic
                try:
                    LAST_STREAM_PLANS[audit_name] = q._jsq.explainInternal(
                        True)
                except Exception:
                    pass
    finally:
        spark.catalog.dropTempView(view)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return qname


def sessionize_streamed_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle surface for the session-window stream: drain it over
    chronological chunks with availableNow in complete mode, so the
    memory table holds one row per final (user, session), and count the
    sessions and sum their events per user. Oracle: the batch
    events_sessionize window SQL (RELATIONAL_SQL) — hash equality means
    the native session window reproduces the batch gap semantics."""
    path, schema = _stage_chunks(spark, sf_dir, *_EVENTS_REPLAY)
    table = _drain_to_memory(
        spark, "events_sessionize_streamed", path, schema,
        lambda stream, _: events_sessionize_stream(stream), "complete")
    return spark.sql(f"""
        SELECT user_id,
               COUNT(*) AS n_sessions,
               SUM(count) AS n_events
        FROM {table} GROUP BY user_id
    """)


def tumbling_streamed_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle surface for the watermarked tumbling-window stream:
    drain over chronological chunks (complete output mode — the memory
    table IS the final aggregate). Oracle: the batch events_tumbling_hour
    SQL. Chronological replay matters: the 2h watermark would drop
    genuinely-late rows if chunks arrived out of order."""
    path, schema = _stage_chunks(spark, sf_dir, *_EVENTS_REPLAY)
    table = _drain_to_memory(
        spark, "events_tumbling_streamed", path, schema,
        lambda stream, _: events_tumbling_stream(stream), "complete")
    return spark.sql(
        f"SELECT event_type, hour_bucket, n_events, total_value "
        f"FROM {table}"
    )


def dedup_streamed_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming duplicate suppression — the exactly-once ingestion shape:
    a landing zone redelivers events (at-least-once feeds always do), the
    stream drops redeliveries with stateful ``dropDuplicates`` on the
    event key, and the durable output contains each event once.

    The replay is the staged chronological chunks PLUS a final chunk that
    redelivers a deterministic ~5% sample of earlier events (md5-bucket
    of event_id — twin-checkable, no random()), so the duplicates
    genuinely cross microbatch boundaries and exercise the dedup state
    store. Oracle: the batch per-type counts over the original events
    table — hash equality means every redelivery was suppressed and
    nothing real was lost. At scale: state is one key per event in the
    retention window; production feeds bound it with
    ``dropDuplicatesWithinWatermark``."""
    path, schema = _stage_redelivery(spark, sf_dir)
    table = _drain_to_memory(
        spark, "events_stream_dedup", path, schema,
        lambda stream, _: stream.dropDuplicates(["event_id"]), "append")
    return spark.sql(f"""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM {table} GROUP BY event_type
    """)


def _band_key_array(col_fmt: str, n_minhash: int) -> str:
    """array(concat(sig0,sig1), concat(sig2,sig3), ...) with each signature
    slot rendered through col_fmt (index -> SQL expression)."""
    return ("array(" + ", ".join(
        f"concat({col_fmt.format(2 * i)}, {col_fmt.format(2 * i + 1)})"
        for i in range(n_minhash // 2)) + ")")


def neardup_screen_streamed_result(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Incremental near-dup screening — the ingestion-time shape of
    MinHash-LSH dedup: new documents arrive as a stream and are screened
    against the *existing* corpus's signature index before admission.

    Spark-first composition:
      - static side: the band index of the existing corpus (doc_id % 4
        <> 0) — the batch _minhash_select over the cached documents_tok,
        band-exploded and cached once; every microbatch reuses it (at
        scale: a broadcast- or bucket-joined index table maintained by
        the batch dedup job);
      - stream side: signatures computed IN the stream projection via
        minhash_sig_inline (HOF let-binding, no Python, no cache needed),
        band-exploded, stream-static equi-join on (band, key) — stateless,
        so each microbatch is one hash join against the index;
      - stateful ``dropDuplicates`` on the (new, corpus) pair emits each
        screening hit exactly once even when several bands collide or a
        redelivered file repeats a document.

    Oracle: the batch DuckDB twin joining new-slice signatures against
    corpus-slice signatures on any shared band (neardup_screen_oracle_sql).
    """
    from t2p_spark.relational import register_views
    from t2p_spark.textkit import (
        N_MINHASH, ensure_minhash_sigs, minhash_sig_inline,
    )

    register_views(spark, sf_dir)
    path, schema = _stage_chunks(spark, sf_dir, *_DOCS_REPLAY)
    band_static = _band_key_array("sig_{}", N_MINHASH)
    # the corpus signature table is the shared sigs_mat materialization
    # (the batch dedup job maintains it; the screen only band-explodes it)
    index = (
        ensure_minhash_sigs(spark)
        .where("doc_id % 4 <> 0")
        .selectExpr("doc_id AS corpus_doc_id",
                    f"posexplode({band_static}) AS (band, key)")
        .cache()
    )
    band_stream = _band_key_array("sigs[{}]", N_MINHASH)

    def build(stream, _):
        s_bands = (
            stream
            .selectExpr("doc_id", f"{minhash_sig_inline()} AS sigs")
            .selectExpr("doc_id AS new_doc_id",
                        f"posexplode({band_stream}) AS (band, key)")
        )
        return (s_bands.join(index, ["band", "key"])
                .select("new_doc_id", "corpus_doc_id")
                .dropDuplicates(["new_doc_id", "corpus_doc_id"]))

    try:
        table = _drain_to_memory(spark, "stream_neardup_screen", path,
                                 schema, build, "append")
    finally:
        index.unpersist()
    # no final DISTINCT: if the stream ever emitted a pair twice, the
    # oracle hash-compare must see it
    return spark.sql(
        f"SELECT new_doc_id, corpus_doc_id FROM {table}")


def neardup_screen_oracle_sql() -> str:
    """DuckDB twin of the streamed screen: new-slice x corpus-slice
    signature join on any shared 2-signature band."""
    from t2p_spark.textkit import N_MINHASH, _minhash_select

    or_arms = "\n           OR ".join(
        f"(n.sig_{2*i} = c.sig_{2*i} AND n.sig_{2*i+1} = c.sig_{2*i+1})"
        for i in range(N_MINHASH // 2))
    return f"""
        WITH sigs AS ({_minhash_select("d")})
        SELECT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
        FROM sigs n JOIN sigs c
          ON n.doc_id % 4 = 0 AND c.doc_id % 4 <> 0
        WHERE {or_arms}
    """


def pii_screen_streamed_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time PII screening: incoming documents are scanned for
    emails/phones/key-shaped tokens BEFORE admission to the corpus — the
    compliance gate a landing zone runs on every arriving file.

    Spark-first composition: the detection is the SAME vectorized
    regexp SQL as the batch ``pii_scrub`` twin, applied verbatim to a
    streaming temp view — stateless per microbatch (no watermark, no
    state store), whole-stage codegen, zero Python. Using the identical
    SQL text for stream and batch is the point: the stream IS the batch
    operator incrementalized, so the oracle (the DuckDB pii twin over
    the same incoming slice) pins stream == batch semantics exactly.
    """
    from t2p_spark.relational import register_views
    from t2p_spark.textkit import spark_sql_queries

    register_views(spark, sf_dir)
    path, schema = _stage_chunks(spark, sf_dir, *_DOCS_REPLAY)

    def build(_, view):
        # the batch twin's SQL, retargeted at the stream view verbatim;
        # the uniqueness assert guards the prefix-substring replace (a
        # future "FROM documents_tok" reference would match too and
        # silently corrupt the SQL)
        pii_sql = spark_sql_queries()["pii_scrub"]
        assert pii_sql.count("FROM documents") == 1
        return spark.sql(pii_sql.replace("FROM documents", f"FROM {view}"))

    table = _drain_to_memory(spark, "stream_pii_screen", path, schema,
                             build, "append")
    return spark.sql(
        f"SELECT doc_id, n_emails, n_phones, n_keys, redacted_md5 "
        f"FROM {table}")


def pii_screen_oracle_sql() -> str:
    """DuckDB twin: the batch pii query restricted to the incoming slice
    (doc_id % 4 = 0 — the same slice the documents replay stages)."""
    from t2p_spark.textkit import duckdb_oracle_queries

    sql = duckdb_oracle_queries()["pii_scrub"]
    assert sql.count("FROM documents") == 1
    return sql.replace("FROM documents",
                       "FROM documents WHERE doc_id % 4 = 0")


def quality_gate_streamed_result(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Ingestion-time quality gate — the third screen of the landing-zone
    triad (near-dup screen, PII screen, quality gate): every arriving
    document gets the batch ``corpus_filter`` verdict (Gopher/C4-style
    per-doc rules) BEFORE admission.

    Spark-first composition: the batch twin's SQL retargeted at the
    stream, with the tokenization inlined into the stream projection
    (the cached documents_tok view cannot back a stream; the quality
    features fold over the token array a handful of times, so the
    re-tokenization cost is bounded — unlike the shingle/bit element
    access patterns that need the cached view). Stateless microbatches,
    zero Python. The per-doc rules depend only on the document itself,
    so stream == batch verdicts exactly — pinned by the oracle.
    """
    from t2p_spark.relational import register_views
    from t2p_spark.textkit import _hash60, _tokens, _xform, spark_sql_queries

    register_views(spark, sf_dir)
    path, schema = _stage_chunks(spark, sf_dir, *_DOCS_REPLAY)

    def build(_, view):
        inline_tok = (
            f"(SELECT doc_id, source, n_chars, text, "
            f"{_tokens('text', 's')} AS toks, "
            f"{_xform(_tokens('text', 's'), 't -> ' + _hash60('t', 's'), 's')}"
            f" AS thashes FROM {view})")
        return spark.sql(spark_sql_queries()["corpus_filter"].replace(
            "documents_tok", inline_tok))

    table = _drain_to_memory(spark, "stream_quality_gate", path, schema,
                             build, "append")
    return spark.sql(
        f"SELECT doc_id, verdict, n_tokens FROM {table}")


def quality_gate_oracle_sql() -> str:
    """DuckDB twin: the batch corpus_filter restricted to the incoming
    slice (doc_id % 4 = 0, the documents replay)."""
    from t2p_spark.textkit import duckdb_oracle_queries

    sql = duckdb_oracle_queries()["corpus_filter"]
    assert sql.count("FROM documents)") == 1
    return sql.replace("FROM documents)",
                       "FROM documents WHERE doc_id % 4 = 0)")
