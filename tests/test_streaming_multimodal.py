"""Streaming twin == batch result; multimodal plumbing round-trips."""

import os

import pyspark.sql.functions as F
import pytest

from t2p_spark.fixtures import fixture_doc_rows, media_doc_rows
from t2p_spark.multimodal import decode_media, media_meta, media_table_from_docs
from t2p_spark.schema import DOCS_SCHEMA
from tests.conftest import needs_reference


@needs_reference
def test_streaming_extract_equals_batch(spark, tmp_path):
    from t2p_spark.pipeline import extract
    from t2p_spark.streaming import run_extract_stream

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA
    )
    in_path = str(tmp_path / "docs")
    out_path = str(tmp_path / "out")
    ck_path = str(tmp_path / "ck")
    docs.repartition(4).write.parquet(in_path)

    q = run_extract_stream(spark, in_path, out_path, ck_path)
    q.awaitTermination(120)

    got = spark.read.parquet(out_path)
    batch = extract(docs, parallelism=2)
    fp = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["status"],
         tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in r["spans"]))
        for r in df.collect()
    )
    assert fp(got) == fp(batch)



def test_run_extract_stream_equals_extract_on_synth(spark, tmp_path):
    """The extraction stream over a parquet of generated docs (plus one
    quarantined doc) lands exactly the rows batch extract gives."""
    import json

    from t2p_spark.fixtures import doc_row
    from t2p_spark.pipeline import extract
    from t2p_spark.streaming import run_extract_stream
    from t2p_spark.synth import generate_doc

    rows = []
    for i in range(8):
        aws, w, h, media = generate_doc(f"gen-{i}", i)
        rows.append(doc_row(f"gen-{i}", json.dumps(aws), w, h, media,
                            chunk_size=4096))
    rows.append(("bad", [("media", "10x10", "m.jpg", 0),
                         ("text", "[1,2]", "", 1)]))
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    in_path = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(in_path)

    q = run_extract_stream(spark, in_path, str(tmp_path / "out"),
                           str(tmp_path / "ck"))
    q.awaitTermination(120)

    def fp(df):
        return sorted(
            (r["doc_id"], r["status"], r["error"], r["span_fp"],
             r["bucket"],
             tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in r["spans"]))
            for r in df.collect())

    got = fp(spark.read.parquet(str(tmp_path / "out")))
    assert len(got) == 9
    assert got == fp(extract(docs))

@needs_reference
def test_streaming_oversized_doc_does_not_kill_stream(spark, tmp_path):
    """One pathological oversized doc arriving mid-stream must quarantine
    as PayloadTooLarge while the stream keeps draining: every other doc's
    result is identical to the uncapped batch run."""
    from t2p_spark.pipeline import extract
    from t2p_spark.streaming import run_extract_stream

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA
    )
    in_path = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(in_path)

    # cap at the median fixture payload so both sides are populated and the
    # oversized docs are scattered across microbatches
    sizes = sorted(
        r["pb"] for r in extract(docs, max_payload_bytes=1)
        .selectExpr("CAST(split(error, ' ')[1] AS BIGINT) AS pb").collect()
    )
    cap = sizes[len(sizes) // 2]

    q = run_extract_stream(spark, in_path, str(tmp_path / "out"),
                           str(tmp_path / "ck"), max_payload_bytes=cap)
    q.awaitTermination(120)

    got = {r["doc_id"]: r
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    base = {r["doc_id"]: r for r in extract(docs).collect()}
    assert set(got) == set(base)
    oversized = 0
    for d, r in got.items():
        if r["error"].startswith("PayloadTooLarge"):
            oversized += 1
            assert r["status"] == "quarantined"
        else:
            assert r["status"] == base[d]["status"]
            assert r["span_fp"] == base[d]["span_fp"]
    assert 0 < oversized < len(got)


def test_stream_drain_removes_its_checkpoint(spark, monkeypatch):
    """A drained screen leaves no t2p_ck_* checkpoint dir and no *_in
    input view behind: the memory sink holds the output and the drains
    are never resumed."""
    import tempfile

    from t2p_spark import streaming
    from tests.test_curate_job import SF

    made = []
    real = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(real(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    out = streaming.pii_screen_streamed_result(spark, SF)
    assert out.count() > 0
    ck = [d for d in made if os.path.basename(d).startswith("t2p_ck_")]
    assert len(ck) == 1
    assert os.path.dirname(ck[0]) == tempfile.gettempdir()
    assert not os.path.exists(ck[0])
    assert not [t.name for t in spark.catalog.listTables()
                if t.isTemporary and t.name.endswith("_in")]



def test_staged_replay_dirs_removed_at_exit():
    """Staged replay dirs outlive every drain (the memo shares them) but
    not the process: once a child that ran a streamed screen exits, none
    of its staged dirs is left."""
    import subprocess
    import sys

    from tests.conftest import REPO
    from tests.test_curate_job import SF

    code = f"""
from pyspark.sql import SparkSession
from t2p_spark import streaming
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
assert streaming.pii_screen_streamed_result(spark, {SF!r}).count() > 0
for staged, _ in streaming._STAGED.values():
    print("STAGED", staged)
"""
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    staged = [line.split(" ", 1)[1] for line in out.stdout.splitlines()
              if line.startswith("STAGED ")]
    assert staged
    assert not [d for d in staged if os.path.exists(d)]


def test_dedup_replay_staged_once(spark):
    """The dedup screen's replay (the events chunks plus the redelivery
    chunk) is staged once per session: a second call writes no staged
    file. The copied chunks keep their pinned mtimes and the redelivery
    chunk replays after them."""
    from t2p_spark import streaming
    from tests.test_curate_job import SF

    def mtimes(root, suffix=""):
        return {os.path.relpath(os.path.join(d, f), root):
                os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, files in os.walk(root) for f in files
                if f.endswith(suffix)}

    first = sorted(streaming.dedup_streamed_result(spark, SF).collect())
    staged = mtimes(streaming._stage_root())
    second = sorted(streaming.dedup_streamed_result(spark, SF).collect())
    assert mtimes(streaming._stage_root()) == staged
    assert second == first

    events_dir, _ = streaming._stage_chunks(spark, SF,
                                            *streaming._EVENTS_REPLAY)
    dup_dir, _ = streaming._stage_redelivery(spark, SF)
    chunks = mtimes(events_dir, ".parquet")
    dup = mtimes(dup_dir, ".parquet")
    assert {f: dup[f] for f in chunks} == chunks
    redelivery = set(dup) - set(chunks)
    assert len(redelivery) == 1
    assert dup[redelivery.pop()] > max(chunks.values())


def test_streaming_events_window_equals_batch(spark, tmp_path):
    from t2p_spark.relational import register_views
    from t2p_spark.streaming import _drain_to_memory, events_tumbling_stream

    sf_dir = "/root/testdata/sf0.001"
    register_views(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_dir = str(tmp_path / "events")  # file stream source needs a directory
    ev.orderBy("ts").coalesce(4).write.parquet(ev_dir)
    table = _drain_to_memory(
        spark, "ev_agg", ev_dir, ev.schema,
        lambda stream, _: events_tumbling_stream(stream), "complete")
    got = {
        (r["hour_bucket"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql(f"SELECT * FROM {table}").collect()
    }
    want = {
        (r["hour_bucket"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("""
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_value
            FROM events GROUP BY 1, 2
        """).collect()
    }
    # watermark may drop events >2h late relative to the max seen ts per
    # microbatch; with maxFilesPerTrigger ordering this corpus arrives
    # roughly in ts order, so the aggregate must cover every batch key
    assert got == want


@needs_reference
def test_streaming_sink_idempotent_on_retry(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the SAME microbatch
    (same batch_id, e.g. retry after a partial write) must not duplicate
    rows; a LATER batch must append."""
    from t2p_spark.pipeline import extract
    from t2p_spark.streaming import write_extract_batch

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20))[:4], schema=DOCS_SCHEMA
    )
    out = extract(docs, parallelism=2)
    path = str(tmp_path / "sink")
    write_extract_batch(out, 0, path)
    n1 = spark.read.parquet(path).count()
    write_extract_batch(out, 0, path)  # retry of batch 0
    assert spark.read.parquet(path).count() == n1
    write_extract_batch(out, 1, path)  # a genuinely new batch appends
    assert spark.read.parquet(path).count() == 2 * n1


def test_streaming_sessionize_equals_batch(spark, tmp_path):
    """The session-window stream, drained over chronological file chunks,
    equals the batch window-function sessionization: over the sf0.001
    events, and over hand-built pairs at the 30-min gap boundary, where
    the batch twin starts a new session only when ts > prev + 30 min."""
    import datetime as dt

    from t2p_spark.relational import RELATIONAL_SQL
    from t2p_spark.streaming import sessionize_streamed_result

    sf_dir = "/root/testdata/sf0.001"
    t0 = dt.datetime(2024, 1, 1)
    gap, us = dt.timedelta(minutes=30), dt.timedelta(microseconds=1)
    # (user, offset from t0): a pair exactly the gap apart; a pair the
    # gap + 1 us apart; a chain at 0, 30, 60 min and 60 min + 2 us; a
    # pair the gap - 1 us apart
    edge = [(1, 0 * gap), (1, gap), (2, 0 * gap), (2, gap + us),
            (3, 0 * gap), (3, gap), (3, 2 * gap), (3, 2 * gap + 2 * us),
            (4, 0 * gap), (4, gap - us)]
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    rows = [(i, t0 + off, user, "click", 1.0, "{}")
            for i, (user, off) in enumerate(edge)]
    edge_dir = str(tmp_path / "edge")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{edge_dir}/events.parquet")

    batch_sql = RELATIONAL_SQL["events_sessionize"]
    assert batch_sql.count("FROM events") == 1
    for sf in (sf_dir, edge_dir):
        spark.read.parquet(f"{sf}/events.parquet") \
            .createOrReplaceTempView("sess_events")
        want = {r["user_id"]: (r["n_sessions"], r["n_events"])
                for r in spark.sql(batch_sql.replace(
                    "FROM events", "FROM sess_events")).collect()}
        got = {r["user_id"]: (r["n_sessions"], r["n_events"])
               for r in sessionize_streamed_result(spark, sf).collect()}
        assert got == want
    spark.catalog.dropTempView("sess_events")
    # the last input is the boundary case: (sessions, events) per user
    assert got == {1: (1, 2), 2: (2, 2), 3: (1, 4), 4: (1, 2)}


def test_media_table_and_meta(spark):
    docs = spark.createDataFrame(media_doc_rows(), schema=DOCS_SCHEMA)
    media = media_table_from_docs(docs)
    meta = media_meta(media).collect()
    assert len(meta) == 8
    assert all(m["valid"] and m["format"] == "t2pimg" for m in meta)
    widths = {m["width"] for m in meta}
    assert 2135 in widths and 425 in widths  # fixture dims round-tripped


def test_decode_media_stub():
    from t2p_spark.multimodal import encode_fake_image

    img = decode_media(encode_fake_image(10, 20, 3, seed=1))
    assert (img["width"], img["height"], img["channels"]) == (10, 20, 3)
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff\xe0 not actually decodable jpeg")


def test_resize_and_features_and_frames(spark):
    from t2p_spark.multimodal import (
        frame_sample, media_features, media_meta, resize_media,
    )

    docs = spark.createDataFrame(media_doc_rows(), schema=DOCS_SCHEMA)
    media = media_table_from_docs(docs)

    resized = resize_media(media, max_side=512).collect()
    assert all(r["width"] is None or max(r["width"], r["height"]) <= 512
               for r in resized)
    # resized payloads still parse as valid fake images
    meta2 = media_meta(
        spark.createDataFrame(
            [(r["media_id"], None, None, r["content"]) for r in resized],
            schema=media.schema,
        )
    ).collect()
    assert all(m["valid"] for m in meta2)

    feats = media_features(media).collect()
    assert all(len(f["feature"]) == 8 for f in feats)
    assert all(abs(sum(f["feature"]) - 1.0) < 0.01 for f in feats)

    frames = frame_sample(media, every_n=2, frame_bytes=128).collect()
    assert len(frames) > 8  # explode: more rows out than in
    assert all(f["frame_idx"] % 2 == 0 for f in frames)
