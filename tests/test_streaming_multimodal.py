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
    """A drained screen leaves no t2p_ck_* checkpoint dir behind: the
    memory sink holds the output and the drains are never resumed."""
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



def test_dedup_stream_removes_its_replay_dir(spark, monkeypatch):
    """The dedup screen's redelivery replay dir (t2p_events_dup_*) is gone
    once the drain returns: the memory sink holds the output."""
    import tempfile

    from t2p_spark import streaming
    from tests.test_curate_job import SF

    made = []
    real = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(real(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    out = streaming.dedup_streamed_result(spark, SF)
    assert out.count() > 0
    dup = [d for d in made
           if os.path.basename(d).startswith("t2p_events_dup_")]
    assert len(dup) == 1
    assert not os.path.exists(dup[0])

def test_streaming_events_window_equals_batch(spark, tmp_path):
    from t2p_spark.relational import register_views
    from t2p_spark.streaming import run_events_stream

    sf_dir = "/root/testdata/sf0.001"
    register_views(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_dir = str(tmp_path / "events")  # file stream source needs a directory
    ev.orderBy("ts").coalesce(4).write.parquet(ev_dir)
    q = run_events_stream(
        spark, ev_dir, ev.schema, str(tmp_path / "ck"), "ev_agg"
    )
    q.awaitTermination(120)
    got = {
        (r["hour_bucket"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM ev_agg").collect()
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
    """applyInPandasWithState sessionization drained over chronological
    file chunks == the batch window-function sessionization."""
    from t2p_spark.relational import RELATIONAL_SQL, register_views
    from t2p_spark.streaming import run_sessionize_stream

    sf_dir = "/root/testdata/sf0.001"
    register_views(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_dir = str(tmp_path / "events")
    # four chronological chunks committed in order, so the file stream
    # replays history across multiple stateful microbatches
    import pyspark.sql.functions as F

    rows = ev.orderBy("ts", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    for i in range(4):
        chunk = rows[i * quarter:(i + 1) * quarter]
        if chunk:
            spark.createDataFrame(chunk, ev.schema).coalesce(1) \
                .write.mode("append").parquet(ev_dir)

    q = run_sessionize_stream(spark, ev_dir, ev.schema,
                              str(tmp_path / "ck"), "sess_agg")
    q.awaitTermination(120)
    # the memory sink accumulates one row per (user, microbatch); running
    # totals only grow, so the final state is the max-n_events row
    got = {}
    for r in spark.sql("SELECT * FROM sess_agg").collect():
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[1]:
            got[r["user_id"]] = (r["n_sessions"], r["n_events"])
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql(RELATIONAL_SQL["events_sessionize"]).collect()
    }
    assert got == want


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
