"""Raw-JSON-directory ingest == the canonical docs table, end to end."""

import shutil

import pyspark.sql.functions as F

from t2p_spark.fixtures import fixture_ids, golden_meta
from t2p_spark.ingest import docs_from_json_dir
from t2p_spark.pipeline import extract
from tests.conftest import REF_JSON_DIR, load_golden, needs_reference

DOCS_SCHEMA_STR = ("doc_id string, spans array<struct<kind:string,"
                   "text:string,media_ref:string,offset:int>>")


@needs_reference
def test_ingest_json_dir_roundtrip(spark, tmp_path):
    json_dir = str(tmp_path / "responses")
    (tmp_path / "responses").mkdir()
    ids = fixture_ids()
    for doc_id in ids:
        shutil.copy(f"{REF_JSON_DIR}/{doc_id}.json",
                    f"{json_dir}/{doc_id}.json")
    dims = spark.createDataFrame(
        [(d, golden_meta(d)["width"], golden_meta(d)["height"],
          golden_meta(d)["media_ref"]) for d in ids],
        "doc_id string, width int, height int, media_ref string",
    )
    docs = docs_from_json_dir(spark, json_dir, dims, chunk_size=1 << 20)

    # the span encoding itself round-trips (media span + ordered chunks)
    row = {r["doc_id"]: r for r in docs.collect()}
    assert set(row) == set(ids)
    for doc_id in ids:
        spans = row[doc_id]["spans"]
        assert spans[0]["kind"] == "media"
        joined = "".join(s["text"] for s in sorted(
            (s for s in spans if s["kind"] == "text"),
            key=lambda s: s["offset"]))
        original = open(f"{REF_JSON_DIR}/{doc_id}.json",
                        encoding="utf-8").read()
        assert joined == original, doc_id

    # and the full extraction over the ingested table matches the goldens
    out = {r["doc_id"]: r for r in extract(docs, parallelism=2).collect()}
    for doc_id in ids:
        assert out[doc_id]["status"] == "ok", out[doc_id]["error"]
        got = [list(s) for s in out[doc_id]["spans"]]
        assert got == load_golden(doc_id)["spans"], doc_id


@needs_reference
def test_streaming_ingest_extract(spark, tmp_path):
    """JSON landing zone as a stream -> extraction stream == goldens."""

    json_dir = str(tmp_path / "responses")
    (tmp_path / "responses").mkdir()
    ids = fixture_ids()
    for doc_id in ids:
        shutil.copy(f"{REF_JSON_DIR}/{doc_id}.json",
                    f"{json_dir}/{doc_id}.json")
    dims = spark.createDataFrame(
        [(d, golden_meta(d)["width"], golden_meta(d)["height"],
          golden_meta(d)["media_ref"]) for d in ids],
        "doc_id string, width int, height int, media_ref string",
    )
    stream = docs_from_json_dir(spark, json_dir, dims, streaming=True)
    q = (
        extract(stream)
        .writeStream.format("memory").queryName("ingest_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["status"], r["n_spans"])
        for r in spark.sql("SELECT * FROM ingest_stream").collect()
    }
    want = {d: ("ok", len(load_golden(d)["spans"])) for d in ids}
    assert got == want


@needs_reference
def test_ingest_small_chunks(spark, tmp_path):
    """Chunked encoding (many text spans per doc) reassembles identically."""
    json_dir = str(tmp_path / "responses")
    (tmp_path / "responses").mkdir()
    doc_id = fixture_ids()[0]
    shutil.copy(f"{REF_JSON_DIR}/{doc_id}.json", f"{json_dir}/{doc_id}.json")
    g = golden_meta(doc_id)
    dims = spark.createDataFrame(
        [(doc_id, g["width"], g["height"], g["media_ref"])],
        "doc_id string, width int, height int, media_ref string",
    )
    docs = docs_from_json_dir(spark, json_dir, dims, chunk_size=64 << 10)
    n_spans = docs.select(F.size("spans")).collect()[0][0]
    assert n_spans > 3  # genuinely chunked
    out = extract(docs).collect()[0]
    assert out["status"] == "ok"
    assert [list(s) for s in out["spans"]] == load_golden(doc_id)["spans"]


@needs_reference
def test_ingest_encoded_names_and_quarantine(spark, tmp_path):
    """Filenames with spaces/%/# decode to the right doc_id (r2 ADVICE:
    input_file_name() is URL-encoded), and dim-less docs route to the
    quarantine frame instead of silently dropping."""
    json_dir = str(tmp_path / "responses")
    (tmp_path / "responses").mkdir()
    src = fixture_ids()[0]
    g = golden_meta(src)
    tricky = ["doc with space", "doc%20literal", "doc#frag", "a+b", "plain"]
    for name in tricky:
        shutil.copy(f"{REF_JSON_DIR}/{src}.json", f"{json_dir}/{name}.json")
    # dims for all but the last -> exactly one quarantined doc
    dims = spark.createDataFrame(
        [(n, g["width"], g["height"], g["media_ref"]) for n in tricky[:-1]],
        "doc_id string, width int, height int, media_ref string",
    )
    docs, quarantined = docs_from_json_dir(
        spark, json_dir, dims, with_quarantine=True)
    got_ids = sorted(r["doc_id"] for r in docs.collect())
    assert got_ids == sorted(tricky[:-1])
    q = quarantined.collect()
    assert [(r["doc_id"], r["reason"]) for r in q] == \
        [("plain", "missing_dims")]
    # ingested payloads still extract to the source fixture's golden
    out = extract(docs, parallelism=2).collect()
    assert all(r["status"] == "ok" for r in out)
    want = load_golden(src)["spans"]
    for r in out:
        got = [list(s) for s in r["spans"]]
        # media span carries the doc's own media_ref; text spans identical
        assert [g[0] for g in got] == [w[0] for w in want]
        assert got[1:] == want[1:]


@needs_reference
def test_split_multipage(spark):
    """Synthetic 3-page Textract response -> 3 per-page docs whose
    extracted spans equal the single-page conversions; a multi-PAGE
    response containing a block without a Page field quarantines."""
    import json

    from t2p_spark.ingest import split_multipage

    src = fixture_ids()[0]
    g = golden_meta(src)
    payload = json.load(open(f"{REF_JSON_DIR}/{src}.json", encoding="utf-8"))
    merged = dict(payload)
    merged["Blocks"] = []
    for page in (1, 2, 3):
        for b in payload["Blocks"]:
            nb = dict(b)
            nb["Page"] = page
            merged["Blocks"].append(nb)
    merged["DocumentMetadata"] = {"Pages": 3}

    def doc_rows(doc_id, obj):
        text = json.dumps(obj)
        spans = [("media", f"{g['width']}x{g['height']}", g["media_ref"], 0),
                 ("text", text, "", 1)]
        return (doc_id, spans)

    docs = spark.createDataFrame(
        [doc_rows("multi", merged), doc_rows("single", payload)],
        schema=DOCS_SCHEMA_STR)
    split = split_multipage(docs)
    rows = {r["doc_id"]: r for r in split.collect()}
    assert sorted(rows) == ["multi#p1", "multi#p2", "multi#p3", "single"]
    assert all(r["status"] == "ok" for r in rows.values())
    # single-page doc passes through byte-identically
    single_text = "".join(s["text"] for s in rows["single"]["spans"]
                          if s["kind"] == "text")
    assert single_text == json.dumps(payload)

    out = {r["doc_id"]: r for r in extract(
        split.select("doc_id", "spans"), parallelism=2).collect()}
    want = load_golden(src)["spans"]
    for doc_id in ("multi#p1", "multi#p2", "multi#p3", "single"):
        assert out[doc_id]["status"] == "ok", out[doc_id]["error"]
        assert [list(s) for s in out[doc_id]["spans"]] == want, doc_id

    # pageless multi-PAGE input -> quarantined, never guessed
    bad = dict(merged)
    bad["Blocks"] = [dict(b) for b in merged["Blocks"]]
    del bad["Blocks"][5]["Page"]
    docs_bad = spark.createDataFrame(
        [doc_rows("bad", bad)], schema=DOCS_SCHEMA_STR)
    q = split_multipage(docs_bad).collect()
    assert len(q) == 1 and q[0]["status"] == "quarantined"
    assert "Page field" in q[0]["error"]


def test_split_two_generated_pages(spark):
    """A two-page response built from two generated pages, with Page set
    on every block, splits into two docs that each convert exactly like
    their page alone."""
    import json

    from t2p_spark.convert import convert_doc
    from t2p_spark.fixtures import doc_row
    from t2p_spark.ingest import split_multipage
    from t2p_spark.schema import DOCS_SCHEMA
    from t2p_spark.synth import generate_doc

    aws1, w, h, media = generate_doc("two-1", 1)
    aws2 = generate_doc("two-2", 2)[0]
    merged = dict(aws1)
    merged["Blocks"] = ([dict(b, Page=1) for b in aws1["Blocks"]]
                        + [dict(b, Page=2) for b in aws2["Blocks"]])
    docs = spark.createDataFrame(
        [doc_row("two", json.dumps(merged), w, h, media, chunk_size=4096)],
        schema=DOCS_SCHEMA)
    rows = {r["doc_id"]: r
            for r in split_multipage(docs, chunk_size=4096).collect()}
    assert sorted(rows) == ["two#p1", "two#p2"]
    for doc_id, aws in (("two#p1", aws1), ("two#p2", aws2)):
        row = rows[doc_id]
        assert (row["status"], row["error"]) == ("ok", None)
        assert tuple(row["spans"][0]) == ("media", f"{w}x{h}", media, 0)
        text = "".join(s["text"] for s in row["spans"][1:])
        assert convert_doc(json.loads(text), w, h, media) == \
            convert_doc(aws, w, h, media), doc_id


def test_split_quarantine_reasons_match_extract(spark):
    """A doc without media dims, an empty payload and a non-object payload
    quarantine in the splitter with exactly the extract kernel's reasons."""
    from t2p_spark.ingest import split_multipage
    from t2p_spark.schema import DOCS_SCHEMA

    docs = spark.createDataFrame([
        ("nodims", [("text", '{"Blocks": []}', "", 1)]),
        ("empty", [("media", "10x10", "m.jpg", 0)]),
        ("list", [("media", "10x10", "m.jpg", 0), ("text", "[1,2]", "", 1)]),
    ], schema=DOCS_SCHEMA)
    split = {r["doc_id"]: (r["status"], r["error"])
             for r in split_multipage(docs).collect()}
    extracted = {r["doc_id"]: (r["status"], r["error"])
                 for r in extract(docs).collect()}
    assert split == extracted
    assert split["nodims"][1].startswith("InvalidDoc")
    assert split["empty"][1].startswith("InvalidDoc")
    assert split["list"][1] == \
        "JSONDecodeError: payload is JSON list, not an object"
