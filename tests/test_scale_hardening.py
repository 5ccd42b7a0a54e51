"""Scale-hardening regression tests (round 2).

- Jaccard df cap: a hot shingle shared by hundreds of docs must NOT reach
  the inverted-index self-join (the O(df^2) scale-killer) and must not
  fabricate pairs.
- SimHash banded hamming join == brute force (pigeonhole guarantee).
- Kernel quarantines a valid-JSON-but-not-an-object payload instead of
  killing the task (never-kill-the-job contract).
- Iceberg write/read path: collected always, skipped offline (no jar).
"""

import pyspark.sql.functions as F
import pytest

from t2p_spark import materialize, textkit
from t2p_spark.schema import DOCS_SCHEMA
from tests.conftest import needs_reference

DOCS_COLS = "doc_id long, source string, n_chars int, text string"


def _swap_documents_view(spark, rows):
    df = spark.createDataFrame(rows, DOCS_COLS)
    df.createOrReplaceTempView("documents")
    textkit.ensure_documents_tok(spark, force=True)


def _restore_views(spark):
    # drop the synthetic view and every materialization over it, so later
    # tests re-register the real tables
    materialize.reset(spark)
    spark.catalog.dropTempView("documents")


def test_jaccard_hot_shingle_capped(spark):
    hot = "alpha beta gamma delta"  # shared 4-gram in every hot doc
    rows = [
        (i, "s", 0, f"{hot} unique{i}x filler{i}y token{i}z item{i}w")
        for i in range(400)
    ]
    base = "red green blue yellow purple orange pink brown"
    rows.append((1000, "s", 0, base))
    rows.append((1001, "s", 0, base + " extra"))
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "ngram_jaccard_pairs")
        got = spark.sql(
            textkit.spark_sql_queries()["ngram_jaccard_pairs"]
        ).collect()
        # the hot shingle (df=400 > JACCARD_MAX_DF) is dropped before the
        # self-join: zero pairs among the 400 hot docs, and the single true
        # near-dup pair survives with jaccard over the capped vocabulary
        pairs = {(r["doc_a"], r["doc_b"]) for r in got}
        assert pairs == {(1000, 1001)}
        (j,) = [r["jaccard_x1e6"] for r in got]
        assert j == 5_000_000 // 6  # exact integer division, no float
    finally:
        _restore_views(spark)


def test_simhash_banding_equals_bruteforce(spark):
    # near-dup family: texts differing by one trailing token have close
    # simhashes; unrelated texts differ in many bits
    rows = [
        (i, "s", 0,
         "the quick brown fox jumps over the lazy dog near the river bank "
         + f"tail{i % 3}")
        for i in range(12)
    ] + [
        (100 + i, "s", 0, f"completely different corpus text number{i} "
                          f"with other words entirely{i}")
        for i in range(5)
    ]
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "simhash_neardup_pairs")
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in spark.sql(
                textkit.spark_sql_queries()["simhash_neardup_pairs"]
            ).collect()
        }
        # brute force over the materialized simhashes
        sh = {r["doc_id"]: r["simhash"]
              for r in spark.table("simhash_mat").collect()}
        ids = sorted(sh)
        want = {
            (a, b): bin(sh[a] ^ sh[b]).count("1")
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(sh[a] ^ sh[b]).count("1") <= textkit.HAMMING_MAX
        }
        assert got == want
        assert want, "corpus must contain at least one near-dup pair"
    finally:
        _restore_views(spark)


def test_dedup_components_chain_propagation(spark):
    """Multi-hop label propagation: a chain 1-2, 2-3, 3-4 (4 is never
    paired with 1 or 2 directly) must collapse to ONE cluster labeled 1;
    an isolated pair stays its own cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # driver union-find path (small sets) AND the distributed
    # label-propagation path (forced via threshold=0) must agree
    for thresh in (100_000, 0):
        cc = textkit.dedup_components(
            spark, pairs=pairs, driver_threshold=thresh)
        got = {r["doc_id"]: r["cluster_rep"] for r in cc.collect()}
        assert got == want, f"threshold={thresh}"
        if thresh:  # driver path: a LocalRelation starts no Python worker
            plan = cc._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation"


def test_kernel_quarantines_non_object_json(spark):
    from t2p_spark.pipeline import extract

    rows = [
        ("arr-doc", [("media", "100x100", "a.jpg", 0),
                     ("text", "[1, 2, 3]", "", 0)]),
        ("str-doc", [("media", "100x100", "b.jpg", 0),
                     ("text", '"just a string"', "", 0)]),
    ]
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    out = {r["doc_id"]: r for r in extract(docs).collect()}
    assert out["arr-doc"]["status"] == "quarantined"
    assert "JSONDecodeError" in out["arr-doc"]["error"]
    assert out["str-doc"]["status"] == "quarantined"


@needs_reference
def test_oversized_payload_quarantined_not_crashed(spark):
    """Arrow row-limit guard (pipeline.py): a doc whose concatenated payload
    exceeds max_payload_bytes must quarantine with PayloadTooLarge — the
    giant string is never materialized and the stage never crashes — while
    every under-cap doc is byte-identically unaffected (same status and
    span fingerprint as the uncapped run)."""
    from t2p_spark.fixtures import fixture_doc_rows
    from t2p_spark.pipeline import extract

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA)
    base = {r["doc_id"]: r for r in extract(docs).collect()}
    assert base

    # cap below every fixture payload -> all quarantined, none crash, and
    # the error carries the exact payload byte count
    small = {r["doc_id"]: r for r in
             extract(docs, max_payload_bytes=100).collect()}
    assert set(small) == set(base)
    for r in small.values():
        assert r["status"] == "quarantined"
        assert r["error"].startswith("PayloadTooLarge: ")
        assert int(r["error"].split()[1]) > 100

    # mixed cap at the median payload size: exactly the over-cap docs flip;
    # the rest keep the uncapped status AND fingerprint (the guard is
    # invisible to under-cap docs)
    sizes = {d: int(small[d]["error"].split()[1]) for d in small}
    cap = sorted(sizes.values())[len(sizes) // 2]
    mixed = {r["doc_id"]: r for r in
             extract(docs, max_payload_bytes=cap).collect()}
    flipped = 0
    for d, r in mixed.items():
        if sizes[d] > cap:
            flipped += 1
            assert r["status"] == "quarantined"
            assert r["error"].startswith("PayloadTooLarge")
        else:
            assert r["status"] == base[d]["status"]
            assert r["span_fp"] == base[d]["span_fp"]
    assert 0 < flipped < len(mixed)


@needs_reference
def test_oversize_guard_covers_renderer_and_splitter(spark):
    """The Arrow-row-limit cap defaults inside assemble_payload, so EVERY
    consumer is contained — render_pagexml_df quarantines an over-cap doc
    (it never builds the payload string), split_multipage quarantines it
    with the precise PayloadTooLarge reason, and under-cap docs are
    untouched in both."""
    from t2p_spark.fixtures import fixture_doc_rows
    from t2p_spark.ingest import split_multipage
    from t2p_spark.render_xml import render_pagexml_df

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA)
    base_r = {r["doc_id"]: r for r in render_pagexml_df(docs).collect()}
    base_s = {r["doc_id"]: r["status"]
              for r in split_multipage(docs).collect()}

    from t2p_spark.pipeline import extract
    sizes = {r["doc_id"]: int(r["error"].split()[1])
             for r in extract(docs, max_payload_bytes=1).collect()}
    cap = sorted(sizes.values())[len(sizes) // 2]

    rend = {r["doc_id"]: r for r in
            render_pagexml_df(docs, max_payload_bytes=cap).collect()}
    split = {r["doc_id"]: r for r in
             split_multipage(docs, max_payload_bytes=cap).collect()}
    over = under = 0
    for d, size in sizes.items():
        if size > cap:
            over += 1
            assert rend[d]["status"] == "quarantined"
            assert rend[d]["canon_md5"] == ""
            assert split[d]["status"] == "quarantined"
            assert split[d]["error"].startswith("PayloadTooLarge")
        else:
            under += 1
            assert rend[d] == base_r[d]
            assert split[d]["status"] == base_s[d]
    assert over and under


def test_kernel_reenables_gc():
    """The kernel must leave the worker's gc enabled after the batch loop.
    The converter leaves no reference cycles, but a long-lived reused
    worker runs other code that may, and a collector left disabled would
    leak them."""
    import gc

    import pyarrow as pa

    from t2p_spark.kernel import extract_kernel

    batch = pa.RecordBatch.from_pydict({
        "doc_id": ["d1"], "width": pa.array([10], pa.int32()),
        "height": pa.array([10], pa.int32()), "media_ref": ["m"],
        "json_text": ['{"Blocks": []}'],
    })
    assert gc.isenabled()
    list(extract_kernel(iter([batch])))
    assert gc.isenabled()


def test_kernel_quarantines_non_list_blocks():
    """A truthy ``Blocks`` that is no list is build_model's to quarantine;
    counting it must not raise outside the quarantine guard and fail the
    Spark task."""
    import pyarrow as pa

    from t2p_spark.kernel import extract_kernel

    batch = pa.RecordBatch.from_pydict({
        "doc_id": ["d1", "d2"], "width": pa.array([10, 10], pa.int32()),
        "height": pa.array([10, 10], pa.int32()), "media_ref": ["m", "m"],
        "json_text": ['{"Blocks": 5}', '{"Blocks": true}'],
    })
    out = pa.Table.from_batches(list(extract_kernel(iter([batch]))))
    assert [(r["status"], r["n_blocks"]) for r in out.to_pylist()] == \
        [("quarantined", 0), ("quarantined", 0)]


@needs_reference
def test_resume_rejects_mismatched_bucket_layout(spark, tmp_path):
    """A clustered input whose stored bucket column disagrees with
    --n-buckets must fail fast on a pruning resume — silently applying the
    done-list to a differently-bucketed input would skip documents."""
    import pyspark.sql.functions as F

    from t2p_spark.checkpoint import run_extract_job
    from t2p_spark.fixtures import fixture_doc_rows

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA
    )
    in_path = str(tmp_path / "docs")
    # cluster the input with 8 buckets
    docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    ).write.partitionBy("bucket").parquet(in_path)

    out, mets = str(tmp_path / "out"), str(tmp_path / "metrics")
    # fresh run with n_buckets=8: fine
    run_extract_job(spark, in_path, out, mets, "r1", n_buckets=8)
    # resume with a DIFFERENT n_buckets: pruning would skip docs -> raise
    with pytest.raises(ValueError, match="bucket"):
        run_extract_job(spark, in_path, out, mets, "r2",
                        n_buckets=16, resume=True)


def test_iceberg_write_read_resume(spark, tmp_path):
    """Exercised the moment a jar + catalog are configured; skipped offline.

    Run on a jar-equipped host with:
        pytest tests/test_scale_hardening.py -k iceberg \
          --deselect-skip  # after launching pytest under spark-submit with
        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
        --conf spark.sql.catalog.t2p=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.t2p.type=hadoop
        --conf spark.sql.catalog.t2p.warehouse=<path>
    """
    from t2p_spark.io_tables import iceberg_available, write_extracted
    from t2p_spark.pipeline import extract

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar / catalog not configured offline")

    from t2p_spark.fixtures import fixture_doc_rows

    docs = spark.createDataFrame(
        list(fixture_doc_rows(chunk_size=1 << 20)), schema=DOCS_SCHEMA
    )
    out = extract(docs, parallelism=2)
    lineage = write_extracted(spark, out, "db.t2p_test_extracted",
                              n_buckets=8)
    assert lineage["format"] == "iceberg"
    assert lineage["snapshot_id"] is not None
    back = spark.table(lineage["table"])
    assert back.count() == 8
    # overwritePartitions idempotency: second write, same row count
    write_extracted(spark, extract(docs, parallelism=2),
                    "db.t2p_test_extracted", n_buckets=8)
    assert spark.table(lineage["table"]).count() == 8


def test_multiprobe_recall_beats_single_probe(spark):
    """Planted-neighbor corpus at n_planes=12 (4096 buckets): each query
    has 12 genuine near-duplicates (cos ~0.98) whose buckets differ from
    the query's by the occasional low-margin bit flip. Single-probe LSH
    misses every neighbor that flipped a bit; probing the N_FLIPS
    lowest-|margin| bit-flip buckets — exactly the likeliest flips — must
    recover strictly more of the brute-force top-10. (The sf testdata
    embeddings are near-orthogonal: no true neighbors exist there, so
    recall is 0 for every probe strategy — hence the planted corpus.)"""
    import random

    from t2p_spark.ann import DIM, TOP_K, ann_sql

    rng = random.Random(7)

    def rand_vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    queries = [rand_vec() for _ in range(8)]
    rows = [(i, "q", v) for i, v in enumerate(queries)]
    nid = 100
    for qv in queries:
        for _ in range(12):  # planted near-dups: small per-component noise
            rows.append((nid, "nbr",
                         [x + rng.gauss(0.0, 0.12) for x in qv]))
            nid += 1
    for _ in range(1500):  # background
        rows.append((nid, "bg", rand_vec()))
        nid += 1
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).createOrReplaceTempView("embeddings")
    try:
        q = ann_sql("s", n_planes=12)

        def topk(name):
            out = {}
            for r in spark.sql(q[name]).collect():
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return out

        brute = topk("ann_topk_brute")

        def recall(got):
            hits = sum(len(got.get(qid, set()) & nbrs)
                       for qid, nbrs in brute.items())
            return hits / (len(brute) * TOP_K)

        r_single = recall(topk("ann_topk_lsh"))
        r_multi = recall(topk("ann_topk_multiprobe"))
        r_tables = recall(topk("ann_topk_multitable"))
        assert r_multi > r_single, (r_single, r_multi)
        assert r_multi >= 0.5, (r_single, r_multi)
        # the second independent table must also recover misses
        assert r_tables > r_single, (r_single, r_tables)
    finally:
        spark.catalog.dropTempView("embeddings")
        materialize.reset(spark)


def test_textkit_presets_keep_twin_parity(spark):
    """Non-default scale preset (n_minhash=4, simhash_bands=6,
    jaccard_max_df=8): both engine twins derive from the same arguments,
    so oracle parity must hold at any preset — the knobs are safe to turn
    at 100 TB without losing the correctness gate."""
    import duckdb

    from t2p_spark.relational import register_views
    from t2p_spark.textkit import (
        duckdb_oracle_queries, prepare_textkit_views, spark_sql_queries,
    )

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    preset = dict(n_minhash=4, simhash_bands=6, jaccard_max_df=8,
                  substr_n=3, substr_min_df=3)
    sq = spark_sql_queries(**preset)
    dq = duckdb_oracle_queries(**preset)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    for name in ("minhash_signatures", "dedup_minhash_lsh",
                 "simhash_neardup_pairs", "ngram_jaccard_pairs",
                 "substring_dedup"):
        prepare_textkit_views(spark, name, n_minhash=preset["n_minhash"],
                              jaccard_max_df=preset["jaccard_max_df"])
        sdf = spark.sql(sq[name])
        got = sorted(tuple(r) for r in sdf.collect())
        want = sorted(tuple(r) for r in con.sql(dq[name]).fetchall())
        assert got == want, name


def test_dedup_components_long_chain_log_rounds(spark):
    """A 300-link chain exceeds plain min-label propagation's round budget
    (O(diameter) = 300 > max_iters=20); the pointer-jump shortcut collapses
    it in O(log n) rounds, so the distributed path must converge to one
    cluster labeled 0 well inside 20 rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_rep"]
           for r in textkit.dedup_components(
               spark, pairs=pairs, driver_threshold=0).collect()}
    assert got == {i: 0 for i in range(301)}


def test_ivf_preset_keeps_twin_parity(spark):
    """Non-default IVF preset (K=8, probe=2, iters=1): the Spark staged
    path and the one-shot DuckDB CTE twin derive from the same arguments,
    so the integer-exact parity holds at any preset — the nprobe/K knobs
    are safe to turn at scale without losing the correctness gate."""
    import duckdb

    from t2p_spark.ann import ivf_sql, run_ivf_spark
    from t2p_spark.relational import register_views

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    got = sorted(tuple(r) for r in
                 run_ivf_spark(spark, k=8, probe=2, iters=1).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(ivf_sql("d", k=8, probe=2, iters=1)).fetchall())
    canon = lambda rows: [tuple(round(v, 6) if isinstance(v, float) else v
                                for v in r) for r in rows]
    assert canon(got) == canon(want)
    assert got, "preset run must return neighbors"


def test_repetition_and_contamination_semantics(spark):
    """Planted-pattern semantics for the round-3 curation twins:
    - a one-token spam doc -> 'repetitive_token';
    - a cycling 10-token doc (every token rare, 2-grams repeating)
      -> 'repetitive_2gram';
    - a diverse doc -> 'ok';
    - a verbatim copy of a benchmark-slice doc (doc_id % 50 == 0)
      -> 'contaminated' at overlap 100%;
    - a disjoint-vocabulary doc never reaches the overlap join output."""
    cycle = " ".join(f"tk{i}" for i in range(10))
    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (0, "s", 0, bench_text),                       # benchmark slice
        (1, "s", 0, "spam " * 30),                     # repetitive_token
        (2, "s", 0, (cycle + " ") * 3),                # repetitive_2gram
        (3, "s", 0, " ".join(f"w{i}" for i in range(40))),  # ok
        (51, "s", 0, bench_text),                      # verbatim copy
        (52, "s", 0, "zulu yankee xray whiskey victor uniform tango"),
    ]
    try:
        _swap_documents_view(spark, rows)
        rep = {r["doc_id"]: r["verdict"] for r in spark.sql(
            textkit.spark_sql_queries()["repetition_stats"]).collect()}
        assert rep[1] == "repetitive_token"
        assert rep[2] == "repetitive_2gram"
        assert rep[3] == "ok"
        textkit.prepare_textkit_views(spark, "contamination_check")
        cont = {r["doc_id"]: r for r in spark.sql(
            textkit.spark_sql_queries()["contamination_check"]).collect()}
        assert cont[51]["verdict"] == "contaminated"
        assert cont[51]["overlap_x1e6"] == 1_000_000
        assert cont[51]["n_overlap"] == cont[51]["n_shingles"]
        assert 52 not in cont
    finally:
        _restore_views(spark)


def test_minhash_inline_sigs_equal_batch_path(spark):
    """The streaming-side let-binding signature expression
    (minhash_sig_inline over raw text) must produce exactly the batch
    path's signatures (_minhash_select over the cached documents_tok) —
    otherwise the stream-static screen and the batch LSH index would
    silently disagree on bucket membership."""
    from t2p_spark.relational import register_views

    register_views(spark, "/root/testdata/sf0.001")
    textkit.ensure_documents_tok(spark)
    batch = {r["doc_id"]: tuple(r[f"sig_{j}"] for j in range(textkit.N_MINHASH))
             for r in spark.sql(textkit._minhash_select("s")).collect()}
    inline = {r["doc_id"]: tuple(r["sigs"])
              for r in spark.sql(
                  f"SELECT doc_id, {textkit.minhash_sig_inline()} AS sigs "
                  "FROM documents WHERE size(split(text, ' ')) >= 3"
              ).collect() if r["sigs"][0] is not None}
    assert batch == {k: v for k, v in inline.items() if k in batch}
    assert len(batch) > 0 and set(batch) <= set(inline)


def test_rolling_7d_linear_over_three_years(spark):
    """r3 VERDICT #4: the rolling-7d DAU query must do linear work — the
    day-explode plan (7 rows per distinct (day,user)) with an equi-join,
    never a BroadcastNestedLoopJoin testing every row against every day.
    Checked over a 3-year synthetic range (the regime where the old
    BETWEEN self-join did ~150x avoidable work) against a brute-force
    python oracle."""
    import datetime
    import random

    from t2p_spark.relational import EVENTS_ROLLING_7D_SPARK

    rng = random.Random(11)
    base = datetime.datetime(2021, 1, 1)
    rows = []
    for eid in range(600):
        ts = base + datetime.timedelta(
            days=rng.randrange(0, 1095), minutes=rng.randrange(0, 1440))
        rows.append((eid, ts, rng.randrange(1, 40), "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.createOrReplaceTempView("events")
    try:
        out = spark.sql(EVENTS_ROLLING_7D_SPARK)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        got = {r["day"]: r["users_7d"] for r in out.collect()}
        # brute force: for each observed day, distinct users in [d-6, d]
        du = {(ts.replace(hour=0, minute=0, second=0, microsecond=0), u)
              for _, ts, u, *_ in rows}
        days = sorted({d for d, _ in du})
        want = {
            d: len({u for (a, u) in du
                    if d - datetime.timedelta(days=6) <= a <= d})
            for d in days
        }
        assert got == want
    finally:
        materialize.reset(spark)
        spark.catalog.dropTempView("events")


def test_substring_dedup_planted_passage(spark):
    """Sequence-level dedup: a passage repeated ACROSS docs is dropped from
    every doc except the canonical keeper (min doc_id); a passage repeated
    WITHIN one doc only is kept (document frequency, not term frequency);
    docs shorter than the passage length are untouched."""
    import duckdb

    passage = "alpha beta gamma delta epsilon"  # SUBSTR_N = 5 tokens
    rows = [
        (10, "s", 0, f"u10a u10b {passage} u10c u10d"),   # keeper
        (20, "s", 0, f"u20a {passage} u20b u20c u20d"),   # drops 5
        (30, "s", 0, f"{passage} u30a u30b u30c u30d"),   # drops 5
        (40, "s", 0, "solo repeat solo repeat solo"),      # < 5-gram df
        (50, "s", 0, "tiny doc"),                          # < n tokens
        (60, "s", 0, f"x1 x2 x3 x4 x5 {passage} x6 x7 {passage}"),  # drops 10
    ]
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "substring_dedup")
        got = {r["doc_id"]: r for r in spark.sql(
            textkit.spark_sql_queries()["substring_dedup"]).collect()}
        assert got[10]["n_dropped"] == 0
        assert got[20]["n_dropped"] == 5
        assert got[30]["n_dropped"] == 5
        assert got[40]["n_dropped"] == 0
        assert got[50]["n_dropped"] == 0
        assert got[60]["n_dropped"] == 10  # both occurrences dropped
        import hashlib
        def h(s):
            return hashlib.md5(s.encode()).hexdigest()
        assert got[20]["retained_md5"] == h("u20a u20b u20c u20d")
        assert got[30]["retained_md5"] == h("u30a u30b u30c u30d")
        assert got[60]["retained_md5"] == h("x1 x2 x3 x4 x5 x6 x7")
        assert got[10]["retained_md5"] == h(rows[0][3])
        # twin agrees on the same corpus
        con = duckdb.connect()
        con.sql("CREATE TABLE documents (doc_id BIGINT, source VARCHAR, "
                "n_chars BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
        want = {r[0]: r for r in con.sql(
            textkit.duckdb_oracle_queries()["substring_dedup"]).fetchall()}
        for d, r in got.items():
            assert (r["n_tokens"], r["n_dropped"], r["retained_md5"]) == \
                tuple(want[d][1:]), d
    finally:
        _restore_views(spark)


def test_pii_scrub_planted(spark):
    """PII scrub: planted emails / 3-3-4 phones / key-shaped secrets are
    counted and redacted; clean text passes through byte-identical; the
    DuckDB twin agrees on the same corpus (Java regex vs RE2 on the
    shared ASCII-only patterns)."""
    import duckdb
    import hashlib

    rows = [
        (1, "s", 0, "contact Jo.Smith+spam@ex-mail.co.uk or 555-123-4567"),
        (2, "s", 0, "token sk-AbC123xyz789QRST99 then "
                    "deadbeefdeadbeefdeadbeefdeadbeef trailing"),
        (3, "s", 0, "two mails a@b.io c@d.org and 987 654 3210"),
        (4, "s", 0, "perfectly clean text with numbers 12 34"),
        (5, "s", 0, ""),
    ]
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "pii_scrub")
        got = {r["doc_id"]: r for r in spark.sql(
            textkit.spark_sql_queries()["pii_scrub"]).collect()}

        def h(s):
            return hashlib.md5(s.encode()).hexdigest()

        assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_keys"]) \
            == (1, 1, 0)
        assert got[1]["redacted_md5"] == h("contact <EMAIL> or <PHONE>")
        assert (got[2]["n_emails"], got[2]["n_phones"], got[2]["n_keys"]) \
            == (0, 0, 2)
        assert got[2]["redacted_md5"] == h("token <KEY> then <KEY> trailing")
        assert (got[3]["n_emails"], got[3]["n_phones"]) == (2, 1)
        assert got[3]["redacted_md5"] == h("two mails <EMAIL> <EMAIL> and <PHONE>")
        assert (got[4]["n_emails"], got[4]["n_phones"], got[4]["n_keys"]) \
            == (0, 0, 0)
        assert got[4]["redacted_md5"] == h(rows[3][3])
        assert got[5]["redacted_md5"] == h("")
        con = duckdb.connect()
        con.sql("CREATE TABLE documents (doc_id BIGINT, source VARCHAR, "
                "n_chars BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
        want = {r[0]: r for r in con.sql(
            textkit.duckdb_oracle_queries()["pii_scrub"]).fetchall()}
        for d, r in got.items():
            assert (r["n_emails"], r["n_phones"], r["n_keys"],
                    r["redacted_md5"]) == tuple(want[d][1:]), d
    finally:
        _restore_views(spark)


def test_curate_attrition_funnel(spark):
    """The composed curation pipeline's attrition funnel is coherent:
    counts never increase across sequential gates, and the final split
    counts partition the kept set exactly."""
    from t2p_spark.textkit import run_textkit

    rows = {r["stage"]: r["n_docs"] for r in run_textkit(
        spark, "/root/testdata/sf0.001", "curate_attrition").collect()}
    funnel = [rows["0_input"], rows["1_corpus_filter"], rows["2_repetition"],
              rows["3_contamination"], rows["4_near_dedup"]]
    assert funnel == sorted(funnel, reverse=True), funnel
    assert funnel[0] > 0 and funnel[-1] > 0
    split_total = sum(v for k, v in rows.items() if k.startswith("5_split_"))
    assert split_total == rows["4_near_dedup"], rows


def test_chunk_and_pack_planted(spark):
    """Training-chunk explode: a 40-token doc at C=24/stride=16 yields
    chunks of 24/24/8 at starts 1/17/33; an empty doc yields none; the
    packing accounting reports exact sequence counts, tail utilization,
    and boundary-straddling docs for a hand-computable corpus."""
    import hashlib

    toks40 = [f"t{i:02d}" for i in range(40)]
    rows = [
        (1, "a", 0, " ".join(toks40)),        # 40 tokens
        (2, "a", 0, ""),                       # empty: no chunks, no pack
        (3, "b", 0, " ".join(f"w{i}" for i in range(250))),  # 250 tokens
        (4, "b", 0, " ".join(f"v{i}" for i in range(10))),   # straddles 256
    ]
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "chunk_documents")
        chunks = {(r["doc_id"], r["chunk_idx"]): r for r in spark.sql(
            textkit.spark_sql_queries()["chunk_documents"]).collect()}
        assert [(d, i) for (d, i) in sorted(chunks) if d == 1] == \
            [(1, 0), (1, 1), (1, 2)]
        assert [chunks[(1, i)]["n_chunk_tokens"] for i in range(3)] == \
            [24, 24, 8]

        def h(s):
            return hashlib.md5(s.encode()).hexdigest()

        assert chunks[(1, 0)]["chunk_md5"] == h(" ".join(toks40[0:24]))
        assert chunks[(1, 1)]["chunk_md5"] == h(" ".join(toks40[16:40]))
        assert chunks[(1, 2)]["chunk_md5"] == h(" ".join(toks40[32:40]))
        assert not any(d == 2 for (d, _) in chunks)

        pack = {r["source"]: r for r in spark.sql(
            textkit.spark_sql_queries()["seq_pack_stats"]).collect()}
        # source a: 40 tokens -> 1 sequence of 256, utilization 40/256
        assert (pack["a"]["n_docs"], pack["a"]["total_tokens"],
                pack["a"]["n_sequences"]) == (1, 40, 1)
        assert pack["a"]["utilization_x1e6"] == 40 * 1_000_000 // 256
        # source b: docs 3 (250) then 4 (10): doc 4 spans tokens 251-260,
        # straddling the 256 boundary -> 2 sequences, 1 boundary doc
        assert (pack["b"]["n_docs"], pack["b"]["total_tokens"],
                pack["b"]["n_sequences"], pack["b"]["n_boundary_docs"]) == \
            (2, 260, 2, 1)
    finally:
        _restore_views(spark)


def test_embedding_sq8_numpy_replay(spark):
    """SQ8 scalar quantization: per-dim [min,max] -> 0..255 codes ->
    integer reconstruction; the per-vector squared error and code digests
    must equal an exact numpy integer replay of the same rule on the real
    embeddings table."""
    import hashlib

    import numpy as np

    from t2p_spark.ann import run_ann

    sf = "/root/testdata/sf0.001"
    got = {r["vec_id"]: r for r in run_ann(spark, sf, "embedding_sq8")
           .collect()}
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    qe = np.floor(emb * 1000).astype(np.int64)
    lo, hi = qe.min(axis=0), qe.max(axis=0)
    rng = hi - lo
    safe = np.where(rng == 0, 1, rng)
    code = np.where(rng == 0, 0, (qe - lo) * 255 // safe)
    recon = lo + np.where(rng == 0, 0, code * rng // 255)
    err2 = ((qe - recon) ** 2).sum(axis=1)
    for i, vid in enumerate(ids):
        assert got[vid]["err2"] == err2[i], vid
        want_md5 = hashlib.md5(
            ",".join(str(int(c)) for c in code[i]).encode()).hexdigest()
        assert got[vid]["codes_md5"] == want_md5, vid
    # quantization must be lossy-but-bounded: max per-dim residual is
    # ceil(range/255), so err2 <= dims * (range/255 + 1)^2
    bound = ((rng / 255 + 1) ** 2).sum()
    assert max(err2) <= bound


def test_register_views_sf_swap_not_stale(spark):
    """r3 ADVICE (medium): register_views must re-register on an A->B->A
    sf_dir swap — keying idempotency on (session, sf_dir) left the temp
    views pointing at B while the memo claimed A. The fix keys on the
    session's LAST sf_dir; each swap must serve the right tables and
    start a new input epoch, which a probe materialization observes as a
    rebuild."""
    from t2p_spark.relational import register_views

    builds = []

    def probe():
        builds.append(1)
        return spark.range(1)

    def epoch_moved():
        n = len(builds)
        materialize.materialize(spark, "epoch_probe", probe)
        return len(builds) > n

    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    try:
        register_views(spark, a)
        n_a = spark.table("orders").count()
        epoch_moved()
        register_views(spark, b)
        n_b = spark.table("orders").count()
        assert n_b != n_a  # different scale factors
        assert epoch_moved()
        register_views(spark, a)  # the A->B->A swap
        assert spark.table("orders").count() == n_a
        assert epoch_moved()
        # same-dir re-registration stays memoized (same epoch, no rebuild)
        register_views(spark, a)
        assert not epoch_moved()
    finally:
        materialize.reset(spark)


def test_shard_manifest_invariant_to_parallelism(spark):
    """Shard assignment is a pure function of (doc_id, chunk_idx) — the
    manifest (counts, token totals, BOTH digests) must be byte-identical
    whether the input arrives as 1 partition or 13 (the stand-in for
    "same answer on any cluster size"). The order-canonical content_md5
    additionally pins that the sorted-struct fold defeats collect_list's
    nondeterministic arrival order."""
    rows = [
        (i, "s%d" % (i % 3), 0, " ".join(f"w{i}t{j}" for j in range(5 + i)))
        for i in range(40)
    ]
    try:
        results = []
        for nparts in (1, 13):
            df = spark.createDataFrame(rows, DOCS_COLS).repartition(nparts)
            df.createOrReplaceTempView("documents")
            textkit.ensure_documents_tok(spark, force=True)
            got = spark.sql(textkit.spark_sql_queries()["shard_manifest"])
            results.append(sorted(tuple(r) for r in got.collect()))
        assert results[0] == results[1]
        assert sum(r[1] for r in results[0]) > 0  # chunks actually sharded
    finally:
        _restore_views(spark)


def test_mixture_weights_exact_integer_sqrt(spark):
    """mixture_weights' tokens^0.5 must be the EXACT floor(1000*sqrt(t))
    (one ±1 correction over the double seed): replay the whole operator
    with math.isqrt, including perfect-square boundaries (where a 1-ulp
    double error would flip the floor) and an all-empty source (w=0)."""
    import math

    # per-source token totals: perfect squares (1, 4, 1_000_000 = 10^3
    # squared exactly at the x1e6 scale), off-by-one neighbors, zero
    totals = {"s0": 1, "s1": 4, "s2": 1000000, "s3": 999999, "s4": 0,
              "s5": 1000001, "s6": 144}
    rows = []
    for i, (src, t) in enumerate(sorted(totals.items())):
        rows.append((i, src, 0, " ".join(["tok"] * t) if t else ""))
    try:
        _swap_documents_view(spark, rows)
        got = {r["source"]: r for r in
               spark.sql(textkit.spark_sql_queries()["mixture_weights"])
               .collect()}
        w_raw = {s: math.isqrt(t * 10**6) for s, t in totals.items()}
        sum_w = sum(w_raw.values())
        tot_tok = sum(totals.values())
        for s, t in totals.items():
            assert got[s]["total_tokens"] == t, s
            assert got[s]["weight_x1e6"] == w_raw[s] * 10**6 // sum_w, s
            assert got[s]["eff_tokens"] == tot_tok * w_raw[s] // sum_w, s
        # sqrt flattening: the small source gains share, the big one cedes
        assert (got["s0"]["weight_x1e6"] * totals["s2"]
                > got["s2"]["weight_x1e6"] * totals["s0"])
    finally:
        _restore_views(spark)


def test_mixture_weights_all_empty_corpus(spark):
    """sum_w = 0 (every doc tokenless) must yield zero weights, not a
    divide-by-zero — and Spark/DuckDB disagree on x DIV 0 (NULL vs error),
    so the guard is a parity requirement, not just robustness."""
    rows = [(i, "s%d" % i, 0, "...") for i in range(3)]
    try:
        _swap_documents_view(spark, rows)
        got = spark.sql(
            textkit.spark_sql_queries()["mixture_weights"]).collect()
        assert len(got) == 3
        assert all(r["weight_x1e6"] == 0 and r["eff_tokens"] == 0
                   for r in got)
    finally:
        _restore_views(spark)


def test_curation_incremental_equals_recompute(spark):
    """The incremental funnel (materialized stage views) must emit the
    exact rows of the inline recompute — on the real sf0.001 tables, with
    the stage caches populated via the production path (run_textkit)."""
    sf = "/root/testdata/sf0.001"
    full = sorted(tuple(r) for r in
                  textkit.run_textkit(spark, sf, "curate_attrition")
                  .collect())
    incr = sorted(tuple(r) for r in
                  textkit.run_textkit(spark, sf, "curate_attrition_incr")
                  .collect())
    assert full == incr
    stages = {s for s, _ in ((r[0], r[1]) for r in full)}
    assert "0_input" in stages and any(s.startswith("5_split_")
                                       for s in stages)


def test_neardup_verify_stage_exact_jaccard(spark):
    """Two-stage dedup verify: LSH candidates must carry their EXACT
    distinct-token Jaccard and the threshold verdict. Planted: an exact
    duplicate (jaccard 1.0 -> dup), a half-overlap pair (8 shared of 12
    distinct union = 2/3 -> dup at the 0.5 preset), and docs whose only
    overlap is below threshold must be 'rejected' IF banding even emits
    them."""
    base = "alpha beta gamma delta epsilon zeta eta theta"       # 8 tokens
    half = base + " iota kappa lam mu"                           # 12 distinct
    rows = [
        (1, "s0", 0, base),
        (2, "s1", 0, base),       # exact dup of 1
        (3, "s2", 0, half),       # 8/12 overlap with 1 and 2
    ]
    try:
        _swap_documents_view(spark, rows)
        textkit.prepare_textkit_views(spark, "neardup_verified_pairs")
        got = {(r["doc_a"], r["doc_b"]): r for r in spark.sql(
            textkit.spark_sql_queries()["neardup_verified_pairs"]
        ).collect()}
        assert (1, 2) in got
        r12 = got[(1, 2)]
        assert (r12["n_common"], r12["n_a"], r12["n_b"]) == (8, 8, 8)
        assert r12["jaccard_x1e6"] == 1_000_000
        assert r12["verdict"] == "dup"
        for pair in ((1, 3), (2, 3)):
            if pair in got:  # banding may or may not emit the 2/3 pair
                r = got[pair]
                assert r["n_common"] == 8 and r["n_b"] == 12
                assert r["jaccard_x1e6"] == 8 * 1_000_000 // 12
                assert r["verdict"] == "dup"  # 2/3 >= 0.5 preset
    finally:
        _restore_views(spark)


def test_seq_pack_plan_consistent_with_stats(spark):
    """The packing MAP must replay into exactly the stats twin's
    accounting: per source, n_sequences == max end_seq_idx + 1 and
    n_boundary_docs == docs whose start and end sequences differ."""
    sf = "/root/testdata/sf0.001"
    plan = textkit.run_textkit(spark, sf, "seq_pack_plan").collect()
    stats = {r["source"]: r for r in
             textkit.run_textkit(spark, sf, "seq_pack_stats").collect()}
    by_src = {}
    for r in plan:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(stats)
    for src, rows in by_src.items():
        s = stats[src]
        assert len(rows) == s["n_docs"]
        assert sum(r["n_tok"] for r in rows) == s["total_tokens"]
        assert max(r["end_seq_idx"] for r in rows) + 1 == s["n_sequences"]
        boundary = sum(1 for r in rows if r["seq_idx"] != r["end_seq_idx"])
        assert boundary == s["n_boundary_docs"]
        # the map is gap-free: token starts are a perfect running sum
        rows.sort(key=lambda r: r["doc_id"])
        run = 0
        for r in rows:
            assert r["seq_idx"] * textkit.PACK_LEN + r["seq_offset"] == run
            run += r["n_tok"]
