"""Seeded benchmark inputs, built from the repository's own generators.

Every input is a pure function of (workload, size, seed): the extraction
corpora come from ``t2p_spark.synth`` (generated docs, skew docs and
quarantine docs) encoded with ``t2p_spark.fixtures.doc_row``; the query
tables are a star schema at the repository's sf0.1 row counts plus the ``events``, ``documents`` and
``embeddings`` tables the query suite reads. Nothing is read from outside
the checkout, so the benchmark runs with no reference corpus present.

Generated inputs are cached on disk under the run's work directory keyed by
(workload, size, seed); the cache keeps the few most recent entries only.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from typing import List, Tuple

# a doc is bad- (quarantined by construction) with this probability
BAD_SHARE = 0.02
# text spans are cut at 1 MiB, so skew docs exercise the offset-ordered
# payload reassembly in pipeline.assemble_payload
CHUNK_BYTES = 1 << 20
N_BUCKETS = 64
CACHE_KEEP = 64

SPANS_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
             "media_ref:string,offset:int>>")


def extract_doc(i: int, seed: int, skew_every: int = 0
                ) -> Tuple[str, str, int, int, str]:
    """The i-th doc of an extraction corpus: (doc_id, json, w, h, media_ref).

    With ``skew_every=k`` every k-th doc is a many-block skew doc of 2000,
    4000 or 6000 lines (about 4.5, 9 and 13.5 MB of JSON).
    """
    from t2p_spark.synth import (
        generate_doc, generate_quarantine_doc, generate_skew_doc,
    )

    doc_seed = seed * 1_000_003 + i
    if skew_every and i % skew_every == skew_every - 1:
        doc_id = f"skew-{i:06d}"
        n_lines = 2000 + ((i // skew_every) % 3) * 2000
        aws, w, h, ref = generate_skew_doc(doc_id, doc_seed, n_lines)
    elif random.Random(doc_seed).random() < BAD_SHARE:
        doc_id = f"bad-{i:06d}"
        aws, w, h, ref = generate_quarantine_doc(doc_id, doc_seed)
    else:
        doc_id = f"gen-{i:06d}"
        aws, w, h, ref = generate_doc(doc_id, doc_seed)
    return doc_id, json.dumps(aws, separators=(",", ":")), w, h, ref


def extract_row(i: int, seed: int, skew_every: int = 0) -> Tuple[str, List]:
    """The i-th corpus row in the docs-table encoding (doc_id, spans)."""
    from t2p_spark.fixtures import doc_row

    doc_id, text, w, h, ref = extract_doc(i, seed, skew_every)
    return doc_row(doc_id, text, w, h, ref, chunk_size=CHUNK_BYTES)


def _gen_batches(seed: int, skew_every: int):
    """mapInArrow body: ids -> (doc_id, spans) rows, on the executors."""
    def gen(batches):
        import pyarrow as pa

        from perfbench.corpus import extract_row

        span_type = pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ]))
        for batch in batches:
            ids, spans = [], []
            for i in batch.column("id").to_pylist():
                doc_id, row_spans = extract_row(int(i), seed, skew_every)
                ids.append(doc_id)
                spans.append([{"kind": k, "text": t, "media_ref": m,
                               "offset": o} for k, t, m, o in row_spans])
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.string()), pa.array(spans, span_type)],
                names=["doc_id", "spans"])

    return gen


def _claim(cache_dir: str, key: str) -> Tuple[str, bool]:
    """(path, present) for a cache entry; touches a hit for LRU eviction."""
    path = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return path, True
    return path, False


def _publish(cache_dir: str, tmp: str, path: str) -> None:
    """Atomically move a finished entry in place and evict old entries."""
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
         if not e.startswith(".")),
        key=os.path.getmtime)
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def stage_extract_corpus(spark, cache_dir: str, name: str, n_docs: int,
                         seed: int, skew_every: int = 0) -> Tuple[str, float]:
    """Generate (on the executors) or reuse the bucket-clustered corpus;
    returns (path, seconds spent generating, 0 on a cache hit).

    Layout: ``bucket=<pmod(xxhash64(doc_id), 64)>`` directories, so
    ``checkpoint.run_extract_job`` takes its shuffle-free clustered path.
    """
    import pyspark.sql.functions as F

    os.makedirs(cache_dir, exist_ok=True)
    path, present = _claim(cache_dir, f"{name}-n{n_docs}-s{seed}")
    if present:
        return path, 0.0
    t0 = time.perf_counter()
    tmp = os.path.join(cache_dir, f".tmp-{os.getpid()}-{name}")
    shutil.rmtree(tmp, ignore_errors=True)
    # one skew doc per generating task keeps the generation balanced
    n_parts = max(1, n_docs // skew_every) if skew_every else \
        max(4, min(64, n_docs // 32))
    (spark.range(0, n_docs, numPartitions=n_parts)
     .mapInArrow(_gen_batches(seed, skew_every), SPANS_DDL)
     .withColumn("bucket",
                 F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int"))
     .repartition(N_BUCKETS, "bucket")
     .write.partitionBy("bucket").parquet(tmp))
    _publish(cache_dir, tmp, path)
    return path, time.perf_counter() - t0


# --- query tables -----------------------------------------------------------

# rows per table: the repository's sf0.1 tables (TESTDATA.md), the scale
# the query suite is benchmarked at
QUERY_SIZES = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
               "orders": 150_000, "lineitem": 600_000, "events": 100_000,
               "documents": 5_000, "embeddings": 2_000}
QUERY_TABLES = ("region nation customer supplier part orders lineitem "
                "events documents embeddings").split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear",
              "anvil"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
_EMB_DIM = 64
_EMB_LABELS = 10


def query_tables(seed: int, scale: float = 1.0) -> dict:
    """{table: pyarrow.Table} for the query suite, a pure function of
    (seed, scale); ``scale`` multiplies the row counts of QUERY_SIZES."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = {t: max(1, int(k * scale)) for t, k in QUERY_SIZES.items()}
    i32, i64, s = pa.int32(), pa.int64(), pa.string()
    ts = pa.timestamp("us")

    def pick(options, k):
        return pa.array(np.asarray(options)[rng.integers(0, len(options), k)],
                        s)

    def money(lo, hi, k):
        return pa.array(np.round(rng.uniform(lo, hi, k), 2))

    def days(start, span, k):
        return pa.array(np.datetime64(start, "us")
                        + rng.integers(0, span, k) * np.timedelta64(1, "D"), ts)

    def ints(lo, hi, k, typ=i64):
        """k ints in [lo, hi)."""
        return pa.array(rng.integers(lo, hi, k), typ)

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(_REGIONS, s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(k), i64),
        "c_name": pa.array([f"Customer#{j:09d}" for j in range(k)], s),
        "c_nationkey": ints(0, 25, k, i32),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": pick(_SEGMENTS, k)})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), i64),
        "s_name": pa.array([f"Supplier#{j:09d}" for j in range(k)], s),
        "s_nationkey": ints(0, 25, k, i32),
        "s_acctbal": money(-999.99, 9999.99, k)})
    k = n["part"]
    adj = np.asarray(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), k)]
    noun = np.asarray(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), k)]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(k), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)], s),
        "p_type": pick(_PART_TYPES, k),
        "p_size": ints(1, 51, k, i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1,
                                           2))})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), i64),
        "o_custkey": ints(0, n["customer"], k),
        "o_orderstatus": pick(list("FOP"), k),
        "o_totalprice": money(1000, 500000, k),
        "o_orderdate": days("1995-01-01", 2404, k),
        "o_orderpriority": pick(_PRIORITIES, k)})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": ints(0, n["orders"], k),
        "l_partkey": ints(0, n["part"], k),
        "l_suppkey": ints(0, n["supplier"], k),
        "l_linenumber": ints(1, 8, k, i32),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": money(900, 105000, k),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100),
        "l_returnflag": pick(list("ANR"), k),
        "l_linestatus": pick(list("OF"), k),
        "l_shipdate": days("1995-01-02", 2498, k)})
    k = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, k))
    t["events"] = pa.table({
        "event_id": pa.array(range(k), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + offsets.astype("timedelta64[us]"), ts),
        "user_id": ints(0, max(15, k // 66), k),
        "event_type": pick(_EVENT_TYPES, k),
        "value": money(0.01, 490.02, k),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
                          s)})
    texts: List[str] = []
    vocab = np.asarray(_VOCAB)
    for r in rng.random(n["documents"]):
        if texts and r < 0.01:       # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(len(texts))])
        elif texts and r < 0.05:     # near duplicate: one appended token
            texts.append(texts[rng.integers(len(texts))] + " dup")
        else:
            texts.append(" ".join(
                vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    k = len(texts)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(k), i64),
        "text": pa.array(texts, s),
        "lang": pick(_LANGS, k),
        "source": pa.array([f"src{j % 20}" for j in range(k)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    k = n["embeddings"]
    centroids = rng.normal(0, 1, (_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, k)
    vecs = centroids[labels] + rng.normal(0, 0.8, (k, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def stage_query_tables(cache_dir: str, seed: int, scale: float = 1.0
                       ) -> Tuple[str, float]:
    """Write (or reuse) the query tables as ``<dir>/<table>.parquet``;
    returns (dir, seconds spent generating, 0 on a cache hit)."""
    import pyarrow.parquet as pq

    os.makedirs(cache_dir, exist_ok=True)
    key = f"queries-s{seed}" + ("" if scale == 1 else f"-x{scale:g}")
    path, present = _claim(cache_dir, key)
    if present:
        return path, 0.0
    t0 = time.perf_counter()
    tmp = os.path.join(cache_dir, f".tmp-{os.getpid()}-queries")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in query_tables(seed, scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _publish(cache_dir, tmp, path)
    return path, time.perf_counter() - t0
