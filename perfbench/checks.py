"""Output checks, run outside the timed passes.

Extraction: an order-free digest of every output span plus doc counts per
status and quarantine reason class. The default seed's values are committed
in ``expected.json``; for any other seed they are recomputed by running
``convert.convert_doc_safe`` on the same staged docs (reassembled here, not
by the pipeline) on the executors.

Queries: each collected result is compared with its ``oracle_sql()`` DuckDB
twin using ``tools/check_oracle.py``'s canonicalization.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")
_MASK = (1 << 64) - 1


def spans_hash(doc_id: str, spans: Iterable[Sequence]) -> int:
    """Sum (mod 2^64) of one 64-bit md5 prefix per (doc_id, span)."""
    total = 0
    for kind, text, media_ref, offset in spans:
        h = hashlib.md5(f"{doc_id}\x1f{kind}\x1f{text}\x1f{media_ref}"
                        f"\x1f{offset}".encode()).digest()
        total += int.from_bytes(h[:8], "big")
    return total & _MASK


def reason_class(status: str, error: str | None) -> str:
    if status == "ok":
        return "ok"
    return f"quarantined:{(error or '').split(':', 1)[0]}"


class Digest:
    """Order-free summary of an extraction output."""

    def __init__(self) -> None:
        self.span_sum = 0
        self.n_spans = 0
        self.classes: Counter = Counter()

    def add(self, doc_id: str, status: str, error: str | None,
            n_spans: int, span_sum: int) -> None:
        self.span_sum = (self.span_sum + span_sum) & _MASK
        self.n_spans += n_spans
        self.classes[reason_class(status, error)] += 1

    def as_dict(self) -> dict:
        return {"n_docs": sum(self.classes.values()), "n_spans": self.n_spans,
                "span_digest": f"{self.span_sum:016x}",
                "classes": dict(sorted(self.classes.items()))}


DIGEST_DDL = ("doc_id string, status string, error string, n_spans long, "
              "span_sum string")


def _verdicts(rows):
    """(doc_id, status, error, spans) rows -> one Arrow batch of
    DIGEST_DDL (the span sums as decimal strings: they are unsigned)."""
    import pyarrow as pa

    from perfbench.checks import spans_hash

    ids, statuses, errors, counts, sums = [], [], [], [], []
    for doc_id, status, error, spans in rows:
        ids.append(doc_id)
        statuses.append(status)
        errors.append(error)
        counts.append(len(spans))
        sums.append(str(spans_hash(doc_id, spans)))
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string()), pa.array(statuses, pa.string()),
         pa.array(errors, pa.string()), pa.array(counts, pa.int64()),
         pa.array(sums, pa.string())],
        names=["doc_id", "status", "error", "n_spans", "span_sum"])


def _output_rows(batches):
    """mapInArrow body: written extraction rows -> per-doc verdicts."""
    from perfbench.checks import _verdicts

    for batch in batches:
        yield _verdicts(
            (r["doc_id"], r["status"], r["error"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in r["spans"]])
            for r in batch.to_pylist())


def _reference_rows(batches):
    """mapInArrow body: staged docs -> per-doc reference verdicts."""
    from perfbench.checks import _verdicts
    from t2p_spark.convert import convert_doc_safe

    def convert(row):
        media = [s for s in row["spans"] if s["kind"] == "media"]
        text = "".join(s["text"] for s in sorted(
            (s for s in row["spans"] if s["kind"] == "text"),
            key=lambda s: s["offset"]))
        w, h = (int(x) for x in media[0]["text"].split("x"))
        status, spans, error = convert_doc_safe(
            json.loads(text), w, h, media[0]["media_ref"] or "")
        return row["doc_id"], status, error, spans

    for batch in batches:
        yield _verdicts(convert(r) for r in batch.to_pylist())


def _collect(verdicts) -> dict:
    d = Digest()
    for r in verdicts.collect():
        d.add(r["doc_id"], r["status"], r["error"], r["n_spans"],
              int(r["span_sum"]))
    return d.as_dict()


def output_digest(spark, out_dir: str) -> dict:
    """Digest of a written extraction output, hashed on the executors."""
    return _collect(spark.read.parquet(out_dir)
                    .select("doc_id", "spans", "status", "error")
                    .mapInArrow(_output_rows, DIGEST_DDL))


def reference_digest(spark, corpus_dir: str) -> dict:
    """Digest of ``convert_doc_safe`` over the staged docs, on executors.

    Kept in the cached corpus directory (a ``_``-prefixed file, which
    Spark's file listing skips) for the next run on the same corpus."""
    path = os.path.join(corpus_dir, "_reference.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    digest = _collect(spark.read.parquet(corpus_dir).drop("bucket")
                      .mapInArrow(_reference_rows, DIGEST_DDL))
    with open(path + ".tmp", "w") as f:
        json.dump(digest, f)
    os.replace(path + ".tmp", path)
    return digest


def expected_digest(workload: str, seed: int) -> dict | None:
    """The committed digest for (workload, seed), if one is committed."""
    with open(EXPECTED_PATH) as f:
        committed = json.load(f)
    return committed.get(workload, {}).get(str(seed))


def duckdb_views(tables_dir: str, tables: Sequence[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def canonical(cols: Sequence[str], rows: List[tuple]) -> list:
    """tools/check_oracle.py's row canonicalization (pandas sort replay
    first: it raises on cells the driver's canonicalization cannot hash)."""
    from check_oracle import driver_canon_check, rowset

    driver_canon_check(list(cols), rows)
    return rowset(list(cols), rows)


def oracle_rows(con, sql: str) -> Tuple[List[str], list]:
    res = con.sql(sql)
    cols = list(res.columns)
    return cols, canonical(cols, res.fetchall())


def digest_mismatch(got: dict, want: dict) -> Dict[str, Tuple]:
    return {k: (got.get(k), want.get(k)) for k in want
            if got.get(k) != want.get(k)}
