"""Replicate the driver's correctness gate locally.

For every entry in __spark_entry__.queries() with a matching oracle_sql(),
run the Spark query and the DuckDB SQL on the same sf dir, sort columns by
name, canonicalize values, and compare row multisets.

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value canonicalization: round to tolerate last-ulp
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    return v


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def driver_canon_check(cols, rows):
    """Replay the DRIVER's canonicalization mechanism verbatim.

    The driver builds a pandas DataFrame and calls sort_values over all
    columns (sorted by name) before hashing. pandas factorizes each sort
    key into a Categorical, which raises ``unhashable type`` on list- or
    dict-valued cells — exactly how embedding_centroids went red in
    CORRECTNESS_r04 while this replica (which tuple-ized lists, i.e. was
    LAXER than the driver) stayed green. Run the same pandas sort here so
    any schema-shaped failure surfaces locally first. Raises on failure.
    """
    import pandas as pd

    order = sorted(cols)
    df = pd.DataFrame(list(rows), columns=list(cols))[order]
    df.sort_values(by=order)  # raises like the driver on unhashable cells


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from t2p_spark.fixtures import ReferenceMissing

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-oracle")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = n_skip = 0
    for name, fn in queries.items():
        if args.only and name not in args.only.split(","):
            continue
        try:
            sdf = fn(spark, args.sf)
            srows = sdf.collect()
            scols = sdf.columns
        except ReferenceMissing as exc:
            print(f"SKIP  {name}: {exc}")
            n_skip += 1
            continue
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(dcols)}")
            n_fail += 1
            continue
        try:
            driver_canon_check(scols, [tuple(r) for r in srows])
            driver_canon_check(dcols, drows)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: driver-canon (pandas sort_values) raised "
                  f"{type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        a = rowset(scols, srows)
        b = rowset(dcols, drows)
        if a == b:
            print(f"OK    {name}: {len(a)} rows")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {len(a)} vs {len(b)} rows")
            sa, sb = set(a), set(b)
            for d in list(sa - sb)[:3]:
                print("   spark-only :", str(d)[:160])
            for d in list(sb - sa)[:3]:
                print("   duckdb-only:", str(d)[:160])
            n_fail += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_skip} skipped, "
          f"{n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
