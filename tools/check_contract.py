"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir; compare row count,
column names and an order-insensitive value hash.  Usage:

    python tools/check_contract.py [--no-arrow] [sf_dir] [query ...]

``--no-arrow`` disables Arrow-batched createDataFrame/toPandas conversion,
replicating the driver harness environment that caught round 1's
Int64-NA bug; run the gate BOTH ways before shipping.

Both result sets are fetched THROUGH PANDAS (Spark ``toPandas()``, DuckDB
``res.df()``) because that is the driver harness's fetch path.  Round 2 was
lost to fetching the oracle via ``fetchall()`` (Python ints), which hid that
DuckDB types a bare ``sum(integer)`` as HUGEINT → float64 under pandas while
Spark emits int64 — a guaranteed hash mismatch.  tests/test_contract.py
additionally asserts no oracle projects HUGEINT/DECIMAL at all.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\t".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    args = sys.argv[1:]
    no_arrow = "--no-arrow" in args
    args = [a for a in args if a != "--no-arrow"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from ner_spark.session import get_spark

    spark = get_spark("contract-check")
    if no_arrow:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        print("(arrow disabled)")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        spdf = df.toPandas()
        sdata = list(spdf.itertuples(index=False, name=None))
        scols = list(spdf.columns)
        if name not in oracles:
            print(f"{name:28s} rows={len(sdata):7d}  (rows-only, no oracle)")
            continue
        odf = con.execute(oracles[name]).df()
        ocols = list(odf.columns)
        odata = list(odf.itertuples(index=False, name=None))
        sh, oh = value_hash(sdata, scols), value_hash(odata, ocols)
        ok = (len(sdata) == len(odata) and sorted(scols) == sorted(ocols)
              and sh == oh)
        print(f"{name:28s} rows={len(sdata):7d}/{len(odata):7d} "
              f"cols={'OK' if sorted(scols)==sorted(ocols) else 'MISMATCH'} "
              f"hash={'OK' if sh==oh else f'MISMATCH {sh}!={oh}'}")
        if not ok:
            failures.append(name)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
