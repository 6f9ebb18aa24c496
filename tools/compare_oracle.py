"""Replicate the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, sorted-column schema
and an order-insensitive value hash.  Usage::

    python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf) == 0:
        return hashlib.sha256(b"").hexdigest()[:16]
    rows = pdf.astype(str).apply(lambda r: "\x1f".join(r), axis=1).sort_values()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kgx.session import get_spark

    spark = get_spark("oracle-compare", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    import time

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    t_sweep = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spark_pdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in os_:
            print(f"{name:24s} rows={len(spark_pdf):7d}  (no oracle — rows-only)")
            continue
        t0 = time.time()
        duck_pdf = con.sql(os_[name]).df()
        t_duck = time.time() - t0
        rc = len(spark_pdf) == len(duck_pdf)
        sc = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        vh = value_hash(spark_pdf) == value_hash(duck_pdf) if rc and sc else False
        status = "OK " if (rc and sc and vh) else "FAIL"
        print(
            f"{name:24s} {status} rows={len(spark_pdf)}/{len(duck_pdf)} "
            f"schema={'=' if sc else sorted(spark_pdf.columns)!r:}{'' if sc else sorted(duck_pdf.columns)} hash={'=' if vh else '!'} "
            f"spark={t_spark:.1f}s duck={t_duck:.1f}s",
            flush=True,
        )
        if status == "FAIL":
            failed.append((name, spark_pdf, duck_pdf))
    print(f"sweep wall: {time.time() - t_sweep:.1f}s")

    for name, s, d in failed:
        print(f"\n--- {name}: first diffs ---")
        s2 = s.reindex(sorted(s.columns), axis=1).astype(str)
        d2 = d.reindex(sorted(d.columns), axis=1).astype(str)
        sk = set(map(tuple, s2.values))
        dk = set(map(tuple, d2.values))
        print("spark-only:", list(sk - dk)[:5])
        print("duck-only :", list(dk - sk)[:5])
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
