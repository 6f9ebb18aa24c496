"""Replicate the driver's correctness gate locally.

Runs every ``QUERIES`` row on Spark and its oracle on DuckDB over the same
sf dir, then compares row count, sorted-column schema and an
order-insensitive value hash.  Tier-1 runs the same comparison per row
(``tests/test_oracle_gate.py``).  Usage::

    python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "customer orders lineitem events documents".split()
#: what the gate holds equal between the Spark and the DuckDB side
CHECKS = ("rows", "schema", "hash")


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf) == 0:
        return hashlib.sha256(b"").hexdigest()[:16]
    rows = pdf.astype(str).apply(lambda r: "\x1f".join(r), axis=1).sort_values()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per sf-dir table the oracles read."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(spark, con, sf_dir: str, name: str) -> dict:
    """Run registry row ``name`` on Spark and its oracle on DuckDB.

    Each ``CHECKS`` key maps to its ``(spark, duckdb)`` pair; ``walls``
    holds the two seconds and ``frames`` the two pandas frames."""
    import __spark_entry__ as entrymod

    t0 = time.time()
    s = entrymod.queries()[name](spark, sf_dir).toPandas()
    t1 = time.time()
    d = con.sql(entrymod.oracle_sql()[name]).df()
    t2 = time.time()
    return {
        "rows": (len(s), len(d)),
        "schema": (sorted(s.columns), sorted(d.columns)),
        "hash": (value_hash(s), value_hash(d)),
        "walls": (t1 - t0, t2 - t1),
        "frames": (s, d),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kgx.session import get_spark

    spark = get_spark("oracle-compare", shuffle_partitions=8)
    con = connect(sf_dir)
    failed = []
    t_sweep = time.time()
    for name in entrymod.queries():
        if only and name not in only:
            continue
        r = compare(spark, con, sf_dir, name)
        ok = {c: r[c][0] == r[c][1] for c in CHECKS}
        (n_s, n_d), (cols_s, cols_d), (h_s, h_d) = (r[c] for c in CHECKS)
        print(
            f"{name:24s} {'OK ' if all(ok.values()) else 'FAIL'} rows={n_s}/{n_d} "
            f"schema={'=' if ok['schema'] else f'{cols_s}{cols_d}'} "
            f"hash={h_s if ok['hash'] else f'{h_s}!={h_d}'} "
            f"spark={r['walls'][0]:.1f}s duck={r['walls'][1]:.1f}s",
            flush=True,
        )
        if not all(ok.values()):
            failed.append((name, *r["frames"]))
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
