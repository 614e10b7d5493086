#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB against the same sf parquet tables, then
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, floats rounded to 9 significant
digits before hashing — strictly tighter than any sane driver compare).

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"))
    ap.add_argument("--cpus", default="8")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from pdf_to_vectordb_etl_spark.session import get_spark

    spark = get_spark(
        app_name="check_oracle", master=f"local[{args.cpus}]", shuffle_partitions=int(args.cpus)
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.names or list(qs)
    n_pass = n_fail = 0
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t).upper() for t in rel.types]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        # The driver's compare goes through typed Arrow/pandas buffers:
        # HUGEINT (DuckDB's integer-SUM result type) and DECIMAL columns
        # hash differently from Spark's BIGINT/DOUBLE even when every
        # value is equal. Catch that class locally.
        wide = [
            f"{c}:{t}"
            for c, t in zip(dcols, dtypes)
            if "HUGEINT" in t or "DECIMAL" in t
        ]
        if wide:
            print(
                f"FAIL  {name}: oracle column(s) widen past BIGINT/DOUBLE "
                f"({', '.join(wide)}) — CAST them in the oracle SQL"
            )
            n_fail += 1
            failures.append(name)
            continue
        dt = time.time() - t0
        problems = []
        if sorted(map(str.lower, scols)) != sorted(map(str.lower, dcols)):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            a, b = canon(srows, scols), canon(drows, dcols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                extra = f" first-diffs={diff}" if diff else " (same multiset size, ordering?)"
                problems.append(f"value mismatch{extra}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(srows)} rows in {dt:.1f}s")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_fail} fail"
        + (f" -> {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
