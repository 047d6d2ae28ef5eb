"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row count, sorted-column schema, and an order-insensitive value
hash.  Usage: python tools/check_oracles.py [sf_dir] [name ...]"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# the repo root, so the tool runs from any directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "|".join(_fmt(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from biomedical_el_spark.plans import catalog
    from biomedical_el_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    names = [n for n in catalog.QUERIES if not only or n in only]
    failures = []
    for name in names:
        try:
            sdf = catalog.QUERIES[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in catalog.ORACLES:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            cur = con.execute(catalog.ORACLES[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            hs, ho = value_hash(srows, scols), value_hash(orows, ocols)
            if hs != ho:
                problems.append(f"value-hash {hs} vs {ho}")
                so = sorted("|".join(_fmt(x) for x in r) for r in srows)
                oo = sorted("|".join(_fmt(x) for x in r) for r in orows)
                diff = [(a, b) for a, b in zip(so, oo) if a != b][:3]
                for a, b in diff:
                    print(f"       spark  {a}\n       duckdb {b}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(srows)}")
    print(f"\n{len(names) - len(failures)}/{len(names)} ok")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
