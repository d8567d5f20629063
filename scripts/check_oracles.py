"""Local stand-in for the driver's CORRECTNESS gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf directory, then
compares column names, each column's Arrow type (the Spark frame's
Arrow schema against DuckDB's Arrow result, so e.g. a DuckDB HUGEINT
surfacing as ``decimal128(38, 0)`` fails against Spark's ``int64``
even when the values compare equal), row count, and order-insensitive
values (columns sorted by name, rows sorted, floats compared exactly —
both sides round in-query, so any mismatch is a real bug).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
from pyspark.sql.pandas.types import to_arrow_schema

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr), [cols[i] for i in order]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from neo4j_graph_algorithms_spark.session import build_session

    spark = build_session(
        app_name="oracle-check", master="local[8]",
        extra_conf={"spark.driver.memory": "8g"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: str(f.type) for f in to_arrow_schema(sdf.schema)}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            tbl = con.execute(oracles[name]).arrow()
            ocols = tbl.column_names
            otypes = {f.name: str(f.type) for f in tbl.schema}
            orows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        sn, scs = normalize(srows, scols)
        on, ocs = normalize(orows, ocols)
        type_diffs = {
            c: (stypes[c], otypes.get(c)) for c in scs if stypes[c] != otypes.get(c)
        }
        if scs != ocs:
            print(f"FAIL {name}: columns spark={scs} duck={ocs}")
            failures.append(name)
        elif type_diffs:
            print(f"FAIL {name}: arrow types (spark, duck) differ: {type_diffs}")
            failures.append(name)
        elif len(sn) != len(on):
            print(f"FAIL {name}: rowcount spark={len(sn)} duck={len(on)}")
            failures.append(name)
        elif sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs {diff}")
            failures.append(name)
        else:
            print(f"OK   {name}: {len(sn)} rows")
    print("----")
    print(f"{len(failures)} failures: {failures}" if failures else "all green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
