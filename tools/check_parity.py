"""Local oracle-parity harness — mimics the driver's t2 correctness gate.

For every catalog query: run the Spark DataFrame impl and the DuckDB oracle
on the same sf dir, sort columns by name and rows by value, compare exactly.
Exact equality (row values, not a value hash) is a strictly stronger bar than
the driver's hash compare, so a query that passes here passes there too.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from dbt_glue_spark.plans.catalog import SPECS, QuerySpec
from dbt_glue_spark.session import get_spark
from dbt_glue_spark.sources.registry import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # directory-style table (standard Spark writer layout)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        return (1, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(key(v) for v in r))


def values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact — we engineered determinism upstream
    return str(a) == str(b)


def exact_compare(spark, sf_dir: str, spec: QuerySpec, con=None) -> int:
    """Run ``spec`` on Spark and its DuckDB oracle over ``sf_dir`` and compare
    exactly: columns by name, rows by value after sorting both sides.

    Returns the row count; raises ``AssertionError`` naming the first
    difference. ``con`` reuses an open :func:`duck_con` connection.
    """
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    own = con is None
    con = duck_con(sf_dir) if own else con
    try:
        rel = con.sql(spec.oracle)
        dcols, drows = rel.columns, rel.fetchall()
    finally:
        if own:
            con.close()
    if sorted(scols) != sorted(dcols):
        raise AssertionError(f"columns differ spark={sorted(scols)} duck={sorted(dcols)}")
    sn, dn = normalize(srows, scols), normalize(drows, dcols)
    if len(sn) != len(dn):
        raise AssertionError(f"rowcount spark={len(sn)} duck={len(dn)}")
    for i, (sr, dr) in enumerate(zip(sn, dn)):
        if not all(values_equal(a, b) for a, b in zip(sr, dr)):
            raise AssertionError(
                f"first diff at sorted row {i}:\n      spark: {sr}\n      duck : {dr}"
            )
    return len(sn)


def run_parity(sf_dir: str, only=None, spark=None) -> list[str]:
    """Run the sweep; return the list of failing query names.

    Importable entry point so the same exact-compare gate runs as an
    opt-in pytest marker (tests/test_parity_sweep.py, ``-m parity``) —
    a refactor can't silently break an oracle between rounds.
    """
    only = set(only or ())
    specs = SPECS()
    unknown = only - set(specs)
    if unknown:
        # a renamed/removed catalog query must fail the gate, not
        # silently shrink the sweep to a vacuous green
        raise ValueError(f"unknown catalog queries in only=: {sorted(unknown)}")
    spark = spark or get_spark("parity-check")
    con = duck_con(sf_dir)
    failures = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            if spec.oracle is None:
                n = len(spec.fn(spark, sf_dir).collect())
                print(f"ok    {name}: rows-only ({n} rows)")
            else:
                print(f"PASS  {name} ({exact_compare(spark, sf_dir, spec, con)} rows)")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {e}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    return 1 if run_parity(sf_dir, only=sys.argv[2:]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
