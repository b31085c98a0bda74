"""Local replica of the driver's correctness gate: run every queries() entry
under Spark AND its oracle_sql() under DuckDB on the same sf dir, compare
row count, schema (column names), and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, ".")


def canon(v):
    """Canonicalize a cell for hashing across engines."""
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr round-trips doubles exactly; -0.0 normalized
        if v == 0.0:
            v = 0.0
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def value_hash(rows: list[dict]) -> str:
    lines = []
    for row in rows:
        cols = sorted(row.keys())
        lines.append("|".join(canon(row[c]) for c in cols))
    lines.sort()
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if not os.path.isdir(sf_dir):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        print(f"not a data directory: {sf_dir!r}", file=sys.stderr)
        return 2

    import duckdb

    from fink_filters_spark.session import get_session
    from fink_filters_spark.tables import TABLE_NAMES

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_session("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures, passed = [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = [dict(zip(ocols, row)) for row in res.fetchall()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        problems = []
        # Type lint: DuckDB promotes sum() to HUGEINT (and some exprs to
        # DECIMAL); a driver that fetches through pandas/Arrow sees those as
        # float64/decimal128 whose canonical string ("4.0"/"Decimal('4')")
        # splits the hash vs Spark's int64 even when values agree. Every
        # oracle output column must be a hash-stable type (CAST sums to
        # BIGINT in the SQL). This bit us for two rounds on
        # ev_retention_cohorts — keep the lint permanent.
        rel = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
        leaks = {
            c: str(t)
            for c, t in zip(rel.columns, rel.types)
            if any(bad in str(t) for bad in ("HUGEINT", "DECIMAL"))
        }
        if leaks:
            problems.append(f"oracle type leak (un-CAST sum?): {leaks}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
        if not problems:
            hs, ho = value_hash(srows), value_hash(orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show a few differing rows for debugging
                sset = {"|".join(canon(r[c]) for c in sorted(r)) for r in srows}
                oset = {"|".join(canon(r[c]) for c in sorted(r)) for r in orows}
                for x in list(sset - oset)[:3]:
                    problems.append(f"  spark-only: {x[:200]}")
                for x in list(oset - sset)[:3]:
                    problems.append(f"  oracle-only: {x[:200]}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: " + "\n  ".join(problems))
        else:
            passed += 1
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{passed} passed, {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
