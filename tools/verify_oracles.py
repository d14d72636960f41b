"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark at sf0.01 and compare against oracle_sql()
via DuckDB — row count, sorted column names, order-insensitive values.

Usage: python tools/verify_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

# the checkout this script lives in, not whatever is installed or cwd
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from geotrellis_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val)
    if isinstance(val, (bytes, bytearray)):
        return val.hex()
    return repr(val)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    ms = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return names, ms


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows "
                  f"({time.time() - t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            failures += 1
            continue
        sn, sm = df_to_multiset(scols, [tuple(r) for r in srows])
        dn, dm = df_to_multiset(dcols, drows)
        if sn != dn:
            print(f"FAIL {name}: columns {sn} != {dn}")
            failures += 1
            continue
        if len(sm) != len(dm):
            print(f"FAIL {name}: rowcount {len(sm)} != {len(dm)}")
            failures += 1
            continue
        if sm != dm:
            bad = [i for i, (a, b) in enumerate(zip(sm, dm)) if a != b]
            print(f"FAIL {name}: {len(bad)} mismatched rows of {len(sm)}; "
                  f"first: spark={sm[bad[0]]} duck={dm[bad[0]]}")
            failures += 1
            continue
        print(f"ok   {name}: {len(sm)} rows exact ({time.time() - t0:.1f}s)")
    # assert against len(QUERIES), never a hardcoded count — a gate
    # that checks a stale number (or a typo'd selection) must FAIL,
    # not report ALL OK having verified nothing
    n_expected = len(qs) if not only else len(only & set(qs))
    print(f"\nchecked vs registry: {len(qs)} registered queries, "
          f"{n_expected} selected, {n_checked} checked")
    if n_checked != n_expected or n_checked == 0:
        print(f"GATE ERROR: checked {n_checked} != selected {n_expected}"
              " (typo'd query name, or the loop skipped entries)")
        failures += 1
    if only - set(qs):
        print(f"GATE ERROR: unknown query names {sorted(only - set(qs))}")
        failures += 1
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
