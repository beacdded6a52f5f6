"""Full-suite driver-t2 rehearsal: run EVERY oracle-backed queries() entry at
sf0.01 (the driver's correctness SF) and hash-compare against its DuckDB
oracle with tests/oracle.py's canonicalization. Prints one line per query and
a failure summary; exit code 1 on any mismatch.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vers_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from tests.oracle import compare, duckdb_connection  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    spark = get_spark()
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures: list[str] = []
    t_all = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        t0 = time.time()
        con = duckdb_connection(sf_dir)
        try:
            res = compare(fn(spark, sf_dir), con, oracles[name])
            ok = res["rows_match"] and res["cols_match"] and res["values_match"]
            detail = ""
            if not ok:
                if not res["rows_match"]:
                    detail = f"rows {res['spark_rows']} != {res['duck_rows']}"
                elif not res["cols_match"]:
                    detail = f"cols {res['spark_cols']} != {res['duck_cols']}"
                elif not res.get("dtype_match", True):
                    detail = (
                        f"DTYPES (driver hash hazard) "
                        f"{list(zip(res['spark_cols'], res['spark_dtypes']))} != "
                        f"{list(zip(res['duck_cols'], res['duck_dtypes']))}"
                    )
                else:
                    detail = f"values, first: {res['first_mismatches'][:1]}"
                failures.append(f"{name}: {detail}")
        except Exception as e:  # noqa: BLE001
            ok, detail = False, f"{type(e).__name__}: {e}"[:200]
            failures.append(f"{name}: {detail}")
        finally:
            con.close()
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {dt:7.2f}s  {name}  {detail}", flush=True)
    print(f"\nTOTAL {time.time() - t_all:.1f}s, {len(failures)} failures")
    for f in failures:
        print("  FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
