#!/usr/bin/env python
"""Driver-shaped correctness check: run every registry entry and compare it
with its oracle_sql() via DuckDB at sf0.01 (or $SPARK_GRAFT_SF_DIR), the way
the driver does. sf0.01 is a second 500-doc sample, the same size as sf0.001,
not a larger scale. ``registry.check`` takes the Spark ``toPandas()`` frame and
the DuckDB ``.df()`` frame and requires the same columns, the same pandas
dtypes and the same hash of the cell reprs, in any row or column order.

Prints one line per query: MATCH / MISMATCH / ERROR, and exits non-zero on
any failure.

Usage: check_correctness.py [--json OUT.json] [query_name ...]
With query names, only those registry entries run (fast iteration); --json
additionally writes the per-query result dict in the driver's
CORRECTNESS_r{N}.json shape so every round can commit its own full record
(CORRECTNESS_full_r{N}.json) even if the driver harness truncates.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datatrove_spark import get_spark, registry  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=None, help="write per-query results JSON here")
    ap.add_argument("names", nargs="*", help="subset of registry query names to run")
    argv = ap.parse_args()

    names = sorted(argv.names or registry.queries())
    unknown = [n for n in names if n not in registry.queries()]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    con = registry.duck_connect(sf_dir)
    spark = get_spark(app_name="check-correctness")
    failed = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.monotonic()
        try:
            res = registry.check(spark, con, name, sf_dir)
        except Exception as ex:  # noqa: BLE001
            err = f"{type(ex).__name__}: {str(ex)[:200]}"
            print(f"{name:28s} ERROR {err}")
            res = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": err,
                "sec": round(time.monotonic() - t0, 2), "diff": None,
            }
        else:
            if res["hash_match"]:
                print(f"{name:28s} MATCH rows={res['spark_rows']} ({res['sec']}s)")
            else:
                print(f"{name:28s} MISMATCH rows={res['spark_rows']}/{res['oracle_rows']} {res['diff']}")
        results[name] = res
        if not res["hash_match"]:
            failed.append(name)
    if argv.json:
        with open(argv.json, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {argv.json} ({len(results)} queries)")
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
