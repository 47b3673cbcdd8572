"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB over the same parquet tables, then compares:
  - row count
  - column names (sorted)
  - order-insensitive values (columns sorted by name, rows sorted, cells
    normalized: floats rounded to 9 significant digits, timestamps to ISO)

Usage: python tools/check_oracle.py [--summary] [sf_dir] [query_name ...]

``--summary`` appends a one-block summary (or prints only that, given no
other argument): per query, whether it sits inside the driver's
correctness window (the first DRIVER_WINDOW entries of queries()) or is
local-only, and whether it has an oracle.

The full suite also runs under pytest (tests/test_oracle_contract.py) at
sf0.001, so every declared query — including the ones outside the driver
window — stays oracle-verified on every test run.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from exon_duckdb_spark.session import get_session

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


# The driver's correctness gate records only the first registry entries up
# to this count; entries past it are verified locally only.
DRIVER_WINDOW = entrymod.DRIVER_WINDOW


def run_checks(
    sf_dir: str,
    only: set[str] | None = None,
    spark=None,
    verbose: bool = True,
) -> list[str]:
    """Run the oracle compare for the selected queries; returns failure
    names. Importable so pytest can run the FULL declared suite (not just
    the driver window) on every test run."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if spark is None:
        spark = get_session(app_name="check_oracle")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = only - set(queries)
        if unknown:
            # a typo'd filter must not report "0 failures" over zero checks
            raise SystemExit(
                f"unknown query name(s) {sorted(unknown)} — not in queries(); "
                f"valid names: {sorted(queries)}"
            )
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:200]}")
            failures.append(name)
            continue
        finally:
            # the minhash operators persist their signature frames for
            # the duration of the lazy plan (documented lifecycle);
            # looping 54 queries in one session would otherwise
            # accumulate MEMORY_AND_DISK entries
            spark.catalog.clearCache()
        spark_t = time.time() - t0
        if name not in oracles:
            if verbose:
                print(
                    f"SKIP {name}: no oracle ({len(srows)} rows, "
                    f"{spark_t:.1f}s) [rows-only]"
                )
            continue
        t0 = time.time()
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            failures.append(name)
            continue
        duck_t = time.time() - t0

        ok = True
        msgs = []
        if len(srows) != len(orows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if ok:
            ns, no = norm_rows(scols, srows), norm_rows(ocols, orows)
            if ns != no:
                ok = False
                ndiff = sum(1 for a, b in zip(ns, no) if a != b)
                msgs.append(f"values differ ({ndiff} rows)")
                for a, b in zip(ns, no):
                    if a != b:
                        msgs.append(f"  spark : {a}")
                        msgs.append(f"  duckdb: {b}")
                        break
        status = "OK  " if ok else "FAIL"
        if verbose or not ok:
            print(
                f"{status} {name}: {len(srows)} rows "
                f"(spark {spark_t:.1f}s, duckdb {duck_t:.2f}s)"
                + ("" if ok else " | " + " | ".join(msgs))
            )
        if not ok:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return failures


def print_summary() -> None:
    """Verification-tier table: which declared queries sit inside the
    driver's DRIVER_WINDOW-row correctness window vs local-only (verified
    by this script / pytest)."""
    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    print(f"\n== registry summary ({len(names)} declared queries) ==")
    print(f"driver window: first {DRIVER_WINDOW} entries of queries()")
    for i, name in enumerate(names):
        tier = "driver" if i < DRIVER_WINDOW else "local "
        oracle = "oracle" if name in oracles else "rows-only"
        print(f"  {tier}  {oracle:9s}  {name}")
    n_driver = min(DRIVER_WINDOW, len(names))
    print(
        f"{n_driver} driver-windowed, "
        f"{max(0, len(names) - DRIVER_WINDOW)} local-only, "
        f"{len(names) - len(set(names) & set(oracles))} rows-only"
    )


def main() -> int:
    argv = sys.argv[1:]
    summary = "--summary" in argv
    argv = [a for a in argv if a != "--summary"]
    if summary and not argv:
        print_summary()
        return 0
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    failures = run_checks(sf_dir, only)
    if summary:
        print_summary()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
