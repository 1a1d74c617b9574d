"""Dry-run the driver's correctness sweep: registered queries through
__spark_entry__'s wrapped callables on ONE session (so cross-query
session state — temp views, confs, lingering caches — is exercised
exactly as the driver will), each compared against its DuckDB oracle at
sf0.01 by sorted-column stringified row multisets (the driver's
comparison).

Usage:
    python scripts/driver_dryrun.py [N] [start]   first N in registry order
                                                  (default N=50, start=0)
    python scripts/driver_dryrun.py NAME [NAME ...]   the named queries

The session is sized to the host: one task thread and one shuffle
partition per CPU this process may run on, and half the physical memory
as driver heap (local mode runs every task in the driver JVM; the other
half is left to the Python workers, DuckDB and the OS).
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.01"


def _select(args: list[str], registered: list[str]) -> list[str]:
    if all(a.isdigit() for a in args):
        n = int(args[0]) if args else 50
        start = int(args[1]) if len(args) > 1 else 0
        return registered[start : start + n]
    return args


def _canon_rows(df) -> list[str]:
    """Sorted stringified row multiset with NULLs canonicalized to None
    first — so Spark's None and DuckDB's nan/NaT stringify identically
    instead of producing a spurious VALUE MISMATCH (ADVICE r15)."""
    import pandas as pd

    df = df.astype(object).where(pd.notna(df), None)
    return sorted(map(str, df.values.tolist()))


def main() -> None:
    import duckdb

    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
    # Driver-owned session shape: plain builder, hostile timezone.
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.driver.memory", f"{max(1, phys_gib // 2)}g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = _select(sys.argv[1:], list(qs))

    from flowbyte_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(SF, t)}')"
        )

    failures = []
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        if name not in qs:
            failures.append((name, "not registered"))
            print(f"[{i+1:2d}/{len(names)}] {name}: NOT REGISTERED")
            continue
        try:
            sp = qs[name](spark, SF).toPandas()
        except Exception as exc:
            failures.append((name, f"spark error: {exc}"))
            print(f"[{i+1:2d}/{len(names)}] {name}: SPARK ERROR {exc}")
            continue
        status = "rows-only"
        if name in oracles:
            du = con.execute(oracles[name]).df()
            sp2 = sp[sorted(sp.columns)]
            du2 = du[sorted(du.columns)]
            if sorted(sp2.columns) != sorted(du2.columns):
                failures.append(
                    (name, f"schema: {sorted(sp2.columns)} vs {sorted(du2.columns)}")
                )
                status = "SCHEMA MISMATCH"
            else:
                a = _canon_rows(sp2)
                b = _canon_rows(du2)
                if a == b:
                    status = "match"
                else:
                    # Equal row counts with differing cells is the common
                    # mismatch shape (ADVICE r13) — show the first
                    # differing row pair, not just the counts.
                    first_diff = next(
                        (
                            f"spark={x!r} vs oracle={y!r}"
                            for x, y in zip(a, b)
                            if x != y
                        ),
                        "row sets differ only in length",
                    )
                    failures.append(
                        (
                            name,
                            f"values: {len(a)} vs {len(b)} rows; "
                            f"first diff: {first_diff}",
                        )
                    )
                    status = "VALUE MISMATCH"
        print(
            f"[{i+1:2d}/{len(names)}] {name}: {status} "
            f"({len(sp)} rows, {time.perf_counter()-t0:.1f} s)",
            flush=True,
        )
    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
