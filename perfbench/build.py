"""Build the benchmark's inputs once per checkout.

Writes, under ``.bench_build/perfbench/<key>/`` (``key`` hashes the
sources the inputs depend on, so editing them rebuilds):

- ``fixture/``: the synthetic tables (perfbench/fixture.py) at ``SF``;
- ``pristine/``: the ``etl_compat`` warehouse before any call;
- ``expected.json``: the canonical expected result of every query the
  query workloads run, from the query's registered DuckDB oracle.

Run as ``python3 -m perfbench.build`` from the repository root; prints
the build directory.  Needs no Spark session.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

SF = 0.01
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# The sources whose content the built files depend on.
INPUTS = ("build.py", "canon.py", "etl.py", "fixture.py", "workloads.py")


def build_dir() -> str:
    h = hashlib.sha1(str(SF).encode())
    for name in INPUTS:
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return os.path.join(ROOT, ".bench_build", "perfbench", h.hexdigest()[:16])


def expected_results(fixture: str) -> dict:
    import duckdb

    from flowbyte_spark.catalog import TABLES, table_path
    from flowbyte_spark.queries import ORACLE
    from perfbench.canon import canon
    from perfbench.workloads import QUERY_LISTS

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(fixture, t)}')"
        )
    out = {}
    for names in QUERY_LISTS.values():
        for name in names:
            out[name] = canon(con.execute(ORACLE[name]).fetchdf())
    con.close()
    return out


def ensure() -> str:
    out = build_dir()
    if os.path.exists(os.path.join(out, "done")):
        return out
    from perfbench import etl, fixture

    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    fixture.generate(os.path.join(tmp, "fixture"), SF)
    etl.build_warehouse(os.path.join(tmp, "fixture"), os.path.join(tmp, "pristine"))
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected_results(os.path.join(tmp, "fixture")), fh)
    with open(os.path.join(tmp, "done"), "w") as fh:
        fh.write(f"{time.perf_counter() - t0:.1f} s\n")
    parent = os.path.dirname(out)
    for old in os.listdir(parent):  # inputs of an earlier benchmark version
        if old not in ("results", "run", os.path.basename(tmp)):
            shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure())
    sys.exit(0)
