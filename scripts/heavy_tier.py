"""Heavy-tier bench driver (VERDICT r16 "next round" #3).

The sf0.1 driver bench can no longer resolve kernel optimizations: ~40 s
of its total is per-query dispatch floor, most rows run *faster* at 8
cores than 32, and close-window ambient swamps per-query deltas.  This
tier re-runs the ~10 heaviest SCALING operators on a x10 inflated
fixture (scripts/inflate_sf.py — replicated fact tables, deterministic
near-dup-preserving content mutation), where those kernels sit 5-40 s
above the dispatch floor and a 2x win is unmistakable.

Additions-only: the driver contract (bench.py, its env vars, its output)
is UNCHANGED — this script just composes the existing pieces:

    python scripts/heavy_tier.py [out.json] [cpus]

1. inflates /root/testdata/sf0.1 x10 into .tmp/sf1x if absent;
2. runs bench.py with SPARK_GRAFT_SF_DIR=.tmp/sf1x,
   SPARK_GRAFT_BENCH_ONLY=<HEAVY_SET>, runs=3, warmups=1 (the longer
   per-query walls need less JIT amortization than sf0.1's sub-second
   rows), honoring SPARK_GRAFT_CPUS exactly like the main bench;
3. copies the resulting BENCH_ONLY.json to the requested artifact path.

HEAVY_SET holds the registered queries whose inputs actually scale with
the inflated tables (v104/v122/v127 clamp ids and keep their fixture
size at any factor — their heavy measurements are operator-level A/Bs,
recorded in OPTIMIZATION_r17.md).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEAVY_SET = [
    "v03_agg_q1",
    "v22_minhash_lsh",
    "v23_jaccard_pairs",
    "v24_simhash",
    "v42_cube",
    "v43_percentiles_stats",
    "v64_neardup_clusters",
    "v67_cluster_corpus_prep",
    "v120_skewed_join_agg",
    "v160_pagerank",
]


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        _REPO, ".tmp", "heavy_tier.json"
    )
    cpus = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    sf1x = os.path.join(_REPO, ".tmp", "sf1x")
    if not os.path.isdir(sf1x):
        subprocess.run(
            [sys.executable, os.path.join(_REPO, "scripts", "inflate_sf.py")],
            check=True,
        )
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf1x,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_RUNS="3",
        SPARK_GRAFT_BENCH_WARMUPS="1",
        SPARK_GRAFT_BENCH_ONLY=",".join(HEAVY_SET),
    )
    subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py")], check=True, env=env
    )
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    shutil.copyfile(os.path.join(_REPO, "BENCH_ONLY.json"), out)
    with open(out) as fh:
        data = json.load(fh)
    sys.exit(report(data["queries"], cpus, out))


def report(queries: dict[str, float], cpus, out: str) -> int:
    """Print the heavy-tier total; returns the exit status.

    bench.py reports a failed query as -1.0.  A total without it would
    read as a speed-up, so failures are named and the status is 1."""
    failed = sorted(q for q, v in queries.items() if v < 0)
    total = sum(v for v in queries.values() if v >= 0)
    if failed:
        print(
            f"heavy tier ({cpus} cpus): FAILED {', '.join(failed)}; "
            f"total of the {len(queries) - len(failed)} others "
            f"{total:.1f} s is not comparable -> {out}",
            file=sys.stderr,
        )
        return 1
    print(f"heavy tier ({cpus} cpus): total {total:.1f} s -> {out}")
    return 0

if __name__ == "__main__":
    main()
