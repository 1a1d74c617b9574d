"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the inputs once per checkout
(perfbench/build.py), then runs the workload in a fresh process
(perfbench/child.py) on ``local[nproc]`` with the engine's own defaults:
only ``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS`` and the benchmark's
warehouse path are chosen here, and temporary files are kept inside the
checkout.  While the run lasts, the resident memory of its whole process
tree is sampled from ``/proc``.  Prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
full record, host context included, goes to
``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procfs  # noqa: E402
from perfbench.metrics import END_TO_END, MEMORY, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

TIMEOUT_S = 150
# Engine settings the benchmark must not choose: it measures the defaults.
UNSET = (
    "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SCRATCH",
    "SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS",
)


def child_env(run_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in UNSET}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    return env


def stop_all(known: set, grace_s: float = 15.0) -> None:
    """Wait for every process the run started to end; kill stragglers."""
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        live = [ident for ident in known if procfs.alive(ident)]
        if not live:
            return
        if time.monotonic() > deadline:
            for pid, _start in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5, signal.SIGKILL
        time.sleep(0.1)


def run_child(cmd: list[str], env: dict) -> tuple[int, float]:
    """Run ``cmd``; return its exit code and the peak resident MB summed
    over its process tree, sampled every 50 ms."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
    known: set = set()
    peak_kb, start = 0, time.monotonic()
    try:
        while proc.poll() is None:
            pids = procfs.tree(proc.pid)
            known.update(i for i in map(procfs.identity, pids) if i)
            peak_kb = max(peak_kb, sum(map(procfs.resident_kb, pids)))
            if time.monotonic() - start > TIMEOUT_S:
                break
            time.sleep(0.05)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        stop_all(known)
    return proc.returncode, peak_kb / 1024


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through run_child's cleanup


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "flowbyte_spark")):
        print("perfbench: flowbyte_spark not found beside perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    build = subprocess.run(
        [sys.executable, "-m", "perfbench.build"], cwd=ROOT, check=True,
        env={**os.environ, "PYTHONPATH": ROOT}, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()[-1]
    run_dir = os.path.join(base, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixture", os.path.join(build, "fixture"),
        "--pristine", os.path.join(build, "pristine"),
        "--expected", os.path.join(build, "expected.json"),
        "--run_dir", run_dir, "--out", out_path,
    ]
    code, peak_mb = run_child(cmd, child_env(run_dir))
    if code != 0 or not os.path.exists(out_path):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    with open(out_path) as fh:
        res = json.load(fh)
    res["peak_rss_mb"] = peak_mb
    if args.trace:
        res["per_layer"][MEMORY] = peak_mb
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    record = os.path.join(
        base, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
    )
    with open(record, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": PER_LAYER[k][0]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": res[k], "unit": END_TO_END[k][0]} for k in END_TO_END}
    failed = min(len(res["failures"]), res["attempted"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
