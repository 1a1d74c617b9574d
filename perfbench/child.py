"""One benchmark run of one workload, in a fresh process.

Started by ``perfbench/run.py``; writes its result as JSON to ``--out``.
The run is a closed loop: one caller issues one operation at a time and
waits for it.  Phases:

1. set-up: session start, the workload's inputs and expected results;
2. the measured pass: the first pass over the operation list in the
   session, as a batch job that runs the list once pays for it (its
   first calls JIT-compile and build memoized sources), tracing off;
3. with ``--trace 1`` the measured pass runs traced instead, and two
   warm passes follow, one traced and one not, for the tracing overhead.

A pass is measured in wall time and in CPU time of the whole process
tree.  Every operation's result is checked after its pass, outside both.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from perfbench import procfs  # noqa: E402
from perfbench.canon import canon, mismatch  # noqa: E402
from perfbench.metrics import COMPAT_OPS, PER_LAYER, WALL  # noqa: E402
from perfbench.workloads import query_order  # noqa: E402


def measured(fn):
    """``fn()`` with the wall seconds it took and the CPU seconds the
    process tree spent meanwhile."""
    cpu0 = procfs.cpu_s(os.getpid())
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, procfs.cpu_s(os.getpid()) - cpu0


class Run:
    """Counts the run's operations and failures; with tracing on, runs each
    operation in its own job group."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.group = 0

    def op(self, name: str, fn):
        """Issue one operation; with tracing on, under its own job group."""
        self.attempted += 1
        if not (self.tracer and self.tracer.active):
            return fn()
        self.group += 1
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{self.group}-{name}", name)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class QueryWorkload:
    def __init__(self, run: Run, args):
        from flowbyte_spark.operators import cache
        from flowbyte_spark.queries import QUERIES

        self.run, self.cache, self.queries = run, cache, QUERIES
        self.sf_dir = args.fixture
        self.order = query_order(args.workload, args.seed)
        with open(args.expected) as fh:
            expected = json.load(fh)
        self.expected = {q: expected[q] for q in self.order}
        self.op_walls: dict[str, list[float]] = {q: [] for q in self.order}

    def one(self, name: str):
        tr = self.run.tracer
        fn = self.queries[name]
        if tr and tr.active:
            df = tr.span("queries.build", lambda: fn(self.run.spark, self.sf_dir))
            pdf = tr.span("queries.run", df.toPandas)
        else:
            pdf = fn(self.run.spark, self.sf_dir).toPandas()
        self.cache.release_persisted()
        return pdf

    def run_pass(self) -> tuple[float, float]:
        """One pass; returns its wall and CPU seconds."""
        results = {}

        def ops():
            for name in self.order:
                t = time.perf_counter()
                try:
                    results[name] = self.run.op(name, lambda n=name: self.one(n))
                except Exception as exc:  # one failed query must not end the run
                    results[name] = exc
                self.op_walls[name].append(time.perf_counter() - t)

        _, wall, cpu = measured(ops)
        for name, res in results.items():
            if isinstance(res, Exception):
                self.run.fail(f"{name}: {type(res).__name__}: {res}"[:500])
            elif res is None:
                self.run.fail(f"{name}: returned None")
            else:
                why = mismatch(canon(res), self.expected[name])
                if why:
                    self.run.fail(f"{name}: {why}")
        return wall, cpu


class EtlWorkload:
    def __init__(self, run: Run, args):
        import pyarrow.parquet as pq

        from flowbyte_spark import compat
        from perfbench import etl

        self.run, self.compat, self.etl = run, compat, etl
        self.pristine = args.pristine
        self.warehouse = os.path.join(args.run_dir, "warehouse")
        cust = pq.read_metadata(etl.table_dir(self.pristine, "customer")
                                + "/part-00000.parquet").num_rows
        prices = pq.read_table(
            etl.table_dir(self.pristine, "orders"), columns=["o_totalprice"]
        ).column(0).to_numpy()
        self.inputs = etl.make_inputs(args.seed, cust, prices)
        self.model = etl.Model(self.pristine, self.inputs)
        self.rows = 0

    def run_pass(self) -> tuple[float, float]:
        """One pass on a fresh copy of the warehouse; returns its wall and
        CPU seconds."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.pristine, self.warehouse)
        failed: list[str] = []

        def op(name, fn):
            try:
                return self.run.op(name, fn)
            except Exception as exc:  # later calls still run and are counted
                failed.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                return None

        frame, wall, cpu = measured(
            lambda: self.etl.run_pass(self.compat, self.warehouse, self.inputs, op))
        for f in failed:
            self.run.fail(f)
        if not failed:
            why = self.model.check(frame, self.warehouse)
            if why:
                self.run.fail(why)
        self.rows = 0 if frame is None else len(frame)
        return wall, cpu


def substrate_probe(spark) -> float:
    """A fixed JVM-only job, no IO and no engine code (after bench.py's
    probe, smaller): recorded to tell host drift from code change."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 10_000_000, 1, 8).selectExpr("sum(xxhash64(id))").collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples[1:])


def host_context(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": procfs.mem_total_kb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "substrate_probe_s": substrate_probe(spark),
    }


def main() -> int:
    p = argparse.ArgumentParser()
    for a in ("workload", "fixture", "pristine", "expected", "run_dir", "out"):
        p.add_argument(f"--{a}", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    args = p.parse_args()

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
        tracer.active = True
    from flowbyte_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = tracer.totals["session.get_spark_s"] if tracer else None
    if tracer:
        tracer.active = False
        tracer.totals.clear()
    run = Run(spark, tracer)
    kind = EtlWorkload if args.workload == "etl_compat" else QueryWorkload
    workload = kind(run, args)
    setup_s = time.perf_counter() - T0
    out = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "setup_s": setup_s}
    ticks = procfs.host_ticks()
    if tracer:
        out["per_layer"], out["traced"] = traced(workload, tracer, spark)
        out["per_layer"]["session.get_spark_s"] = session_s
    else:
        out["wall_s"], out["cpu_s"] = workload.run_pass()
    # context for a later reader, never compared: how much of the host
    # other guests took while the run measured
    out["steal_share"] = procfs.steal_share(ticks, procfs.host_ticks())
    out["op_walls_s"] = getattr(workload, "op_walls", None)
    out["attempted"] = run.attempted
    out["failures"] = run.failures
    out["host"] = host_context(spark)
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    return 0


def traced(workload, tracer, spark):
    """The measured pass, traced; then a warm traced pass and a warm
    untraced one, whose difference is the tracing overhead.  Passes still
    speed up as the JIT warms, so the untraced pass comes last: the
    overhead is an overestimate, never a warm-up artefact read as a
    negative cost."""
    tracer.attach(spark)
    first_job = tracer.collect_pass(0)  # skip the jobs of set-up
    tracer.totals.clear()
    tracer.active = True
    wall, cpu = workload.run_pass()
    tracer.active = False
    tracer.collect_pass(first_job)
    tracer.collect_streaming()
    totals = dict(tracer.totals)
    per = {k: totals.get(k, 0.0) for k in PER_LAYER}
    per["proc.cpu_s"] = cpu
    per[WALL] = wall
    tracer.active = True
    traced_warm, _ = workload.run_pass()
    tracer.active = False
    untraced_warm, _ = workload.run_pass()
    per["trace.overhead_s"] = traced_warm - untraced_warm
    if isinstance(workload, EtlWorkload):
        per["compat.get_data_rows"] = workload.rows
    # how much of the traced wall the top-level spans account for
    top = ("compat." + op + "_s" for op in COMPAT_OPS) if isinstance(
        workload, EtlWorkload) else ("queries.build_s", "queries.run_s",
                                     "cache.release_persisted_s")
    detail = {
        "totals": totals,
        "warm_walls_s": [traced_warm, untraced_warm],
        "span_share_of_wall": sum(per[k] for k in top) / wall,
    }
    return per, detail


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
