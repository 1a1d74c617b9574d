"""Per-layer tracing from outside the program.

Three sources, all public:

- spans around the calls into each module's public functions, installed
  by rebinding the function (or method) in every loaded ``flowbyte_spark``
  module that refers to it;
- Spark's status interfaces: each traced operation runs in its own job
  group; after a pass the benchmark reads the jobs and stages of the
  application from ``statusTracker`` and the monitoring REST API of the
  local application, and attributes each job to the span it was
  submitted in;
- a ``StreamingQueryListener`` for the per-trigger phase durations.

The spans record nothing unless ``active`` is set, so the untraced passes
of a traced run pay one attribute test per wrapped call.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone
from urllib.parse import urlparse

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.metrics import COMPAT_OPS, MUTATE_OPS, STREAM_PHASES

# (module, attribute or Class.method, span name, count the span's jobs)
SPANS = [
    ("flowbyte_spark.session", "get_spark", "session.get_spark", False),
    ("flowbyte_spark.catalog", "load_table", "catalog.load_table", False),
    ("flowbyte_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", True),
    ("flowbyte_spark.operators.srp", "srp_neardup_pairs", "srp.srp_neardup_pairs", True),
    ("flowbyte_spark.operators.components", "connected_components",
     "components.connected_components", True),
    ("flowbyte_spark.operators.cache", "release_persisted", "cache.release_persisted", False),
    ("flowbyte_spark.streaming", "run_available_now", "streaming.run_available_now", False),
    *[("flowbyte_spark.compat", f"MSSQL.{op}", f"compat.{op}", True) for op in COMPAT_OPS],
    *[("flowbyte_spark.operators.mutate", f"ParquetTable.{op}", f"mutate.{op}", False)
      for op in MUTATE_OPS],
]


class _Listener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.sink.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _epoch(stamp: str) -> float:
    """REST timestamps look like ``2026-01-01T10:00:00.123GMT``."""
    return (
        datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Tracer:
    def __init__(self):
        self.active = False
        self.totals: dict[str, float] = defaultdict(float)
        # closed spans of the current pass: (name, start, end) in epoch secs
        self.spans: list[tuple[str, float, float]] = []
        self._open: set[str] = set()
        self._progress: list[dict] = []
        self.spark = None

    # -- spans ---------------------------------------------------------------

    def install(self) -> None:
        for module, attr, name, jobs in SPANS:
            self._wrap(importlib.import_module(module), attr, name, jobs)

    def _wrap(self, module, attr: str, name: str, jobs: bool) -> None:
        owner = module
        if "." in attr:
            cls, attr = attr.split(".")
            owner = getattr(module, cls)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active or name in self._open:
                return orig(*args, **kwargs)
            self._open.add(name)
            t0 = time.time()
            try:
                out = orig(*args, **kwargs)
            finally:
                t1 = time.time()
                self._open.discard(name)
                self.totals[f"{name}_s"] += t1 - t0
                self.totals[f"{name}_calls"] += 1
                if jobs:
                    self.spans.append((name, t0, t1))
            if name == "cache.release_persisted":
                self.totals["cache.released"] += out
            return out

        setattr(owner, attr, wrapper)
        if owner is module:  # rebind `from module import fn` copies too
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("flowbyte_spark"):
                    for key, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, key, wrapper)

    def span(self, name: str, fn):
        """Time ``fn()`` as span ``name`` and keep it for job attribution."""
        t0 = time.time()
        try:
            return fn()
        finally:
            t1 = time.time()
            self.totals[f"{name}_s"] += t1 - t0
            self.spans.append((name, t0, t1))

    # -- Spark status --------------------------------------------------------

    def attach(self, spark) -> None:
        self.spark = spark
        spark.streams.addListener(_Listener(self._progress))

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.load(resp)

    def collect_pass(self, first_job: int) -> int:
        """Attribute the pass's jobs to its spans and add their stage and
        executor metrics to the totals; returns the next unseen job id."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.time() + 10
        while True:  # wait for the status store to see every job finish
            jobs = [j for j in self._rest("jobs") if j["jobId"] >= first_job]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.1)
        ran = defaultdict(list)  # stage id -> attempts that ran
        for s in self._rest("stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                ran[s["stageId"]].append(s)
        seen: set[int] = set()
        for job in jobs:
            # every span open when the job was submitted (nested spans all
            # count it); REST stamps are truncated to the millisecond
            tj = _epoch(job["submissionTime"])
            names = [n for n, t0, t1 in self.spans if t0 - 0.001 <= tj <= t1]
            stage_ids = [s for s in job["stageIds"] if s in ran and s not in seen]
            seen.update(stage_ids)
            self._add_job(names, stage_ids, ran, tracker)
        self.spans = []
        return max([j["jobId"] + 1 for j in jobs], default=first_job)

    def _add_job(self, names, stage_ids, ran, tracker) -> None:
        t = self.totals
        for name in names:
            t[f"{name}_jobs"] += 1
        run_side = "queries.run" in names
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is not None:
                t["queries.failed_tasks"] += info.numFailedTasks
                if run_side:
                    t["queries.run_stages"] += 1
                    t["queries.run_tasks"] += info.numCompletedTasks
            for s in ran[sid]:
                t["queries.executor_run_s"] += s["executorRunTime"] / 1e3
                t["queries.executor_cpu_s"] += s["executorCpuTime"] / 1e9
                t["queries.gc_s"] += s.get("jvmGcTime", 0) / 1e3
                t["queries.shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
                t["queries.spill_mb"] += (
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                ) / 2**20

    def collect_streaming(self) -> None:
        """Fold the listener's trigger progress into the totals."""
        time.sleep(0.5)  # listener events are delivered asynchronously
        n = len(self._progress)
        progress = self._progress[:n]
        del self._progress[:n]  # keep events appended meanwhile
        self.totals["streaming.triggers"] += len(progress)
        for metric, key in STREAM_PHASES.items():
            self.totals[metric] += sum(p.get(key, 0) for p in progress) / 1e3
