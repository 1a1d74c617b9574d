"""The bench's driver contract, end-to-end (VERDICT r16 #2).

Round 15's BENCH artifact was unusable to the driver (`prev_bench_ok:
false` — the captured one-line JSON failed its parse) and nothing
in-repo guarded against it, so the round-over-round baseline was lost.
These tests pin the contract at both granularities:

- unit: `scripts/check_bench_artifact.py`'s validator accepts the good
  shape and rejects each failure mode (truncated JSON, missing metric,
  value drift between the primary line and the reversed copy);
- end-to-end: a real `bench.py` subprocess run (one query, sf0.001,
  fresh JVM) honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS /
  $SPARK_GRAFT_BENCH_ONLY and prints stdout whose primary line
  round-trips through json.loads with the documented fields.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
KEPT_SCRIPTS = [*glob.glob(f"{REPO}/scripts/*.py"), f"{REPO}/bench.py"]

from check_bench_artifact import check_lines  # noqa: E402

GOOD_PRIMARY = json.dumps(
    {
        "metric": "sum_of_median_query_seconds",
        "value": 1.23,
        "unit": "sec",
        "queries": {"v01_scan": 1.23},
        "sf": 0.001,
        "substrate_probe_sec": 0.1,
    },
    separators=(",", ":"),
)
GOOD_COPY = json.dumps(
    {
        "metric": "sum_of_median_query_seconds_reversed_copy",
        "value": 1.23,
        "unit": "sec",
        "order": "reversed",
        "queries": {"v01_scan": 1.23},
        "sf": 0.001,
    },
    separators=(",", ":"),
)


def test_validator_accepts_the_good_shape():
    primary, copy = check_lines(["noise\n", GOOD_PRIMARY, GOOD_COPY])
    assert primary["value"] == 1.23
    assert copy is not None


def test_validator_rejects_truncated_json():
    # The r15 failure mode: a brace-led line the driver cannot parse.
    with pytest.raises(ValueError, match="json.loads"):
        check_lines([GOOD_PRIMARY[: len(GOOD_PRIMARY) // 2]])


def test_validator_rejects_missing_primary():
    with pytest.raises(ValueError, match="no line with metric"):
        check_lines([GOOD_COPY])


def test_validator_rejects_copy_drift():
    drifted = GOOD_COPY.replace("1.23", "9.99")
    with pytest.raises(ValueError, match="reversed-copy value"):
        check_lines([GOOD_PRIMARY, drifted])


def test_validator_rejects_failed_query_sentinel_type():
    bad = GOOD_PRIMARY.replace("1.23}", '"broken"}').replace(
        '"v01_scan":1.23', '"v01_scan":"broken"'
    )
    with pytest.raises(ValueError):
        check_lines([bad])


def test_heavy_tier_names_failed_queries(capsys):
    from heavy_tier import report

    assert report({"v03_agg_q1": 2.0, "v22_minhash_lsh": 3.0}, 4, "o.json") == 0
    assert "total 5.0 s" in capsys.readouterr().out
    assert report({"v03_agg_q1": 2.0, "v22_minhash_lsh": -1.0}, 4, "o.json") == 1
    err = capsys.readouterr().err
    assert "FAILED v22_minhash_lsh" in err and "total of the 1 others 2.0 s" in err


def test_bench_subprocess_honors_env_and_prints_parseable_json(tmp_path):
    """One-query bench run in a fresh JVM: the full driver contract.

    bench.py is copied into tmp_path so its BENCH_ONLY.json side artifact
    lands there instead of clobbering the repo's tracked copy; the engine
    imports resolve via PYTHONPATH.
    """
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.001 fixtures unavailable")
    shutil.copyfile(
        os.path.join(REPO, "bench.py"), tmp_path / "bench.py"
    )
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": REPO + os.pathsep + env.get("PYTHONPATH", ""),
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_ONLY": "v01_scan",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_WARMUPS": "0",
        }
    )
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py")],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # The stdout contract itself — exactly what the driver parses.
    primary, copy = check_lines(proc.stdout.splitlines())
    assert primary["sf"] == 0.001  # $SPARK_GRAFT_SF_DIR honored
    assert list(primary["queries"]) == ["v01_scan"]  # BENCH_ONLY honored
    assert primary["queries"]["v01_scan"] > 0
    assert copy is not None
    # Subset runs must write BENCH_ONLY.json, never BENCH_FULL.json.
    assert (tmp_path / "BENCH_ONLY.json").exists()
    assert not (tmp_path / "BENCH_FULL.json").exists()
    only = json.loads((tmp_path / "BENCH_ONLY.json").read_text())
    assert only["queries"]["v01_scan"] == primary["queries"]["v01_scan"]


def test_session_factory_honors_cpus_env():
    """$SPARK_GRAFT_CPUS must reach the master line (the driver re-runs
    the bench at a lower core count to measure scaling; a hard-coded
    master would silently void that measurement).  Fresh subprocess so
    the session-wide singleton in this suite's JVM is untouched."""
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_GRAFT_CPUS"] = "3"
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "from flowbyte_spark.session import get_spark;"
            "s = get_spark(app_name='cpus-contract');"
            "print('MASTER=' + s.sparkContext.master)",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "MASTER=local[3]" in proc.stdout


def _imported(module: str, name: str):
    """What ``from module import name`` binds, or None if it fails."""
    try:
        mod = importlib.import_module(module)
        # a submodule its package does not import is not an attribute
        if hasattr(mod, name):
            return getattr(mod, name)
        return importlib.import_module(f"{module}.{name}")
    except ImportError:
        return None


def _library_uses(path: str) -> tuple[list[str], list[str]]:
    """``(broken, stale)`` in one file: each ``from flowbyte_spark.X import a``
    binding nothing, and each keyword a flowbyte_spark function without
    ``**kwargs`` does not take, called as ``a(...)`` or ``M.f(...)`` after
    ``import flowbyte_spark.X as M`` (lazy imports scoped to their def)."""
    broken, stale, rel = [], [], os.path.relpath(path, REPO)
    ours = lambda dotted: (dotted or "").split(".")[0] == "flowbyte_spark"

    def resolve(expr, bound):
        if isinstance(expr, ast.Attribute):
            owner = resolve(expr.value, bound)
            return getattr(owner, expr.attr, None) if inspect.ismodule(owner) else None
        return bound.get(expr.id) if isinstance(expr, ast.Name) else None

    def check(scope, bound):
        nodes, todo = [], list(ast.iter_child_nodes(scope))
        while todo:  # this scope only: nested defs are checked on their own
            nodes.append(todo.pop())
            if not isinstance(nodes[-1], (ast.FunctionDef, ast.ClassDef)):
                todo.extend(ast.iter_child_nodes(nodes[-1]))
        for node in nodes:
            if isinstance(node, ast.ImportFrom) and ours(node.module):
                for a in node.names:
                    obj = bound[a.asname or a.name] = _imported(node.module, a.name)
                    if obj is None:
                        broken.append(f"{rel}:{node.lineno} {node.module}.{a.name}")
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and ours(a.name):
                        bound[a.asname] = importlib.import_module(a.name)
        for node in nodes:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                check(node, dict(bound))
            fn = resolve(node.func, bound) if isinstance(node, ast.Call) else None
            if callable(fn) and ours(getattr(fn, "__module__", None)):
                params = inspect.signature(fn).parameters
                if all(p.kind is not p.VAR_KEYWORD for p in params.values()):
                    stale.extend(
                        f"{rel}:{node.lineno} {fn.__name__}({kw.arg}=)"
                        for kw in node.keywords
                        if kw.arg not in (None, *params)
                    )

    check(ast.parse(open(path).read()), {})
    return broken, stale


def test_kept_scripts_import_names_the_library_still_has():
    """Every ``from flowbyte_spark.X import a`` in scripts/*.py and
    bench.py, lazy imports inside functions included, names a module and
    attribute that exist, so a library deletion cannot silently break a
    kept script."""
    broken = [hit for path in KEPT_SCRIPTS for hit in _library_uses(path)[0]]
    assert not broken, broken


def test_library_calls_pass_only_keywords_the_callee_takes():
    """Every keyword that a registered query, a kept script or bench.py
    passes to a flowbyte_spark function is one of its parameters, so a
    removed option a query still sets fails here, not mid driver run."""
    queries = glob.glob(f"{REPO}/flowbyte_spark/queries/*.py")
    stale = [s for path in queries + KEPT_SCRIPTS for s in _library_uses(path)[1]]
    assert not stale, stale
