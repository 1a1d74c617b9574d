"""Registry invariants: every query has an oracle, the registry is in
query-number order, and every query runs through an in-suite
Spark-vs-DuckDB differential (the comparison the driver applies).
"""

from __future__ import annotations

import ast
import glob
import os
import re

from flowbyte_spark.queries import ORACLE, QUERIES

_TESTS = os.path.dirname(os.path.abspath(__file__))


def _number(name: str) -> int:
    return int(re.match(r"v(\d+)_", name).group(1))


def _differential_names() -> set[str]:
    """Query names an ``assert_query_matches`` test in tests/*.py runs,
    found statically (no Spark): the literal name argument, or the
    literal values the test parametrizes that argument over — inline or
    through a module-level list."""
    names: set[str] = set()
    for path in glob.glob(os.path.join(_TESTS, "*.py")):
        tree = ast.parse(open(path).read())
        lists = {
            t.id: node.value
            for node in tree.body
            if isinstance(node, ast.Assign)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            params = {}
            for dec in fn.decorator_list:
                if (
                    isinstance(dec, ast.Call)
                    and ast.unparse(dec.func) == "pytest.mark.parametrize"
                ):
                    values = dec.args[1]
                    if isinstance(values, ast.Name):
                        values = lists.get(values.id)
                    params[dec.args[0].value] = values
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Name)
                    and call.func.id == "assert_query_matches"
                ):
                    continue
                arg = call.args[1]
                if isinstance(arg, ast.Constant):
                    names.add(arg.value)
                elif isinstance(arg, ast.Name) and isinstance(
                    params.get(arg.id), (ast.List, ast.Tuple)
                ):
                    names |= {
                        e.value
                        for e in params[arg.id].elts
                        if isinstance(e, ast.Constant)
                    }
    return names


def test_every_oracle_has_a_query():
    assert set(ORACLE) == set(QUERIES)


def test_registry_is_in_query_number_order():
    numbers = [_number(q) for q in QUERIES]
    assert numbers == sorted(numbers)
    assert len(set(numbers)) == len(numbers), "duplicate query number"
    assert list(ORACLE) == list(QUERIES)


def test_every_query_has_an_in_suite_differential():
    missing = sorted(set(QUERIES) - _differential_names(), key=_number)
    assert not missing, (
        f"registered queries no assert_query_matches test runs: {missing}"
    )


def test_readme_counts_match_registry():
    # The README's registry claims have drifted twice (r6, r7); pin them
    # to the live registry so they cannot drift silently again.
    repo = os.path.dirname(_TESTS)
    readme = open(os.path.join(repo, "README.md")).read()
    m = re.search(r"V01-V(\d+): every verification query", readme)
    assert m, "README registry range line missing"
    assert f"v{m.group(1)}_" in " ".join(QUERIES), m.group(0)
    m = re.search(r"(\d+) of (\d+) queries have full value-hash oracles", readme)
    assert m, "README oracle-count line missing"
    assert int(m.group(2)) == len(QUERIES), (m.group(0), len(QUERIES))
    assert int(m.group(1)) == len(ORACLE), (m.group(0), len(ORACLE))
