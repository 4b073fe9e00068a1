"""Every call of the public pipeline functions in the scripts that run
the product still binds to their signatures.

``bench.py``, ``bench_scaling.py`` and ``perfbench`` are frozen callers
that the test suite never runs, so a renamed or removed parameter of
``run_pipeline`` or ``incremental_update`` would break them unseen. This
test parses each call with ``ast`` and binds its positional count and
keyword names with ``inspect.signature``. No Spark needed.
"""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

import pytest

from autovalidate_backend_api_spark.plans.incremental import incremental_update
from autovalidate_backend_api_spark.plans.pipeline import run_pipeline

ROOT = Path(__file__).resolve().parent.parent
CALLERS = [
    ROOT / "bench.py",
    ROOT / "bench_scaling.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "__spark_entry__.py",
    ROOT / "spark_submit_job.py",
    ROOT / "autovalidate_backend_api_spark" / "entrypoints.py",
]
FUNCS = {f.__name__: f for f in (run_pipeline, incremental_update)}


def _trees(path: Path):
    """(first line, tree) of a script and of each program it holds as a
    string constant (``bench_scaling.py`` runs its trials from one, with
    %-format fields; a string that is not Python, a docstring say, is
    skipped)."""
    tree = ast.parse(path.read_text(), str(path))
    yield 1, tree
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and any(
            f"{name}(" in node.value for name in FUNCS
        ):
            try:
                yield node.lineno, ast.parse(re.sub(r"%\(\w+\)[rsd]", "0", node.value))
            except SyntaxError:
                pass


def _calls() -> list[tuple[str, str, ast.Call]]:
    """(file:line, name, call) for every call of a name in FUNCS."""
    found = []
    for path in CALLERS:
        for first, tree in _trees(path):
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in FUNCS:
                    where = f"{path.relative_to(ROOT)}:{first + node.lineno - 1}"
                    found.append((where, name, node))
    return found


CALLS = _calls()


def test_frozen_callers_are_found():
    files = {where.split(":")[0] for where, _, _ in CALLS}
    assert {"bench.py", "bench_scaling.py", "perfbench/workloads.py"} <= files
    assert {name for _, name, _ in CALLS} == set(FUNCS)


@pytest.mark.parametrize("where,name,call", CALLS, ids=[c[0] for c in CALLS])
def test_call_binds_to_signature(where, name, call):
    assert not any(isinstance(a, ast.Starred) for a in call.args), where
    assert all(k.arg is not None for k in call.keywords), where
    inspect.signature(FUNCS[name]).bind(
        *range(len(call.args)), **{k.arg: None for k in call.keywords}
    )
