"""Every package module is reachable from a runnable entry point.

A static ``ast`` walk of imports (module-level and function-local) from
the scripts that run the product: the driver contract
(``__spark_entry__.py``), the spark-submit job, the two bench scripts
and the ``perfbench`` harness. A module that only tests import is code
no run exercises; this test names it so it is wired into an entry
point or deleted. No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "autovalidate_backend_api_spark"
ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "spark_submit_job.py",
    ROOT / "bench.py",
    ROOT / "bench_scaling.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _module_file(name: str, script_dir: Path) -> Path | None:
    """The file a dotted module name loads, searched as a script would:
    its own directory first (``perfbench``'s sibling imports), then the
    repo root. None for third-party and stdlib modules."""
    parts = name.split(".")
    for base in (script_dir, ROOT):
        stem = base.joinpath(*parts)
        for f in (stem.with_suffix(".py"), stem / "__init__.py"):
            if f.is_file():
                return f
    return None


def _imported_names(tree: ast.AST) -> set[str]:
    """Every dotted name an import statement executes: each parent
    package, and for ``from a import b`` also ``a.b`` (kept only if it
    resolves to a module file)."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            names.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return names


def reached_files() -> set[Path]:
    seen: set[Path] = set()
    todo = [(p, p.parent) for p in ENTRY_POINTS]
    while todo:
        path, script_dir = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        tree = ast.parse(path.read_text(), filename=str(path))
        for name in _imported_names(tree):
            f = _module_file(name, script_dir)
            if f is not None and f not in seen:
                todo.append((f, script_dir))
    return seen


def unreached_modules() -> list[str]:
    reached = reached_files()
    return sorted(
        str(f.relative_to(ROOT))
        for f in (ROOT / PKG).rglob("*.py")
        if f not in reached
    )


def test_every_package_module_is_reachable_from_an_entry_point():
    assert all(p.is_file() for p in ENTRY_POINTS)
    assert len(ENTRY_POINTS) > 4  # perfbench/*.py was globbed
    missing = unreached_modules()
    assert not missing, (
        "package modules no entry point imports (wire one in or delete "
        "the module with its tests):\n  " + "\n  ".join(missing)
    )
