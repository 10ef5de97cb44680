"""Layout guard (Spark-free): every module of the package is shipped.

A module is shipped when a non-test file imports it — the package itself,
the driver entry point, a job, a bench script or the perfbench harness —
or when it is a ``python -m`` entry point (an ``if __name__ ==
"__main__":`` block, as ``cli.py`` has). A module that only tests reach is
a second implementation nothing runs; it gets deleted, not kept.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opengin_ingestion_spark"


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_modules(path: str) -> set[str]:
    """Every dotted name an ``import`` statement in ``path`` may load:
    ``from a.b import c`` yields ``a.b`` and ``a.b.c`` (``c`` may be a
    submodule); relative imports resolve against the file's package."""
    tree = ast.parse(open(path).read(), path)
    pkg = _module_name(path)
    if not path.endswith("__init__.py"):
        pkg = pkg.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _is_main_entry(path: str) -> bool:
    for node in ast.parse(open(path).read(), path).body:
        if (
            isinstance(node, ast.If)
            and isinstance(node.test, ast.Compare)
            and isinstance(node.test.left, ast.Name)
            and node.test.left.id == "__name__"
            and any(
                isinstance(c, ast.Constant) and c.value == "__main__"
                for c in node.test.comparators
            )
        ):
            return True
    return False


def _shipping_files() -> list[str]:
    files = glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
    files += [os.path.join(ROOT, "__spark_entry__.py")]
    files += glob.glob(os.path.join(ROOT, "jobs", "*.py"))
    files += glob.glob(os.path.join(ROOT, "bench*.py"))
    files += glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    return files


def test_every_module_is_shipped():
    files = _shipping_files()
    imported_by: dict[str, set[str]] = {}
    for f in files:
        for mod in _imported_modules(f):
            imported_by.setdefault(mod, set()).add(_module_name(f))
    unshipped = []
    for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True):
        if path.endswith("__init__.py"):
            continue  # a package loads whenever any of its modules does
        mod = _module_name(path)
        if imported_by.get(mod, set()) - {mod} or _is_main_entry(path):
            continue
        unshipped.append(mod)
    assert not unshipped, (
        f"modules no shipped file imports and that are no entry point: "
        f"{sorted(unshipped)} — call them from the engine or delete them"
    )

