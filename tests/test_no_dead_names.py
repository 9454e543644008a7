"""Dead-name guard: every top-level function, class and assignment in the
package must be used somewhere — in the package itself, the tests, the
jobs, scripts, oracle, perfbench or the entry/bench scripts. A name whose
only occurrence is its own definition is dead code and should be deleted.

A use is a loaded name or an attribute access (``K.harmonize``), found
with ``ast``; imports, comments and docstrings do not count, and neither
does a reference from inside the definition's own body (recursion)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "timeseries_harmonizer_spark"
SEARCHED = [PACKAGE, ROOT / "tests", ROOT / "jobs", ROOT / "scripts",
            ROOT / "oracle", ROOT / "perfbench", ROOT / "__spark_entry__.py",
            ROOT / "bench.py", ROOT / "bench_extra.py"]
ALLOWED = {"__version__"}


def _py_files():
    for p in SEARCHED:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _definitions(tree):
    """(name, first line, last line) of each module-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno, node.end_lineno


def _uses(tree):
    """(name, line) of each loaded name and attribute access."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno


def test_every_package_name_is_used():
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}
    uses: dict[str, list] = {}
    for path, tree in trees.items():
        for name, line in _uses(tree):
            uses.setdefault(name, []).append((path, line))

    dead = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for name, lo, hi in _definitions(tree):
            if name in ALLOWED:
                continue
            outside = [
                (p, line) for p, line in uses.get(name, [])
                if not (p == path and lo <= line <= hi)
            ]
            if not outside:
                dead.append(f"{path.relative_to(ROOT)}::{name}")
    assert not dead, "defined but never used:\n  " + "\n  ".join(dead)
