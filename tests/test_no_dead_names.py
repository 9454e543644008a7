"""Dead-name guard: every top-level function, class and assignment in the
package must be used somewhere — in the package itself, the tests, the
jobs, scripts, oracle, perfbench or the entry/bench scripts. A name whose
only occurrence is its own definition is dead code and should be deleted.

A use is a loaded name or an attribute access (``K.harmonize``), found
with ``ast``; imports, comments and docstrings do not count, and neither
does a reference from inside the definition's own body (recursion).

A second guard lists the names whose only uses are in ``tests/``: an
operator no job, script, oracle, benchmark or contract query calls is
either the only implementation of a SURVEY row, a helper a test needs
(codec inverses, registry cleanup), or a test-only variant to delete.
``TEST_ONLY`` names each kept one with its reason, so a new one is a
deliberate decision."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "timeseries_harmonizer_spark"
SEARCHED = [PACKAGE, ROOT / "tests", ROOT / "jobs", ROOT / "scripts",
            ROOT / "oracle", ROOT / "perfbench", ROOT / "__spark_entry__.py",
            ROOT / "bench.py", ROOT / "bench_extra.py"]
ALLOWED = {"__version__"}
TESTS = ROOT / "tests"
TEST_ONLY = {
    "functions/compression.py::encode_timestamps": "one-blob codec wrapper the round-trip tests use",
    "functions/compression.py::encode_floats": "one-blob codec wrapper the round-trip tests use",
    "functions/compression.py::decode_timestamps": "one-blob codec inverse the round-trip tests use",
    "functions/compression.py::decode_floats": "one-blob codec inverse the round-trip tests use",
    "functions/extract.py::month_floor_shift": "SURVEY S4, month-floored scan",
    "operators/cleaning.py::detect_reset_sessions": "SURVEY C7, detect_reset_clean",
    "operators/cleaning.py::composite_clean": "SURVEY C8/C9, composite post-clean",
    "operators/multimodal.py::encode_ppm": "codec inverse the image round-trip test needs",
    "operators/multimodal.py::encode_bmp": "codec inverse the image round-trip test needs",
    "operators/multimodal.py::encode_wav": "codec inverse the WAV round-trip test needs",
    "operators/multimodal.py::decode_wav": "the WAV codec, kept with its round-trip test",
    "operators/postprocess.py::unregister_postprocessor": "registry cleanup for tests that register a processor",
    "plans/formula.py::order_by_dependencies": "SURVEY F7, calculation priority levels",
    "plans/formula.py::harmonize_limits": "SURVEY J3/F9, compliance limits join",
    "plans/formula.py::get_timeseries_components": "SURVEY F8, formula leaf walk",
    "plans/pipeline.py::run_postprocessors": "SURVEY K4, processor plugin stage",
}


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


def _package_names_and_uses():
    """Each package definition as ("module::name", the places that use it
    outside its own body)."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}
    uses: dict[str, list] = {}
    for path, tree in trees.items():
        for name, line in _uses(tree):
            uses.setdefault(name, []).append((path, line))

    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for name, lo, hi in _definitions(tree):
            outside = [
                p for p, line in uses.get(name, [])
                if not (p == path and lo <= line <= hi)
            ]
            yield f"{path.relative_to(PACKAGE).as_posix()}::{name}", outside


def test_every_package_name_is_used():
    dead = [
        qual for qual, outside in _package_names_and_uses()
        if not outside and qual.split("::")[1] not in ALLOWED
    ]
    assert not dead, "defined but never used:\n  " + "\n  ".join(dead)


def test_test_only_names_are_listed():
    test_only = {
        qual for qual, outside in _package_names_and_uses()
        if outside and all(TESTS in p.parents for p in outside)
    }
    assert test_only == set(TEST_ONLY), (
        f"called only by tests but not in TEST_ONLY: {sorted(test_only - set(TEST_ONLY))}; "
        f"in TEST_ONLY but no longer test-only: {sorted(set(TEST_ONLY) - test_only)}"
    )
