"""Static check: no module-level name is silently redefined.

A second module-level ``def``/``class`` with the same name replaces the
first, so the first never runs — for a test function, pytest collects
only the survivor and the shadowed test is lost without a trace. The
same happens when a module-level assignment rebinds a ``def``/``class``
name. Stdlib ``ast`` only: no linter is needed to run this.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("demo_apache_flink_streaming_mode_spark", "tests", "tools",
           "bench.py")


def _py_files() -> list[str]:
    out = []
    for entry in SCANNED:
        path = os.path.join(ROOT, entry)
        if path.endswith(".py"):
            out.append(path)
            continue
        for d, _dirs, files in os.walk(path):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def redefined_names(src: str) -> list[str]:
    """Module-level def/class names bound more than once by a def,
    class or assignment at module level, as "name (lines a, b)"."""
    defs: dict[str, list[int]] = {}
    assigned: dict[str, list[int]] = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            defs.setdefault(node.name, []).append(node.lineno)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        assigned.setdefault(n.id, []).append(node.lineno)
    hits = []
    for name, lines in sorted(defs.items()):
        lines = sorted(lines + assigned.get(name, []))
        if len(lines) > 1:
            hits.append(f"{name} (lines {', '.join(map(str, lines))})")
    return hits


def test_scan_covers_the_package_tests_and_tools():
    files = _py_files()
    rel = {os.path.relpath(f, ROOT) for f in files}
    assert "bench.py" in rel
    assert any(r.startswith("tools" + os.sep) for r in rel)
    assert os.path.join("tests", "test_static_names.py") in rel
    assert len(files) > 50


def test_redefinition_detector_flags_defs_and_assignments():
    src = ("def f(): pass\n"
           "def f(): pass\n"
           "class C: pass\n"
           "C = 1\n"
           "def g(): pass\n"
           "h = g\n")
    assert redefined_names(src) == ["C (lines 3, 4)", "f (lines 1, 2)"]


def test_no_module_level_redefinition():
    found = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            hits = redefined_names(fh.read())
        if hits:
            found[os.path.relpath(path, ROOT)] = hits
    assert not found, f"redefined at module level: {found}"
