"""Source guard: every top-level function and class in the package has a
caller outside the test suite.

A name counts as called when its own module references it outside its
own body, or when any other non-test source does: the package, jobs/,
tools/, perfbench/, __spark_entry__.py and bench.py. A function that
only tests reach is dead code, a copy of one that stays, or a feature no
gate verifies."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "pdf_parser_spark"


def _non_test_sources() -> dict[str, str]:
    paths = [*PKG.rglob("*.py"), *(ROOT / "jobs").glob("*.py"),
             *(ROOT / "tools").glob("*.py"), *(ROOT / "perfbench").glob("*.py"),
             ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    return {str(p.relative_to(ROOT)): p.read_text() for p in paths}


def _references(node) -> set:
    """Every name ``node`` uses: bare names, attributes and imports."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _callerless(package: dict, sources: dict) -> list:
    """``module:name`` for each top-level def/class of a ``package``
    module that no source in ``sources`` references (in its own module,
    references inside its own body do not count)."""
    trees = {path: ast.parse(src) for path, src in sources.items()}
    used_elsewhere = {path: _references(tree) for path, tree in trees.items()}
    out = []
    for path in package:
        tree = trees[path]
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            own = set().union(*(_references(other) for other in tree.body
                                if other is not node))
            if node.name not in own and not any(
                    node.name in names for p, names in used_elsewhere.items()
                    if p != path):
                out.append(f"{path}:{node.name}")
    return out


def test_every_package_function_has_a_non_test_caller():
    sources = _non_test_sources()
    package = [p for p in sources if p.startswith("pdf_parser_spark/")]
    assert len(package) > 40
    missing = _callerless(package, sources)
    assert not missing, "no caller outside tests/:\n" + "\n".join(missing)


@pytest.mark.parametrize("module, other, flagged", [
    ("def f(): pass", "", ["f"]),
    ("class C: pass", "", ["C"]),
    ("def f(): return f()", "", ["f"]),
    ("def f(): pass\ndef g(): return f()", "", ["g"]),
    ("def f(): pass\nTABLE = {'f': f}", "", []),
    ("def f(): pass", "from pkg.m import f", []),
    ("def f(): pass", "import pkg.m as m\nm.f()", []),
    ("def f(): pass", "def f(): pass", ["f"]),
])
def test_guard_sees_a_callerless_function(module, other, flagged):
    sources = {"pkg/m.py": module, "jobs/other.py": other}
    assert _callerless(["pkg/m.py"], sources) == [f"pkg/m.py:{n}"
                                                  for n in flagged]
