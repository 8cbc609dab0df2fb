"""The Python worker boundary (`pdf_parser_spark.pyworker`).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and each cached ``zipimporter`` then re-reads its archive
directory. `python_task` trims those importers at task entry and again
when a generator it returns is exhausted, so a reused worker has none to
re-read at the next task. These tests pin the
mechanism on a local zip (no Spark), show it running inside a Spark
worker, and guard that every Python entry point in the package is
wrapped."""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pdf_parser_spark.pyworker import python_task, trim_import_caches

PKG = pathlib.Path(__file__).resolve().parent.parent / "pdf_parser_spark"


def _zip_importers() -> int:
    return sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())


@pytest.fixture
def import_state():
    """Restore sys.path, sys.modules and the importer cache afterwards."""
    path, modules = list(sys.path), dict(sys.modules)
    cache = dict(sys.path_importer_cache)
    yield
    sys.path[:] = path
    for name in set(sys.modules) - set(modules):
        del sys.modules[name]
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)


@pytest.fixture
def archive(tmp_path, import_state):
    """A two-module zip at the front of sys.path."""
    path = tmp_path / "pyworker_probe.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyworker_probe_a.py", "VALUE = 'a'\n")
        zf.writestr("pyworker_probe_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, str(path))
    return path


def test_trim_stops_the_archive_reread(archive, monkeypatch):
    assert importlib.import_module("pyworker_probe_a").VALUE == "a"
    assert isinstance(sys.path_importer_cache[str(archive)],
                      zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    importlib.invalidate_caches()
    assert str(archive) in reads

    trim_import_caches()
    assert _zip_importers() == 0
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # a finder is rebuilt on demand, from zipimport's directory cache
    assert importlib.import_module("pyworker_probe_b").VALUE == "b"
    assert reads == []


def test_python_task_keeps_name_and_trims_first(archive):
    assert importlib.import_module("pyworker_probe_a").VALUE == "a"
    assert _zip_importers() >= 1
    seen = []

    @python_task
    def entry(x: pd.Series) -> pd.Series:
        """doc"""
        seen.append(_zip_importers())
        return x

    assert (entry.__name__, entry.__doc__) == ("entry", "doc")
    assert entry.__annotations__ == {"x": pd.Series, "return": pd.Series}
    assert entry(3) == 3 and seen == [0]


def test_trim_runs_in_the_worker(spark):
    # pyspark submodules the engine never imports: one of them is still
    # fresh in the worker, so importing it there needs a rebuilt finder
    fresh_candidates = (
        "pyspark.ml.linalg", "pyspark.mllib.linalg",
        "pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions",
        "pyspark.resource.requests", "pyspark.ml.param",
        "pyspark.mllib.common", "pyspark.ml.util")

    # everything the worker runs is local, so it is pickled by value (the
    # test module itself is not importable in the worker)
    def report(batches):
        import importlib
        import os
        import sys
        import zipimport

        def zip_importers():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        at_entry = zip_importers()
        at_batch = [zip_importers() for _ in batches][0]
        fresh = next(m for m in fresh_candidates if m not in sys.modules)
        importlib.import_module(fresh)
        zipped = ".zip" in (sys.modules["pyspark"].__file__ or "")
        yield pd.DataFrame({"pid": [os.getpid()], "at_entry": [at_entry],
                            "at_batch": [at_batch], "fresh": [fresh],
                            "zipped": [zipped],
                            "after_import": [zip_importers()]})

    job = spark.range(4).coalesce(1).mapInPandas(
        python_task(report), "pid long, at_entry long, at_batch long, "
        "fresh string, zipped boolean, after_import long")
    # idle workers are taken in turn, so run until one comes back
    rows = []
    while len(rows) < 64 and len({r.pid for r in rows}) == len(rows):
        rows.append(job.collect()[0])
    assert all(r.at_entry == 0 for r in rows)
    assert all(r.fresh in fresh_candidates for r in rows)
    # the first task of this job on a worker may import modules while it
    # reads its first batch; the same worker's next task imports nothing
    # more, so it reaches its batches with no zip importer cached
    assert rows[-1].pid in {r.pid for r in rows[:-1]}
    assert rows[-1].at_batch == 0
    if rows[0].zipped:
        # the worker's pyspark comes from a zip, so the import above built
        # zip importers again: the 0 at entry is the trim's doing
        assert all(r.after_import >= 1 for r in rows)


def test_next_task_finds_no_zip_importer(spark):
    """A wrapped task that builds zip importers while it runs, as the
    first task on a fresh worker does while it reads its first batch,
    leaves none behind: the unwrapped task that runs next on the same
    worker finds no zip importer at entry."""
    def builds_importers(batches):
        import importlib.util
        import os
        import sys
        import zipimport

        for _ in batches:
            pass
        # a miss searches every sys.path entry and caches a finder for
        # each: a zip importer for every archive on the worker's path
        importlib.util.find_spec("pyworker_probe_absent")
        yield pd.DataFrame({"pid": [os.getpid()], "zip_importers": [sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values())]})

    def reports(batches):
        import os
        import sys
        import zipimport

        at_entry = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "zip_importers": [at_entry]})

    one, schema = spark.range(4).coalesce(1), "pid long, zip_importers long"
    first = one.mapInPandas(python_task(builds_importers), schema).collect()[0]
    assert first.zip_importers >= 1
    # idle workers are taken in turn, so run until that worker comes back
    for _ in range(64):
        nxt = one.mapInPandas(reports, schema).collect()[0]
        if nxt.pid == first.pid:
            break
    assert nxt.pid == first.pid
    assert nxt.zip_importers == 0


def test_plan_names_survive_the_wrapper(spark):
    from pdf_parser_spark.corpus.textstats import quality_filter_keep
    from pdf_parser_spark.operators.extract import extract_layouts

    turns = spark.createDataFrame(
        [("c", 0, "user", "plain/v1", None, "hi")],
        "conv_id string, turn_idx int, role string, tool string, "
        "ts timestamp, text string")
    docs = spark.createDataFrame([(1, "the cat sat on the mat")],
                                 "doc_id long, text string")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "MapInPandas run(" in plan(extract_layouts(turns))
    keep = plan(quality_filter_keep(docs))
    assert "ArrowEvalPython [rep_ints_udf(" in keep


# -- source guard: no Python entry point escapes python_task --------------

_TAKES_FUNCTION = {"mapInPandas", "mapInArrow", "applyInPandas",
                   "applyInPandasWithState", "applyInArrow"}
_UDF_DECORATORS = {"pandas_udf", "udf"}


def _name(node) -> str | None:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _entry_point_escapes(tree) -> list:
    """(line, what) for every function handed to Spark unwrapped."""
    defs = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.setdefault(node.name, []).append(node)

    def wrapped(fn) -> bool:
        return any(_name(d) == "python_task" for d in fn.decorator_list)

    out = []
    for node in ast.walk(tree):
        # df.mapInPandas(fn, ...), and pandas_udf(fn, ...) called directly
        # (as a decorator factory its first argument is the return type)
        if (isinstance(node, ast.Call) and node.args
                and (_name(node) in _TAKES_FUNCTION
                     and isinstance(node.func, ast.Attribute)
                     or _name(node) in _UDF_DECORATORS
                     and isinstance(node.args[0], (ast.Name, ast.Lambda)))):
            arg = node.args[0]
            if isinstance(arg, ast.Call) and _name(arg) == "python_task":
                continue
            targets = defs.get(arg.id, []) if isinstance(arg, ast.Name) else []
            if not targets or not all(wrapped(fn) for fn in targets):
                out.append((node.lineno, f"{_name(node)}({ast.unparse(arg)})"))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = [_name(d) for d in node.decorator_list]
            udf = [i for i, n in enumerate(names) if n in _UDF_DECORATORS]
            # python_task must sit below the udf decorator: it wraps the
            # function that Spark calls
            if udf and "python_task" not in names[udf[0] + 1:]:
                out.append((node.lineno, f"@{names[udf[0]]} {node.name}"))
    return out


def test_every_entry_point_is_wrapped():
    escapes, sites = {}, 0
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        sites += src.count("@python_task")
        bad = _entry_point_escapes(ast.parse(src))
        if bad:
            escapes[str(path.relative_to(PKG))] = bad
    assert escapes == {}
    assert sites >= 13


@pytest.mark.parametrize("src, escapes", [
    ("def f(it): yield from it\ndf.mapInPandas(f, 's')", 1),
    ("@python_task\ndef f(it): yield from it\ndf.mapInPandas(f, 's')", 0),
    ("df.mapInPandas(python_task(f), 's')", 0),
    ("df.mapInPandas(lambda it: it, 's')", 1),
    ("g.applyInPandasWithState(imported_fn, 'a', 'b', 'update', t)", 1),
    ("@pandas_udf('long')\ndef u(s): return s", 1),
    ("@python_task\n@pandas_udf('long')\ndef u(s): return s", 1),
    ("@pandas_udf('long')\n@python_task\ndef u(s): return s", 0),
    ("u = pandas_udf(f, 'long')", 1),
    ("u = F.udf(lambda s: s, 'long')", 1),
    ("u = pandas_udf(python_task(f), 'long')", 0),
])
def test_guard_sees_an_unwrapped_entry_point(src, escapes):
    assert len(_entry_point_escapes(ast.parse(src))) == escapes
