"""The Python worker boundary: one wrapper for every Python entry point.

At the start of every task, pyspark's worker calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes each
``zipimport.zipimporter`` cached in ``sys.path_importer_cache`` re-read
its whole archive directory at once. A reused worker caches one importer
per zip path entry it has searched: the archive roots plus every package
directory inside them (``pyspark.zip/pyspark/sql/`` and so on), and Spark
also puts its core jar (about 5,400 entries) on the worker ``PYTHONPATH``.
Together that re-read costs about 0.2 s of CPU per task, before the first
batch arrives.

``python_task`` wraps a function handed to Spark (``mapInPandas``,
``applyInPandasWithState``, ``pandas_udf``) so that it first drops those
importers from the cache. A task can build new ones after that: the
first task on a fresh worker imports while it reads its first batch. So
when the function returns a generator (every ``mapInPandas`` and
``applyInPandasWithState`` site), the wrapper trims again once the
generator is exhausted. The next task's ``invalidate_caches()`` then
finds none to re-read. The cache is only a cache: Python builds a fresh
finder the next time an import searches that path entry (reusing
zipimport's directory cache, so without a re-read), and modules already
loaded keep their own loader.

This module imports nothing from pyspark, so unpickling a wrapped
function in a worker costs no extra import.
"""

from __future__ import annotations

import functools
import sys
import types
import zipimport


def trim_import_caches() -> None:
    """Drop every zip importer from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def _trim_when_done(gen):
    yield from gen
    trim_import_caches()


def python_task(fn):
    """Wrap a Spark Python entry point: trim the import cache, run
    ``fn``, and trim again once a generator it returns is exhausted.
    ``functools.wraps`` keeps the name and type hints, so plans show
    ``MapInPandas fn(...)`` and ``pandas_udf`` infers the same eval type
    as for ``fn`` itself."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        trim_import_caches()
        out = fn(*args, **kwargs)
        if isinstance(out, types.GeneratorType):
            return _trim_when_done(out)
        return out

    return wrapper
