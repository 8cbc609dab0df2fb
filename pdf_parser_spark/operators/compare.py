"""Extractor comparison fan-out D4 and registry dispatch D6.

D4 (/root/reference/pdf_layout_tester.py:325-365): run several extractor
variants over the same input and return one keyed result set — here a
union of the variant outputs tagged with ``extractor_name`` (the Spark
idiom for the reference's dict-of-results).

D6 (/root/reference/tests/extractor_config.py:33-96): the registry mapping
inputs to extractor implementations. In this engine dispatch happens on
the ``tool`` column inside the extraction UDF (page/v1 -> layout parser,
html/v1 -> boilerplate stripper, else plain fallback); this module holds
the variant registry for the layout parser itself.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame

from pdf_parser_spark.operators.extract import extract_layouts_multi
from pdf_parser_spark.oracle.extractor import VARIANTS

DEFAULT_VARIANT = "a003"  # EXTRACTOR_MAP default (extractor_config.py:45)


def get_variant(name: str | None) -> str:
    """Registry lookup with default (extractor_config.py:48-79)."""
    if name is None:
        return DEFAULT_VARIANT
    if name not in VARIANTS:
        raise KeyError(f"unknown extractor variant {name!r}; "
                       f"registered: {tuple(sorted(VARIANTS))}")
    return name


# D5 protocol contract (/root/reference/pdf_extractor_protocol.py:118-155):
# the reference asserts an extractor class exposes __init__/
# extract_page_layout/extract_all_pages/close as callables with the right
# arity. Our extractor equivalent is "a pure batch function
# pandas.DataFrame -> pandas.DataFrame" (SURVEY.md section 2.8); the
# required callables and their arities translate accordingly.
REQUIRED_CALLABLES = {
    # name -> minimum positional-parameter count (like validate_extractor's
    # inspect.signature arity checks at pdf_extractor_protocol.py:137-150)
    "extract_batch": 1,      # (pdf_batch[, variant])
    "extract_layouts": 1,    # (df[, variant])
}


def validate_extractor(module) -> list:
    """Full D5 protocol validation of an extractor implementation module
    (or any namespace object). Returns the list of validation errors —
    empty means conformant; raise-on-error is the caller's choice, same
    shape as the reference's boolean + printed issues."""
    errors = []
    for name, min_arity in REQUIRED_CALLABLES.items():
        fn = getattr(module, name, None)
        if fn is None:
            errors.append(f"missing required callable {name!r}")
            continue
        if not callable(fn):
            errors.append(f"{name!r} is not callable")
            continue
        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):
            continue  # builtins without signatures: accept, like the reference
        positional = [
            p for p in sig.parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        required = [p for p in positional if p.default is p.empty]
        if len(required) > min_arity:
            errors.append(
                f"{name!r} requires {len(required)} positional args, "
                f"protocol allows at most {min_arity}")
        if len(positional) < min_arity and not any(
                p.kind == p.VAR_POSITIONAL for p in sig.parameters.values()):
            errors.append(
                f"{name!r} accepts {len(positional)} positional args, "
                f"protocol needs {min_arity}")
    return errors


def compare_extractors(df: DataFrame, variants=("a002", "a003", "a004")) -> DataFrame:
    """Run each variant over the same turns; one tagged result set.

    Single-pass: ONE input scan and ONE tokenize feed all variants'
    classifications inside one MapInPandas (the reference's D4 harness
    also opens the document once and fans extractors out over the same
    pages, pdf_layout_tester.py:325-365)."""
    return extract_layouts_multi(df, variants=[get_variant(v) for v in variants])
