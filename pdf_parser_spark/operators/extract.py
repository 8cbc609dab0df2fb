"""Vectorized layout extraction: the reference's per-page pipeline as an
Arrow-batched pandas core + a Spark ``mapInPandas`` operator.

The per-turn algorithm (tokenize -> separator -> classify -> reassemble ->
metadata; /root/reference/A003_colored_footer.py:282-326) is re-expressed
over *all turns of an Arrow batch at once*: Arrow compute kernels parse the
page records, pandas/NumPy column operations do the rest — no per-row
Python in the hot path (BASELINE.json:input_hint).
Semantics are defined by the single-process oracle
(pdf_parser_spark/oracle/extractor.py); ``tests/test_extract_golden.py``
asserts vectorized == oracle on every fixture archetype.

Scale design:

* extraction is turn-local -> embarrassingly parallel; no shuffle is needed
  for the map phase, so mega-conversation skew cannot serialize it
* the only Python<->JVM boundary is Arrow batch transport (mapInPandas)
* page tokenize parses on Arrow arrays: ``split_pattern`` cuts the batch's
  payloads into one flat record array in payload order (list parent
  indices give each record its turn), ``starts_with`` picks each record
  kind, one RE2 ``extract_regex`` per kind reads the fields of the shared
  grammar and ``cast`` makes them float64. G1 (span merge), the separator
  search and the colored-region counts are NumPy segment reductions over
  those flat arrays, whose records of one turn are consecutive
* RE2's ``\\d`` is ASCII-only and Python's is not, so a record RE2
  rejects that holds a non-ASCII character is re-read with the compiled
  Python pattern and ``float()``, as the oracle reads it; RE2 accepts a
  subset of what Python accepts, with the same groups
* each task pays a fixed Python worker cost before its first batch:
  pyspark re-validates the import caches, and every cached zip importer
  re-reads its archive (pyspark.zip, the Spark core jar), about 0.2 s of
  CPU. The ``run`` closures are wrapped in ``pyworker.python_task``,
  which drops those importers, so a reused worker skips the re-read at
  its next task
* per-turn error handling degrades to error rows, never fails the task
  (D1 semantics, A003:328-341)
* one batch-level degrade: ``_extract_variants`` splits a batch by tool
  once and runs the vectorized core for every requested variant; if the
  core raises on a pathological batch, every turn of the batch goes to the
  per-turn oracle ``extract_turn`` instead (slow but identical semantics).
  ``extract_batch`` and ``extract_batch_multi`` are thin merges over it.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pdf_parser_spark.operators.html import strip_html
from pdf_parser_spark.oracle.extractor import (
    DEFAULT_PAGE_H,
    DEFAULT_PAGE_W,
    VARIANTS,
    extract_turn,
)
from pdf_parser_spark.payload import (
    A000_KEEP_TYPES,
    LINE_PATTERN,
    PAGE_PATTERN,
    RECT_PATTERN,
    SPAN_PATTERN,
    salvage_text,
    stub_block_type,
    unescape_text,
)
from pdf_parser_spark.pyworker import python_task

PASSTHROUGH = ["conv_id", "turn_idx", "role", "tool", "ts"]
LAYOUT_FIELDS = [
    "page_number", "header", "footer", "left_column", "right_column",
    "page_width", "page_height", "column_separator_position", "metadata",
]

LAYOUT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    "page_number int, header string, footer string, "
    "left_column string, right_column string, "
    "page_width double, page_height double, "
    "column_separator_position double, metadata map<string,string>"
)

# Record grammar shared with the oracle parser (payload.py) — both sides
# accept exactly the same strict language, so tokenize-failure semantics
# match by construction (fuzz-tested in tests/test_fuzz.py).
_PAGE_RE = re.compile(PAGE_PATTERN)
_LINE_RE = re.compile(LINE_PATTERN)
_RECT_RE = re.compile(RECT_PATTERN)
_SPAN_RE = re.compile(SPAN_PATTERN)


def _error_frame(rids: np.ndarray, turn_idx: pd.Series, messages) -> pd.DataFrame:
    """D1 error rows (A003:328-341), vectorized; on zero rows, the empty
    layout frame."""
    n = len(rids)
    empty = np.full(n, "", dtype=object)
    return pd.DataFrame(
        {
            "rid": rids,
            "page_number": turn_idx.to_numpy() + 1,
            "header": empty,
            "footer": empty,
            "left_column": empty,
            "right_column": empty,
            "page_width": np.zeros(n),
            "page_height": np.zeros(n),
            "column_separator_position": np.full(n, np.nan),
            "metadata": pd.Series(
                [{"error": json.dumps(m, ensure_ascii=False)} for m in messages],
                dtype=object),
        }
    )


_GROUP_SENTINEL = "\x01"


def _segmented_join(texts: np.ndarray, seps: np.ndarray) -> list:
    """Concatenate ``seps[i] + texts[i]`` over the whole array in one C-level
    join, then split on the group sentinel — one output string per group.

    This replaces pandas ``groupby().agg(str.join)``, whose pure-Python
    per-group loop dominated profiles AND caused negative core-scaling
    (PyObject allocator churn saturates memory bandwidth when 32 workers
    run it concurrently). Cost here is O(total chars), allocation-light.
    The caller guarantees seps[0] == "" and marks group starts with
    ``_GROUP_SENTINEL``. A text that holds the sentinel itself splits into
    extra pieces; then the groups are joined one by one instead.
    """
    out = [None] * (2 * len(texts))
    out[0::2] = seps.tolist()
    out[1::2] = texts.tolist()
    joined = "".join(out).split(_GROUP_SENTINEL)
    starts = np.flatnonzero(seps == _GROUP_SENTINEL)
    if len(joined) == len(starts) + 1:
        return joined
    bounds = [0, *starts.tolist(), len(texts)]
    return ["".join(out[2 * a + 1:2 * b]) for a, b in zip(bounds[:-1], bounds[1:])]


def _reassemble_regions(blocks: pd.DataFrame) -> pd.DataFrame:
    """O1+O2+O3 vectorized: reading-order text per (rid, region).

    ``blocks`` columns: rid, region, x0, y0, x1, y1, text. Returns
    (rid, region, text) with line-grouped, x-ordered, newline-joined text —
    exactly oracle ``blocks_to_text`` (A003:246-280). The reference's
    running anchor updates on every block (both branches of A003:262-269),
    so new-line-iff-consecutive-center-gap>=10 is exact.
    """
    if blocks.empty:
        return pd.DataFrame({"rid": [], "region": [], "text": []})
    b = blocks.sort_values(["rid", "region", "y0", "x0"], kind="stable").reset_index(drop=True)
    cy = (b["y0"].to_numpy() + b["y1"].to_numpy()) / 2.0
    rid = b["rid"].to_numpy()
    reg = b["region"].to_numpy()
    new_group = np.ones(len(b), dtype=bool)
    if len(b) > 1:
        same = (rid[1:] == rid[:-1]) & (reg[1:] == reg[:-1])
        new_group[1:] = ~(same & (np.abs(cy[1:] - cy[:-1]) < 10.0))
    b["line_id"] = np.cumsum(new_group)
    return _join_line_groups(b)


def _join_line_groups(b: pd.DataFrame) -> pd.DataFrame:
    """O3 tail shared by the A003-family and A000 line groupings: sort
    members by x0 within each (rid, region, line_id), join spans with " ",
    lines with "\\n" — via the C-level segmented join."""
    b = b.sort_values(["rid", "region", "line_id", "x0"], kind="stable")

    rid2 = b["rid"].to_numpy()
    reg2 = b["region"].to_numpy()
    line2 = b["line_id"].to_numpy()
    texts = b["text"].to_numpy()
    n = len(b)
    new_region = np.ones(n, dtype=bool)
    new_line = np.ones(n, dtype=bool)
    if n > 1:
        new_region[1:] = (rid2[1:] != rid2[:-1]) | (reg2[1:] != reg2[:-1])
        new_line[1:] = line2[1:] != line2[:-1]
    seps = np.where(new_region, _GROUP_SENTINEL, np.where(new_line, "\n", " "))
    seps[0] = ""
    region_texts = _segmented_join(texts, seps)
    starts = np.flatnonzero(new_region)
    return pd.DataFrame(
        {"rid": rid2[starts], "region": reg2[starts], "text": region_texts})


_KW_RE_CACHE: dict = {}


def _kw_hit(lower_series: pd.Series, keywords: tuple) -> pd.Series:
    """Vectorized ``any(k in text for k in keywords)``. Empty keyword
    tuples hit nothing (an empty joined regex would match EVERY string)."""
    if not keywords:
        return pd.Series(False, index=lower_series.index)
    if keywords not in _KW_RE_CACHE:
        _KW_RE_CACHE[keywords] = "|".join(re.escape(k) for k in keywords)
    return lower_series.str.contains(_KW_RE_CACHE[keywords], regex=True)


def _has_digit(series: pd.Series) -> pd.Series:
    """Exact oracle semantics: ``any(c.isdigit() for c in text)``
    (A003:209). str.isdigit covers Numeric_Type=Digit characters (e.g.
    superscripts) that the regex class \\d does not, so a regex would
    diverge on Unicode digits. Applied only to footer-band candidates, so
    the per-row loop touches a small subset."""
    return series.map(lambda s: any(c.isdigit() for c in s))


def _grid_separator_closed_form(min_x1, max_x0, width):
    """O4 first-hit grid search (A003:146-153), closed form over arrays.

    The loop semantics — first ``c`` in ``range(int(0.3w), int(0.7w), 10)``
    with ``any(x1 < c)`` and ``any(x0 > c)`` — reduce exactly:
    ``any(x1 < c)`` iff ``min(x1) < c`` (monotone increasing in c), so the
    first qualifying c is the first grid point strictly above min(x1);
    ``any(x0 > c)`` iff ``max(x0) > c`` is monotone DEcreasing in c, so if
    that first c fails it, every later c does too. int() truncates toward
    zero like Python's.
    """
    a = np.trunc(width * 0.3).astype(np.int64)
    end = np.trunc(width * 0.7).astype(np.int64)
    k = np.where(min_x1 < a, 0, np.floor((min_x1 - a) / 10.0) + 1)
    c = a + 10 * k
    ok = (c < end) & (max_x0 > c) & ~np.isnan(min_x1)
    return np.where(ok, c.astype(float), width / 2.0)


def _named_pattern(pattern: str, names) -> str:
    """``pattern`` with its capturing groups named in order, as Arrow's
    ``extract_regex`` needs; ``(?:`` groups stay unnamed."""
    it = iter(names)
    return re.sub(r"\((?!\?)", lambda _m: f"(?P<{next(it)}>", pattern)


_REGEX_FIELDS = {
    _PAGE_RE: ("w", "h"),
    _LINE_RE: ("x1", "y1", "x2", "y2"),
    _RECT_RE: ("x0", "y0", "x1", "y1", "r", "g", "b"),
    _SPAN_RE: ("x0", "y0", "x1", "y1", "size", "font", "text"),
}
_STRING_FIELDS = frozenset(("font", "text"))  # every other field is a float
_ARROW_PATTERNS = {
    regex: _named_pattern(regex.pattern, fields)
    for regex, fields in _REGEX_FIELDS.items()
}
# The SPAN text group ``(.*)`` already runs to the end of a record (records
# hold no "\n"), so the closing ``$`` changes nothing but costs RE2 a quarter
# of its SPAN time
_ARROW_PATTERNS[_SPAN_RE] = _ARROW_PATTERNS[_SPAN_RE].removesuffix("$")


def _parse_records(recs: pa.Array, regex: re.Pattern):
    """Parse records of one kind against the shared grammar ``regex``.
    Returns ``(ok, columns)``: ``ok`` marks the records that match;
    ``columns`` maps each field of ``_REGEX_FIELDS[regex]`` to a numpy
    array, float64 (NaN where a record does not match) or object for the
    ``_STRING_FIELDS``.

    RE2 (``extract_regex``) parses every record. Its ``\\d`` is ASCII-only,
    while Python's also reads other Unicode decimal digits, and ``float()``
    converts them. On a record without "\\n", RE2 accepts a subset of what
    ``re`` accepts, with the same groups. So only a record that RE2
    rejects and that is not ASCII goes through the compiled Python pattern
    and ``float()``, the oracle's own reading."""
    fields = _REGEX_FIELDS[regex]
    m = pc.extract_regex(recs, _ARROW_PATTERNS[regex])
    ok = m.is_valid().to_numpy(zero_copy_only=False)
    cols = {}
    for i, name in enumerate(fields):
        field = pc.struct_field(m, [i])  # null where the record did not match
        if name not in _STRING_FIELDS:
            field = pc.cast(field, pa.float64())
        cols[name] = field.to_numpy(zero_copy_only=False)
    miss = np.flatnonzero(~ok)
    if miss.size:
        cols = {k: c if c.flags.writeable else c.copy() for k, c in cols.items()}
        non_ascii = ~pc.string_is_ascii(recs.take(miss)).to_numpy(zero_copy_only=False)
        for i in miss[non_ascii]:
            hit = regex.match(recs[i].as_py())
            if hit:
                ok[i] = True
                for name, g in zip(fields, hit.groups()):
                    cols[name][i] = g if name in _STRING_FIELDS else float(g)
    return ok, cols


def _group_starts(keys: np.ndarray) -> np.ndarray:
    """Start positions of the runs of equal consecutive ``keys``."""
    new = np.ones(len(keys), dtype=bool)
    new[1:] = keys[1:] != keys[:-1]
    return np.flatnonzero(new)


def _first_arg_extreme(values: np.ndarray, starts: np.ndarray, ufunc) -> np.ndarray:
    """Per-group ``ufunc`` (``np.minimum`` or ``np.maximum``) over the
    consecutive groups that begin at ``starts``, returning the position of
    each group's first element equal to it, as Python's ``min``/``max``
    and pandas' ``idxmax`` pick it. ``values`` hold no NaN: the grammar has
    no nan literal."""
    ext = ufunc.reduceat(values, starts)
    sizes = np.diff(np.append(starts, len(values)))
    pos = np.arange(len(values))
    first = np.where(values == np.repeat(ext, sizes), pos, len(values))
    return np.minimum.reduceat(first, starts)


def _first_extreme(values: np.ndarray, starts: np.ndarray, ufunc) -> np.ndarray:
    """The value at ``_first_arg_extreme``: a group of 0.0 then -0.0 gives
    0.0 under ``np.minimum``, as Python's ``min`` does (numpy alone gives
    -0.0)."""
    return values[_first_arg_extreme(values, starts, ufunc)]


def _merge_spans(rid, x0, y0, x1, y1, size, font, text) -> pd.DataFrame:
    """G1: consecutive spans of one rid sharing (y0, y1) become one
    line-block (text concatenated, union bbox, max size, first non-empty
    font), in payload order; blocks whose stripped text is empty drop (P2).
    The arrays are flat over the batch and already in payload order."""
    n = len(rid)
    new_grp = np.ones(n, dtype=bool)
    new_grp[1:] = ~((rid[1:] == rid[:-1]) & (y0[1:] == y0[:-1]) & (y1[1:] == y1[:-1]))
    starts = np.flatnonzero(new_grp)
    seps = np.where(new_grp, _GROUP_SENTINEL, "")
    seps[0] = ""
    joined = _segmented_join(text, seps)
    first_font = np.minimum.reduceat(
        np.where(font.astype(bool), np.arange(n), n), starts)
    cols = {
        "rid": rid[starts],
        "x0": _first_extreme(x0, starts, np.minimum),
        "y0": y0[starts],
        "x1": _first_extreme(x1, starts, np.maximum),
        "y1": y1[starts],
        "font_size": _first_extreme(size, starts, np.maximum),
        "text": np.array([t.strip() for t in joined], dtype=object),
        "font_name": np.where(first_font < n, font[np.minimum(first_font, n - 1)], ""),
    }
    nonempty = cols["text"] != ""
    return pd.DataFrame({k: c[nonempty] for k, c in cols.items()})


def _tokenize_stage(rows: pd.DataFrame):
    """Variant-INdependent half of the page pipeline: payload tokenize,
    block building, drawing scan, separator search, colored regions
    (A003 stages 3a-3b; classification thresholds do not enter until
    ``_classify_stage``). Returns ``(state, error_frames)`` where state is
    None when no row survived tokenization. Splitting here lets
    ``compare_extractors`` tokenize once and classify N times.

    Records are parsed on Arrow arrays: one split of the batch's payloads
    into a flat record array in payload order, ``starts_with`` per record
    kind and one ``extract_regex`` per kind (``_parse_records``). The
    per-page steps after it reduce the flat arrays with NumPy; the state
    they leave is pandas, as ``_classify_stage`` reads it."""
    out_parts = []
    if len(rows) == 0:
        return None, out_parts

    payloads = pa.array(rows["text"].to_numpy(), type=pa.string(), from_pandas=True)
    has_page = pc.fill_null(pc.starts_with(payloads, "PAGE "), False)
    has_page = has_page.to_numpy(zero_copy_only=False)
    if not has_page.all():
        bad = rows[~has_page]
        out_parts.append(
            _error_frame(
                bad["rid"].to_numpy(), bad["turn_idx"],
                ["payload has no PAGE header"] * len(bad),
            )
        )
        rows = rows[has_page]
        payloads = payloads.filter(pa.array(has_page))
    if rows.empty:
        return None, out_parts

    lists = pc.split_pattern(payloads, "\n")
    first = pc.list_element(lists, 0)
    _ok, header = _parse_records(first, _PAGE_RE)
    widths, heights = header["w"], header["h"]
    # non-finite / absurd dims ('1e999' overflows to inf) are malformed
    # headers on both sides — payload.py applies the identical bound
    bad_header = ~(np.abs(widths) <= 1e12) | ~(np.abs(heights) <= 1e12)
    if bad_header.any():
        bad_rows = rows[bad_header]
        msgs = [f"malformed PAGE header: {first[i].as_py()!r}"
                for i in np.flatnonzero(bad_header)]
        out_parts.append(_error_frame(bad_rows["rid"].to_numpy(), bad_rows["turn_idx"], msgs))
        good = ~bad_header
        rows, lists = rows[good], lists.filter(pa.array(good))
        widths, heights = widths[good], heights[good]
    if rows.empty:
        return None, out_parts

    rids = rows["rid"].to_numpy()
    n_pages = len(rids)
    dims = pd.DataFrame({"rid": rids, "w": widths, "h": heights})

    # --- the batch's records, flat and in payload order ---------------
    # ``*_page`` arrays hold each record's row position in ``rows``; they
    # never decrease, so each page's records are consecutive
    recs = pc.list_flatten(lists)
    rec_page = pc.list_parent_indices(lists).to_numpy()

    def kind(prefix, regex):
        mask = pc.starts_with(recs, prefix)
        kind_recs = recs.filter(mask)
        return (kind_recs, rec_page[mask.to_numpy(zero_copy_only=False)],
                *_parse_records(kind_recs, regex))

    def drawings(prefix, regex):
        # malformed LINE / RECT records are skipped (degraded drawing
        # scan); payload order alone drives first-max tie-breaks
        _recs, page, ok, cols = kind(prefix, regex)
        return page[ok], {f: c[ok] for f, c in cols.items()}

    vl_page, vl = drawings("LINE ", _LINE_RE)
    rc_page, rc = drawings("RECT ", _RECT_RE)

    # SPAN records: a malformed one fails the page's tokenize (S3 fallback)
    span_recs, span_page, ok, cols = kind("SPAN ", _SPAN_RE)
    tokfail = np.zeros(n_pages, dtype=bool)
    tokfail[span_page[~ok]] = True
    keep = ~tokfail[span_page]
    text = cols["text"]
    # a record without a backslash has nothing to unescape in its text (the
    # regex kernel finds a literal faster than ``match_substring`` does)
    has_escape = pc.match_substring_regex(span_recs, r"\\").to_numpy(zero_copy_only=False)
    for i in np.flatnonzero(has_escape & keep):
        text[i] = unescape_text(text[i])

    if keep.any():
        blocks = _merge_spans(rids[span_page[keep]], **{f: c[keep] for f, c in cols.items()})
    else:
        blocks = pd.DataFrame(
            columns=["rid", "x0", "y0", "x1", "y1", "font_size", "text", "font_name"]
        )

    # --- S3 fallback blocks for tokenize-failure pages ------------------
    fallback_blocks = []
    texts = rows["text"].to_numpy()
    for i in np.flatnonzero(tokfail):
        salvaged = salvage_text(texts[i]).strip()
        if salvaged:
            fallback_blocks.append(
                {"rid": rids[i], "x0": 0.0, "y0": 0.0, "x1": widths[i], "y1": heights[i],
                 "font_size": 12.0, "font_name": "Unknown", "text": salvaged}
            )
    if fallback_blocks:
        fb = pd.DataFrame(fallback_blocks)
        blocks = fb if blocks.empty else pd.concat([blocks, fb], ignore_index=True)

    # --- O4 grid-search separator (vectorized closed form) --------------
    # each page's blocks are consecutive (merged blocks in payload order,
    # then one fallback block per failed page)
    min_x1 = np.full(n_pages, np.nan)
    max_x0 = np.full(n_pages, np.nan)
    if len(blocks):
        b_page = pd.Index(rids).get_indexer(blocks["rid"].to_numpy())
        starts = _group_starts(b_page)
        min_x1[b_page[starts]] = np.minimum.reduceat(blocks["x1"].to_numpy(), starts)
        max_x0[b_page[starts]] = np.maximum.reduceat(blocks["x0"].to_numpy(), starts)
    sep = _grid_separator_closed_form(min_x1, max_x0, widths)

    # --- P1 vertical-line predicate + O5 best-line separator ------------
    w = widths[vl_page]
    with np.errstate(invalid="ignore"):  # inf - inf is NaN, as in Python
        length = np.abs(vl["y2"] - vl["y1"])
        vert = (np.abs(vl["x2"] - vl["x1"]) < 5) & (length > 100)
        center_ok = np.abs((vl["x1"] + vl["x2"]) / 2.0 - w / 2.0) < w * 0.3
    n_vlines = pd.Series(np.bincount(vl_page[vert], minlength=n_pages), index=rids)
    cand = np.flatnonzero(vert & center_ok)
    if cand.size:
        # first occurrence of the max length per page — matches the
        # strict `>` update in A003:130
        best = cand[_first_arg_extreme(length[cand], _group_starts(vl_page[cand]), np.maximum)]
        sep[vl_page[best]] = (vl["x1"][best] + vl["x2"][best]) / 2.0
    separators = dict(zip(rids.tolist(), sep.tolist()))

    # --- P3/P4 colored regions + semantic footer flag --------------------
    nonwhite = ~((rc["r"] == 1.0) & (rc["g"] == 1.0) & (rc["b"] == 1.0))
    n_colored = pd.Series(np.bincount(rc_page[nonwhite], minlength=n_pages), index=rids)
    in_footer = nonwhite & (rc["y0"] > heights[rc_page] * 0.5)
    footer_regions = pd.DataFrame(
        {"rid": rids[rc_page[in_footer]],
         **{f: rc[f][in_footer] for f in ("x0", "y0", "x1", "y1")}})

    dims_idx = dims.set_index("rid")
    state = {
        "rows": rows, "blocks": blocks, "dims": dims, "dims_idx": dims_idx,
        "dims_w": dims_idx["w"], "separators": separators, "n_vlines": n_vlines,
        "n_colored": n_colored, "footer_regions": footer_regions,
        # raw parsed LINE records: a000 re-filters proportionally
        "vl": pd.DataFrame({**vl, "rid": rids[vl_page]}),
    }
    return state, out_parts


def _classify_stage(state: dict, variant: str) -> pd.DataFrame:
    """Variant-dependent half: footer semantics + region classification +
    reassembly + metadata (A003 stages 3c-3e). Pure reader of ``state`` —
    every frame it derives is a fresh merge/copy, so N variants can share
    one tokenize."""
    cfg = VARIANTS[variant]
    if cfg.footer_mode == "line_extent":
        return _classify_stage_a000(state)
    rows = state["rows"]
    blocks = state["blocks"]
    dims = state["dims"]
    dims_idx = state["dims_idx"]
    dims_w = state["dims_w"]
    separators = state["separators"]
    n_vlines = state["n_vlines"]
    n_colored = state["n_colored"]
    footer_regions = state["footer_regions"]

    # --- C1/C2/C4 classification -----------------------------------------
    region_text = pd.DataFrame({"rid": [], "region": [], "text": []})
    region_counts = {}
    if len(blocks):
        bb = blocks.merge(dims, on="rid")  # one merge, reused below
        bb["sep"] = bb["rid"].map(separators)
        bb_cy = ((bb["y0"] + bb["y1"]) / 2.0).to_numpy()
        bb_cx = ((bb["x0"] + bb["x1"]) / 2.0).to_numpy()
        h_arr = bb["h"].to_numpy()
        in_band = bb_cy > h_arr * cfg.footer_frac

        has_footer = pd.Series(False, index=dims_idx.index)
        if cfg.footer_mode == "semantic" and in_band.any():
            joined = (
                bb.loc[in_band].groupby("rid", sort=False)["text"]
                .agg(" ".join).str.lower()
            )
            kw_hit = _kw_hit(joined, cfg.keywords)
            short_digit = (
                (joined.str.strip().str.len() < 50) & _has_digit(joined))
            hf = kw_hit | short_digit
            has_footer.loc[hf.index[hf.to_numpy()]] = True

        is_header = bb_cy < h_arr * cfg.header_frac

        if cfg.footer_mode == "band":
            is_footer = in_band
        elif cfg.footer_mode == "semantic":
            in_colored = np.zeros(len(bb), dtype=bool)
            if len(footer_regions):
                j = bb.reset_index().merge(
                    footer_regions[["rid", "x0", "y0", "x1", "y1"]],
                    on="rid", suffixes=("", "_f"),
                )
                contained = (
                    (j["x0"] >= j["x0_f"]) & (j["x1"] <= j["x1_f"])
                    & (j["y0"] >= j["y0_f"]) & (j["y1"] <= j["y1_f"])
                )
                hit_idx = j.loc[contained, "index"].unique()
                in_colored[hit_idx] = True
            hf_arr = bb["rid"].map(has_footer).to_numpy()
            is_footer = in_colored | (hf_arr & in_band)
        else:  # "keyword" (A004): per-block test, band candidates only
            is_footer = np.zeros(len(bb), dtype=bool)
            if in_band.any():
                sub = bb.loc[in_band, "text"]
                kw_hit = _kw_hit(sub.str.lower(), cfg.keywords).to_numpy()
                short_digit = (
                    (sub.str.strip().str.len() < 50).to_numpy()
                    & _has_digit(sub).to_numpy())
                is_footer[in_band] = kw_hit | short_digit

        region = np.where(
            is_header, "header",
            np.where(
                ~is_header & is_footer, "footer",
                np.where(bb_cx < bb["sep"].to_numpy(), "left_column", "right_column"),
            ),
        )
        bb["region"] = region
        region_text = _reassemble_regions(bb[["rid", "region", "x0", "y0", "x1", "y1", "text"]])
        region_counts = (
            bb.groupby(["rid", "region"], sort=False).size().unstack(fill_value=0)
        )

    # --- assemble one output row per rid ---------------------------------
    def build_metadata(aligned, total_blocks, reg_arrs):
        vln_arr = aligned(n_vlines)
        col_arr = aligned(n_colored)
        # page_rect uses float repr — exactly json.dumps' float formatting
        return [
            {
                "total_text_blocks": str(t),
                "header_blocks": str(hh),
                "footer_blocks": str(ff),
                "left_column_blocks": str(ll),
                "right_column_blocks": str(rr),
                "vertical_lines_detected": str(v),
                "colored_footer_regions": str(c),
                "has_footer": "true" if ff > 0 else "false",
                "page_rect": f"[0.0, 0.0, {float(w)!r}, {float(h)!r}]",
            }
            for t, hh, ff, ll, rr, v, c, w, h in zip(
                total_blocks, reg_arrs[0], reg_arrs[1], reg_arrs[2], reg_arrs[3],
                vln_arr, col_arr, dims["w"].to_numpy(), dims["h"].to_numpy())
        ]

    return _assemble_layout_rows(
        rows, region_text, blocks, dims, dims_idx, dims_w, separators,
        region_counts, build_metadata)


def _assemble_layout_rows(rows, region_text, blocks, dims, dims_idx, dims_w,
                          separators, region_counts, build_metadata) -> pd.DataFrame:
    """Shared per-rid row assembly for both classifier families: region
    text pivot, geometry columns, count alignment to the page set, and a
    metadata map from the variant-specific builder
    ``build_metadata(aligned, total_blocks, reg_arrs) -> list[dict]``
    (the only part where the A003 family and A000 differ)."""
    base = rows[["rid", "turn_idx"]].copy()
    piv = (
        region_text.pivot(index="rid", columns="region", values="text")
        if len(region_text)
        else pd.DataFrame()
    )
    for col in ("header", "footer", "left_column", "right_column"):
        vals = piv[col] if col in piv.columns else pd.Series(dtype=object)
        base[col] = base["rid"].map(vals).fillna("")
    base["page_width"] = base["rid"].map(dims_idx["w"])
    base["page_height"] = base["rid"].map(dims_idx["h"])
    base["column_separator_position"] = base["rid"].map(separators)
    base["page_number"] = base["turn_idx"].to_numpy() + 1

    def _aligned(series) -> np.ndarray:
        if len(series):
            return series.reindex(dims_w.index).fillna(0).astype(np.int64).to_numpy()
        return np.zeros(len(dims_w), dtype=np.int64)

    total_blocks = _aligned(
        blocks.groupby("rid", sort=False).size() if len(blocks) else pd.Series(dtype=np.int64))
    region_names = ("header", "footer", "left_column", "right_column")
    if len(region_counts):
        rc_full = region_counts.reindex(
            index=dims_w.index, columns=region_names, fill_value=0).fillna(0)
        reg_arrs = [rc_full[c].astype(np.int64).to_numpy() for c in region_names]
    else:
        reg_arrs = [np.zeros(len(dims_w), dtype=np.int64)] * 4
    metadata = build_metadata(_aligned, total_blocks, reg_arrs)
    meta_by_rid = pd.Series(metadata, index=dims["rid"].to_numpy())
    base["metadata"] = base["rid"].map(meta_by_rid)

    return base[["rid"] + LAYOUT_FIELDS]


def _reassemble_regions_a000(blocks: pd.DataFrame) -> pd.DataFrame:
    """A000's O2: running-max-y1 line grouping (A000:226-241), then the
    shared O3 join. The running max resets on line breaks, so unlike the
    A003 anchor it does NOT reduce to a consecutive difference — the
    group-id pass is a sequential scan over the batch's sorted block
    arrays (tens of blocks per page; same justification as the HTML
    tokenizer loop)."""
    if blocks.empty:
        return pd.DataFrame({"rid": [], "region": [], "text": []})
    b = blocks.sort_values(["rid", "region", "y0", "x0"], kind="stable").reset_index(drop=True)
    rid = b["rid"].to_numpy()
    reg = b["region"].to_numpy()
    y0a = b["y0"].to_numpy()
    y1a = b["y1"].to_numpy()
    n = len(b)
    line_id = np.empty(n, dtype=np.int64)
    cur = 0
    cur_max = -1.0
    for i in range(n):
        if i == 0 or rid[i] != rid[i - 1] or reg[i] != reg[i - 1]:
            cur += 1
            # oracle seeds cur_y_max = -1.0 then max()s the first block
            # (A000:230-232), so a first block with y1 < -1 keeps the
            # -1.0 floor; later line breaks reset to y1 exactly
            cur_max = max(-1.0, y1a[i])
        elif y0a[i] < cur_max + 10:
            if y1a[i] > cur_max:
                cur_max = y1a[i]
        else:
            cur += 1
            cur_max = y1a[i]
        line_id[i] = cur
    b["line_id"] = line_id
    return _join_line_groups(b)


def _classify_stage_a000(state: dict) -> pd.DataFrame:
    """A000's variant-dependent half (C3 line-extent classifier), on the
    deterministically stub-detected blocks — see the oracle twin's module
    comment (oracle/extractor.py) for the stub rationale and the exact
    A000 file:line ports. The P8 type filter (A000:80-82) runs first on
    the stub-assigned types: Table/Figure blocks never reach separator
    search, classification or the block counts (a local filtered copy —
    ``state`` is shared with the other variants in the fused fan-out)."""
    rows = state["rows"]
    blocks = state["blocks"]
    if len(blocks):
        blocks = blocks[
            blocks["text"].map(stub_block_type).isin(A000_KEEP_TYPES)]
    dims = state["dims"]
    dims_idx = state["dims_idx"]
    dims_w = state["dims_w"]
    vl = state["vl"]

    # --- proportional P1 (A000:116-126) + O5 best line with extents ------
    sep_line, hy_line, fy_line = {}, {}, {}
    n_vlines = pd.Series(dtype=np.int64)
    if len(vl):
        vm = vl.merge(dims, on="rid", how="left")
        keep = (np.abs(vm["x2"] - vm["x1"]) < vm["w"] * 0.01) & (
            np.abs(vm["y2"] - vm["y1"]) > vm["h"] * 0.2)
        vlf = vm[keep].copy()
        n_vlines = vlf.groupby("rid", sort=False).size()
        if len(vlf):
            vlf["length"] = np.abs(vlf["y2"] - vlf["y1"])
            center_ok = (
                np.abs((vlf["x1"] + vlf["x2"]) / 2.0 - vlf["w"] / 2.0)
                < vlf["w"] * 0.25
            )
            cand = vlf[center_ok]
            if len(cand):
                best = cand.loc[cand.groupby("rid", sort=False)["length"].idxmax()]
                sep_line = {r: float(v) for r, v in
                            zip(best["rid"], (best["x1"] + best["x2"]) / 2.0)}
                hy_line = {r: float(v) for r, v in zip(best["rid"], best["y1"])}
                fy_line = {r: float(v) for r, v in zip(best["rid"], best["y2"])}

    # --- A000 grid search, closed form (A000:167-181) --------------------
    # First c in range(int(0.3w), int(0.7w)+1, 5) with strictly more than
    # 10% of block centers on each side. count(cx < c) is nondecreasing and
    # count(cx > c) nonincreasing in c, so valid c form the open interval
    # (lo, hi) with lo = k-th smallest center, hi = k-th largest,
    # k = floor(0.1n)+1 (integer count > 0.1n). Answer = first grid point
    # > lo if it is also < hi and <= the inclusive end, else w/2.
    separators = dict(zip(dims_w.index, dims_w.to_numpy() / 2.0))
    if len(blocks):
        bb0 = blocks.merge(dims, on="rid")
        bb0["cx"] = (bb0["x0"] + bb0["x1"]) / 2.0
        s = bb0.sort_values(["rid", "cx"], kind="stable")
        pos = s.groupby("rid", sort=False).cumcount().to_numpy()
        sizes = s.groupby("rid", sort=False)["cx"].transform("size").to_numpy()
        k = np.floor(sizes * 0.1).astype(np.int64) + 1
        lo_rows = s[pos == k - 1]
        hi_rows = s[pos == sizes - k]
        grid = pd.DataFrame({
            "lo": lo_rows.set_index("rid")["cx"],
            "hi": hi_rows.set_index("rid")["cx"],
            "w": lo_rows.set_index("rid")["w"],
        }).dropna()
        a = np.trunc(grid["w"].to_numpy() * 0.3)
        end = np.trunc(grid["w"].to_numpy() * 0.7)
        lo = grid["lo"].to_numpy()
        hi = grid["hi"].to_numpy()
        i_min = np.where(lo < a, 0.0, np.floor((lo - a) / 5.0) + 1)
        c = a + 5.0 * i_min
        ok = (c <= end) & (c < hi)
        for rid_, c_, ok_ in zip(grid.index, c, ok):
            if ok_:
                separators[rid_] = float(c_)
    separators.update((r, float(v)) for r, v in sep_line.items())

    # --- C3 classification by block edges (A000:183-215) -----------------
    region_text = pd.DataFrame({"rid": [], "region": [], "text": []})
    region_counts = {}
    if len(blocks):
        bb = blocks.merge(dims, on="rid")
        bb["sep"] = bb["rid"].map(separators)
        h_arr = bb["h"].to_numpy()
        hy_arr = bb["rid"].map(hy_line).to_numpy(dtype=float)
        fy_arr = bb["rid"].map(fy_line).to_numpy(dtype=float)
        eff_header = np.where(np.isnan(hy_arr), h_arr * 0.15, hy_arr + 10)
        eff_footer = np.where(np.isnan(fy_arr), h_arr * 0.9, fy_arr - 10)
        bb_cx = ((bb["x0"] + bb["x1"]) / 2.0).to_numpy()
        is_header = bb["y1"].to_numpy() < eff_header
        is_footer = ~is_header & (bb["y0"].to_numpy() > eff_footer)
        region = np.where(
            is_header, "header",
            np.where(
                is_footer, "footer",
                np.where(bb_cx < bb["sep"].to_numpy(), "left_column", "right_column"),
            ),
        )
        bb["region"] = region
        region_text = _reassemble_regions_a000(
            bb[["rid", "region", "x0", "y0", "x1", "y1", "text"]])
        region_counts = (
            bb.groupby(["rid", "region"], sort=False).size().unstack(fill_value=0)
        )

    # --- assemble rows with A000's metadata keys (A000:270-281) ----------
    def build_metadata(aligned, total_blocks, reg_arrs):
        vln_arr = aligned(n_vlines)
        hy_vals = [hy_line.get(r) for r in dims_w.index]
        fy_vals = [fy_line.get(r) for r in dims_w.index]
        return [
            {
                "total_text_blocks_layoutlm": str(t),
                "header_blocks": str(hh),
                "footer_blocks": str(ff),
                "left_column_blocks": str(ll),
                "right_column_blocks": str(rr),
                "vertical_lines_detected_count": str(v),
                "page_rect": f"[0.0, 0.0, {float(w)!r}, {float(h)!r}]",
                "header_y_boundary": json.dumps(hy),
                "footer_y_boundary": json.dumps(fy),
            }
            for t, hh, ff, ll, rr, v, w, h, hy, fy in zip(
                total_blocks, reg_arrs[0], reg_arrs[1], reg_arrs[2], reg_arrs[3],
                vln_arr, dims["w"].to_numpy(), dims["h"].to_numpy(),
                hy_vals, fy_vals)
        ]

    return _assemble_layout_rows(
        rows, region_text, blocks, dims, dims_idx, dims_w, separators,
        region_counts, build_metadata)


_PAGE_RECT_JSON = json.dumps([0.0, 0.0, DEFAULT_PAGE_W, DEFAULT_PAGE_H])
_META_PLAIN_BLOCK = {
    "total_text_blocks": "1", "header_blocks": "0", "footer_blocks": "0",
    "left_column_blocks": "0", "right_column_blocks": "1",
    "vertical_lines_detected": "0", "colored_footer_regions": "0",
    "has_footer": "false", "page_rect": _PAGE_RECT_JSON,
}
_META_PLAIN_EMPTY = {
    "total_text_blocks": "0", "header_blocks": "0", "footer_blocks": "0",
    "left_column_blocks": "0", "right_column_blocks": "0",
    "vertical_lines_detected": "0", "colored_footer_regions": "0",
    "has_footer": "false", "page_rect": _PAGE_RECT_JSON,
}
_META_NULL_PAYLOAD = {"error": json.dumps("null payload")}
# A000's metadata keys for the same plain-fallback geometry. The separator
# stays w/2 for both families (n=1 block can never satisfy the
# 10%-each-side grid test), but A000's P8 filter drops the block when its
# stub type is Table/Figure, which leaves an empty page
_META_PLAIN_BLOCK_A000 = {
    "total_text_blocks_layoutlm": "1", "header_blocks": "0",
    "footer_blocks": "0", "left_column_blocks": "0",
    "right_column_blocks": "1", "vertical_lines_detected_count": "0",
    "page_rect": _PAGE_RECT_JSON,
    "header_y_boundary": "null", "footer_y_boundary": "null",
}
_META_PLAIN_EMPTY_A000 = {
    "total_text_blocks_layoutlm": "0", "header_blocks": "0",
    "footer_blocks": "0", "left_column_blocks": "0",
    "right_column_blocks": "0", "vertical_lines_detected_count": "0",
    "page_rect": _PAGE_RECT_JSON,
    "header_y_boundary": "null", "footer_y_boundary": "null",
}


def _extract_plain_rows(rows: pd.DataFrame, variant: str = "a003") -> pd.DataFrame:
    """tool='plain' (and unknown tools): the reference's get_text() fallback
    semantics — one whole-page block on a default 612x792 page
    (A003:94-108). Note the faithful quirk: the block's center_x equals the
    default separator w/2, and the classifier's strict `<` routes the text
    to right_column (A003:239-242). Fully vectorized; the possible
    metadata dicts are shared constants (read-only downstream). The a000
    variant differs in its metadata key set and in its P8 type filter,
    which drops a block typed Table/Figure (A000:80-82)."""
    a000 = VARIANTS[variant].footer_mode == "line_extent"
    n = len(rows)
    txt = rows["text"]
    is_null = txt.isna().to_numpy()
    stripped = txt.fillna("").str.strip()
    has_block = (~is_null) & (stripped != "").to_numpy()
    if a000 and has_block.any():
        has_block[has_block] = (
            stripped[has_block].map(stub_block_type).isin(A000_KEEP_TYPES).to_numpy())
    meta = np.empty(n, dtype=object)
    meta[:] = _META_PLAIN_EMPTY_A000 if a000 else _META_PLAIN_EMPTY
    meta[has_block] = _META_PLAIN_BLOCK_A000 if a000 else _META_PLAIN_BLOCK
    meta[is_null] = _META_NULL_PAYLOAD
    return pd.DataFrame(
        {
            "rid": rows["rid"].to_numpy(),
            "page_number": rows["turn_idx"].to_numpy() + 1,
            "header": [""] * n,
            "footer": [""] * n,
            "left_column": [""] * n,
            "right_column": np.where(has_block, stripped, ""),
            "page_width": np.where(is_null, 0.0, DEFAULT_PAGE_W),
            "page_height": np.where(is_null, 0.0, DEFAULT_PAGE_H),
            "column_separator_position": np.where(
                is_null, np.nan, DEFAULT_PAGE_W / 2),
            "metadata": meta,
        }
    )


def _rows_from_oracle(pairs) -> pd.DataFrame:
    recs = []
    for rid, lay in pairs:
        rec = {"rid": rid}
        rec.update(lay)
        sep = rec["column_separator_position"]
        rec["column_separator_position"] = np.nan if sep is None else sep
        recs.append(rec)
    return pd.DataFrame(recs, columns=["rid"] + LAYOUT_FIELDS)


def _extract_html_rows(rows: pd.DataFrame) -> pd.DataFrame:
    """tool='html/v1': DOM boilerplate stripping (north-rule addition).

    Each turn goes through the engine core ``operators/html.strip_html``
    (a stack parse per payload; ``tests/test_fuzz.py`` checks it equals
    the oracle's ``strip_boilerplate``). There is no page, so the geometry
    is fixed and ``right_column`` is always empty. A core exception is not
    caught here: it sends the whole batch to the per-turn oracle
    (``_extract_variants``)."""
    if rows.empty:
        return _error_frame(rows["rid"].to_numpy(), rows["turn_idx"], [])
    recs = []
    for rid, turn_idx, text in rows.itertuples(index=False):
        header, footer, main, _spans, metadata = strip_html(text)
        recs.append((rid, turn_idx + 1, header, footer, main, "",
                     0.0, 0.0, np.nan, metadata))
    return pd.DataFrame(recs, columns=["rid"] + LAYOUT_FIELDS)


def _split_tools(pdf: pd.DataFrame):
    """Number the batch's rows (``rid``) and split them by tool once:
    returns ``(pdf, page, html, plain)``, the last three with columns rid,
    turn_idx, text. A null or unknown tool counts as plain."""
    pdf = pdf.reset_index(drop=True)
    pdf["rid"] = np.arange(len(pdf), dtype=np.int64)
    rows = pdf[["rid", "turn_idx", "text"]]
    is_page = (pdf["tool"] == "page/v1").to_numpy()
    is_html = (pdf["tool"] == "html/v1").to_numpy()
    return pdf, rows[is_page], rows[is_html], rows[~(is_page | is_html)]


def _extract_variants(pdf: pd.DataFrame, variants) -> tuple:
    """The one batch driver: layout rows (columns rid + LAYOUT_FIELDS) of
    every turn of the batch, per variant. Page payloads are tokenized once
    and classified per variant; html rows are variant-independent and
    extracted once; plain rows carry variant-keyed metadata and the a000
    type filter, so they are per variant. If the vectorized core raises,
    every turn of the batch goes to the per-turn oracle for every variant
    (degrade-don't-fail at batch granularity). Returns ``(pdf, layouts)``
    with ``pdf`` rid-numbered and ``layouts`` a dict variant -> frame."""
    pdf, page, html, plain = _split_tools(pdf)
    try:
        state, errors = _tokenize_stage(page)
        html_rows = _extract_html_rows(html)
        layouts = {}
        for v in variants:
            parts = errors + [html_rows, _extract_plain_rows(plain, v)]
            if state is not None:
                parts.append(_classify_stage(state, v))
            layouts[v] = pd.concat(parts, ignore_index=True)
    except Exception:  # noqa: BLE001 — batch-level degrade: per-turn oracle
        turns = list(pdf[["rid", "turn_idx", "text", "tool"]].itertuples(index=False))
        layouts = {
            v: _rows_from_oracle(
                (rid, extract_turn(text, tool, int(turn_idx), v))
                for rid, turn_idx, text, tool in turns)
            for v in variants
        }
    return pdf, layouts


def extract_batch(pdf: pd.DataFrame, variant: str = "a003",
                  columns: list | None = None) -> pd.DataFrame:
    """Extract layouts for one Arrow batch of transcript rows.

    Input columns: conv_id, turn_idx, role, text, tool [, ts].
    Output: passthrough + LAYOUT_FIELDS, in input row order; ``columns``
    restricts the output (manual pruning — see ``extract_layouts``).
    """
    pdf, layouts = _extract_variants(pdf, (variant,))
    return _merge_layouts(pdf, layouts[variant], columns)


def _merge_layouts(pdf: pd.DataFrame, layouts: pd.DataFrame,
                   columns: list | None = None) -> pd.DataFrame:
    """Join layout rows back onto the batch's passthrough columns by rid,
    in input row order; ``columns`` restricts the output."""
    merged = pdf.drop(columns=["text"]).merge(layouts, on="rid").sort_values("rid")
    cols = columns or ([c for c in PASSTHROUGH if c in merged.columns] + LAYOUT_FIELDS)
    return merged[cols].reset_index(drop=True)


_LAYOUT_FIELD_DDL = {
    pair.split(" ", 1)[0]: pair.split(" ", 1)[1]
    for pair in LAYOUT_SCHEMA_DDL.split(", ")
}


def _output_schema(df, columns: list | None) -> str:
    """Output DDL adapted to the input: passthrough columns are
    '[, ts]'-optional (extract_batch emits only those present), so the
    declared schema must match or every task dies on a missing column.
    An explicit ``columns`` list is validated against what exists."""
    present = [c for c in PASSTHROUGH if c in df.columns]
    available = present + LAYOUT_FIELDS
    if columns is None:
        fields = available
    else:
        missing = [c for c in columns if c not in available]
        if missing:
            raise ValueError(
                f"extract_layouts: requested columns {missing} not "
                f"available (input has {present} + layout fields)")
        fields = columns
    return ", ".join(f"{c} {_LAYOUT_FIELD_DDL[c]}" for c in fields)


def extract_layouts(df, variant: str = "a003", columns: list | None = None):
    """Spark operator: transcripts DataFrame -> layouts DataFrame.

    One Arrow-batched ``mapInPandas`` pass; turn-local, shuffle-free. The
    stable turn-order invariant is enforced downstream by window ordering on
    (conv_id, turn_idx) — never by shuffle order (SURVEY.md section 4).

    ``columns`` restricts the output schema — Catalyst cannot prune
    projections *through* a MapInPandas barrier, so downstream-only
    consumers (reassembly wants just conv_id/turn_idx/left_column) pass
    the columns they need and the other fields never cross the Arrow
    boundary (the transfer is a measurable share of the map-phase cost
    at local parallelism).
    """

    @python_task
    def run(batches):
        for pdf in batches:
            yield extract_batch(pdf, variant, columns=columns)

    return df.mapInPandas(run, schema=_output_schema(df, columns))


BLOCKS_SCHEMA_DDL = (
    "conv_id string, turn_idx int, block_idx int, "
    "x0 double, y0 double, x1 double, y1 double, "
    "font_size double, font_name string, text string"
)


def blocks_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """The TextBlock relation for one Arrow batch: one row per merged
    line-block of each page/v1 turn (S2 tokenize + G1 merge + P2
    non-empty filter), the S3 fallback block for tokenize failures, zero
    rows for unparseable turns — exactly the reference's
    ``get_text_blocks`` protocol method
    (/root/reference/A003_colored_footer.py:66-110) exposed as a scan."""
    pdf, page_rows, _html, _plain = _split_tools(pdf)
    cols = ["conv_id", "turn_idx", "block_idx", "x0", "y0", "x1", "y1",
            "font_size", "font_name", "text"]
    state, _errs = _tokenize_stage(page_rows)
    if state is None or state["blocks"].empty:
        return pd.DataFrame(columns=cols).astype(
            {"turn_idx": np.int32, "block_idx": np.int32})
    blocks = state["blocks"].copy()
    # rows are already in payload order within each rid (span position
    # order; fallback blocks are each rid's only row)
    blocks["block_idx"] = blocks.groupby("rid", sort=False).cumcount()
    out = blocks.merge(pdf[["rid", "conv_id", "turn_idx"]], on="rid")
    return out[cols]


def extract_blocks(df) -> "DataFrame":
    """Spark operator: transcripts -> the TextBlock table. Turn-local,
    shuffle-free; the atomic tuple of the reference's dataflow
    (SURVEY.md section 1.1) as a first-class relation, so geometric
    predicates (P1-P5, S7 region clip) compose relationally."""

    @python_task
    def run(batches):
        for pdf in batches:
            yield blocks_batch(pdf)

    return df.mapInPandas(run, schema=BLOCKS_SCHEMA_DDL)


def clip_blocks(blocks, x0: float, y0: float, x1: float, y1: float):
    """S7 region text clip (/root/reference/A000_layoutlm_extractor.py:100-108)
    as a relational filter: blocks fully contained in the rect — the P5
    containment predicate (A003:224-230) lifted from page-local loop to
    DataFrame filter. Pushes down to the parquet scan when ``blocks`` is a
    materialized block table."""
    import pyspark.sql.functions as _F

    return blocks.filter(
        (_F.col("x0") >= x0) & (_F.col("x1") <= x1)
        & (_F.col("y0") >= y0) & (_F.col("y1") <= y1))


def extract_batch_multi(pdf: pd.DataFrame, variants) -> pd.DataFrame:
    """Multi-variant extraction for one Arrow batch (``_extract_variants``:
    page payloads tokenized once and classified per variant). Output is
    each variant's ``extract_batch`` rows in turn, plus ``extractor_name``."""
    pdf, layouts = _extract_variants(pdf, variants)
    return pd.concat(
        [_merge_layouts(pdf, layouts[v]).assign(extractor_name=v) for v in variants],
        ignore_index=True)


def extract_layouts_multi(df, variants=("a002", "a003", "a004")):
    """Spark operator: one scan + one MapInPandas emitting every variant's
    layouts tagged with ``extractor_name`` (the D4 fan-out without N input
    scans or N tokenizes)."""

    @python_task
    def run(batches):
        for pdf in batches:
            yield extract_batch_multi(pdf, variants)

    return df.mapInPandas(
        run, schema=_output_schema(df, None) + ", extractor_name string")
