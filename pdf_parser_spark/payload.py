"""Synthetic "page payload" format: the information content of a PDF page.

The reference engine reads pages through PyMuPDF:
``page.get_text("dict")`` yields a span tree (blocks -> lines -> spans with
bbox/size/font/text), ``page.get_drawings()`` yields vector lines and filled
rectangles, and ``page.rect`` yields the page geometry
(/root/reference/A003_colored_footer.py:38-110, :155-175).

This module defines a deterministic plain-text serialization of exactly that
information so the reimplemented tokenizer can reproduce the same inputs
without PDFs (see FIXTURES.md section 2):

    PAGE w=612.0 h=792.0
    LINE x1 y1 x2 y2                         # one vector line segment
    RECT x0 y0 x1 y1 fill=r,g,b              # one filled rectangle
    SPAN x0 y0 x1 y1 size=10.5 font=F1 text=...   # one text span

Consecutive SPAN records that share the same (y0, y1) belong to one visual
line (the analog of PyMuPDF's line grouping); the tokenizer merges them the
way the reference merges spans into line-blocks
(/root/reference/A003_colored_footer.py:71-93): text concatenated in record
order, font_size = max span size, font_name = first non-empty span font,
bbox = union of span bboxes.

Error semantics mirror the reference's two failure levels:

* A payload whose first record is not a valid ``PAGE`` header raises
  :class:`PayloadError` -> the caller emits an error row (the analog of
  ``extract_page_layout``'s outer try/except,
  /root/reference/A003_colored_footer.py:328-341).
* A malformed ``SPAN`` record raises :class:`TokenizeError` carrying the
  leniently salvaged page text -> the caller falls back to a single
  whole-page block with font_size 12.0 / font "Unknown" (the analog of the
  ``page.get_text()`` fallback, /root/reference/A003_colored_footer.py:94-108).
* Malformed ``LINE`` / ``RECT`` records are skipped (the reference wraps
  drawing enumeration in its own try/except and degrades to the partial
  list, /root/reference/A003_colored_footer.py:47-48,61-62).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

# --- A000 stub layout-detection types (the S6 stand-in) -------------------
# The reference's A000 sources block TYPES from a detectron2 PubLayNet
# model (/root/reference/A000_layoutlm_extractor.py:49-55,74) and keeps
# only type in ("Text","Title","List") — the P8 filter (A000:80-82). The
# container ships no torch, so detection is stubbed deterministically: a
# block's type derives from the md5 of its text, weighted so most blocks
# are body text but Table/Figure blocks EXIST and must be rejected by P8
# (an all-'Text' stub made the filter vacuous — a user porting a real
# model would have found it untested). Shared by the oracle extractor and
# the vectorized Spark core so both classify identically.
STUB_BLOCK_TYPES = ("Text",) * 8 + ("Title", "List", "Table", "Figure")
A000_KEEP_TYPES = frozenset(("Text", "Title", "List"))


def stub_block_type(text: str) -> str:
    """Deterministic S6 stand-in: md5-weighted type per block text."""
    h = int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)
    return STUB_BLOCK_TYPES[h % len(STUB_BLOCK_TYPES)]

# Strict record grammar, shared verbatim with the vectorized Spark
# tokenizer (operators/extract.py) so both parsers accept exactly the same
# language: single-space separators, finite canonical decimals (no
# nan/inf/hex/underscores). Any deviation is a malformed record — SPAN
# deviations fail the page's tokenize (S3 fallback), LINE/RECT deviations
# are skipped (degraded drawing scan), a PAGE-header deviation is a
# page-level error.
FLOAT_PATTERN = r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
PAGE_PATTERN = rf"^PAGE w=({FLOAT_PATTERN}) h=({FLOAT_PATTERN})$"
LINE_PATTERN = (
    rf"^LINE ({FLOAT_PATTERN}) ({FLOAT_PATTERN}) "
    rf"({FLOAT_PATTERN}) ({FLOAT_PATTERN})$")
RECT_PATTERN = (
    rf"^RECT ({FLOAT_PATTERN}) ({FLOAT_PATTERN}) "
    rf"({FLOAT_PATTERN}) ({FLOAT_PATTERN}) "
    rf"fill=({FLOAT_PATTERN}),({FLOAT_PATTERN}),({FLOAT_PATTERN})$")
SPAN_PATTERN = (
    rf"^SPAN ({FLOAT_PATTERN}) ({FLOAT_PATTERN}) "
    rf"({FLOAT_PATTERN}) ({FLOAT_PATTERN}) "
    rf"size=({FLOAT_PATTERN}) font=(.*?) text=(.*)$")

_PAGE_RE = re.compile(PAGE_PATTERN)
_LINE_RE = re.compile(LINE_PATTERN)
_RECT_RE = re.compile(RECT_PATTERN)
_SPAN_RE = re.compile(SPAN_PATTERN)


class PayloadError(Exception):
    """Page-level failure: the payload has no valid PAGE header."""


class TokenizeError(Exception):
    """Span-tree tokenize failure; carries salvaged plain text plus the page
    dims already parsed from the PAGE header (the reference reads page.rect
    before tokenizing, A003:286, so the fallback block spans the *real*
    page rect, A003:100-103) and the page's drawings — in the reference,
    ``get_drawings()`` is a separate call from text tokenization
    (A003:38,53 vs :71), so vector lines and filled rects survive a text
    tokenize failure and still drive separator detection and colored-footer
    classification."""

    def __init__(self, message: str, salvaged_text: str, width: float,
                 height: float, lines=(), rects=()):
        super().__init__(message)
        self.salvaged_text = salvaged_text
        self.width = width
        self.height = height
        self.lines = list(lines)
        self.rects = list(rects)


@dataclass
class Block:
    """One text line-block: the reference's TextBlock
    (/root/reference/A003_colored_footer.py:10-16)."""

    text: str
    x0: float
    y0: float
    x1: float
    y1: float
    font_size: float
    font_name: str


@dataclass
class ParsedPage:
    width: float
    height: float
    lines: list = field(default_factory=list)  # (x1, y1, x2, y2)
    rects: list = field(default_factory=list)  # (x0, y0, x1, y1, (r, g, b))
    blocks: list = field(default_factory=list)  # [Block]


def escape_text(text: str) -> str:
    return text.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")


def unescape_text(text: str) -> str:
    out = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "\\" and i + 1 < n:
            nxt = text[i + 1]
            if nxt == "n":
                out.append("\n")
                i += 2
                continue
            if nxt == "r":
                out.append("\r")
                i += 2
                continue
            if nxt == "\\":
                out.append("\\")
                i += 2
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def render_page(
    width: float,
    height: float,
    spans: list,
    lines: list = (),
    rects: list = (),
) -> str:
    """Serialize a page spec to the payload format.

    ``spans``: list of visual lines, each a list of span dicts
    ``{x0, y0, x1, y1, size, font, text}``; spans of one visual line share
    (y0, y1) and are emitted consecutively.
    ``lines``: (x1, y1, x2, y2) vector segments.
    ``rects``: (x0, y0, x1, y1, (r, g, b)) filled rectangles.
    """
    out = [f"PAGE w={width} h={height}"]
    for x1, y1, x2, y2 in lines:
        out.append(f"LINE {x1} {y1} {x2} {y2}")
    for x0, y0, x1, y1, fill in rects:
        r, g, b = fill
        out.append(f"RECT {x0} {y0} {x1} {y1} fill={r},{g},{b}")
    for visual_line in spans:
        for s in visual_line:
            out.append(
                f"SPAN {s['x0']} {s['y0']} {s['x1']} {s['y1']} "
                f"size={s['size']} font={s['font']} text={escape_text(s['text'])}"
            )
    return "\n".join(out)


def salvage_text(payload: str) -> str:
    """Lenient whole-page text recovery: every SPAN record's text= tail.

    The analog of ``page.get_text()`` — plain text without geometry
    (/root/reference/A003_colored_footer.py:98)."""
    parts = []
    for raw in payload.split("\n"):
        if raw.startswith("SPAN ") and " text=" in raw:
            parts.append(unescape_text(raw.split(" text=", 1)[1]))
    return "\n".join(parts)


def parse_payload(payload: str) -> ParsedPage:
    """Tokenize one payload into page geometry, drawings, and line-blocks."""
    if not isinstance(payload, str) or not payload.startswith("PAGE "):
        raise PayloadError("payload has no PAGE header")
    records = payload.split("\n")
    m = _PAGE_RE.match(records[0])
    if not m:
        raise PayloadError(f"malformed PAGE header: {records[0]!r}")
    width = float(m.group(1))
    height = float(m.group(2))
    # The grammar has no inf/nan literals, but '1e999' still overflows to
    # float inf; reject it (and absurd magnitudes whose int() grid bounds
    # would make the reference's range() loop astronomically long) as a
    # malformed header — same message, so the vectorized twin matches.
    if not (abs(width) <= 1e12 and abs(height) <= 1e12):  # NaN-safe
        raise PayloadError(f"malformed PAGE header: {records[0]!r}")

    page = ParsedPage(width=width, height=height)

    # Spans are accumulated as (x0, y0, x1, y1, size, font, text) tuples and
    # merged into line-blocks afterwards. Drawings are collected across the
    # WHOLE payload even if a SPAN fails mid-way (text tokenization and
    # drawing enumeration are independent scans in the reference).
    spans = []
    bad_span = None
    for raw in records[1:]:
        if raw.startswith("LINE "):
            m = _LINE_RE.match(raw)
            if not m:
                continue  # degraded drawing scan: skip bad record
            page.lines.append(tuple(float(v) for v in m.groups()))
        elif raw.startswith("RECT "):
            m = _RECT_RE.match(raw)
            if not m:
                continue
            g = [float(v) for v in m.groups()]
            page.rects.append((g[0], g[1], g[2], g[3], (g[4], g[5], g[6])))
        elif raw.startswith("SPAN ") and bad_span is None:
            m = _SPAN_RE.match(raw)
            if not m:
                bad_span = raw
                continue
            x0, y0, x1, y1, size = (float(v) for v in m.groups()[:5])
            spans.append((x0, y0, x1, y1, size, m.group(6),
                          unescape_text(m.group(7))))
        # Unknown record kinds (and empty lines) are ignored.
    if bad_span is not None:
        raise TokenizeError(
            f"malformed SPAN record: {bad_span[:80]!r}",
            salvage_text(payload),
            width,
            height,
            lines=page.lines,
            rects=page.rects,
        )

    # Merge consecutive spans sharing (y0, y1) into one line-block — the
    # analog of iterating line["spans"] in the reference
    # (/root/reference/A003_colored_footer.py:74-93).
    i, n = 0, len(spans)
    while i < n:
        j = i + 1
        while j < n and spans[j][1] == spans[i][1] and spans[j][3] == spans[i][3]:
            j += 1
        group = spans[i:j]
        text = "".join(s[6] for s in group)
        if text.strip():
            font_size = max(s[4] for s in group)
            font_name = next((s[5] for s in group if s[5]), "")
            page.blocks.append(
                Block(
                    text=text.strip(),
                    x0=min(s[0] for s in group),
                    y0=min(s[1] for s in group),
                    x1=max(s[2] for s in group),
                    y1=max(s[3] for s in group),
                    font_size=font_size,
                    font_name=font_name,
                )
            )
        i = j
    return page
