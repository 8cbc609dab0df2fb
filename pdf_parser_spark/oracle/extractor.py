"""Single-process oracle extractor: the reference's per-page algorithm.

This is the golden generator and unit-test subject (SURVEY.md section 5): a
pure-Python, per-turn reimplementation of the reference's canonical
``PDFColumnExtractor`` (/root/reference/A003_colored_footer.py — the tested
default per /root/reference/tests/extractor_config.py:33-45), plus the A002
and A004 classifier variants. The Spark pipeline's vectorized core must equal
this function on every fixture; the pytest golden gate compares them under
the reference's snapshot normalization
(/root/reference/pdf_extractor_protocol.py:158-193).

Thresholds are ported exactly:

* vertical-line predicate: |x2-x1| < 5 and |y2-y1| > 100 (A003:45)
* best separator line: center distance < 0.30*w, max |y2-y1| (A003:125-135)
* grid search: range(int(0.3w), int(0.7w), 10), first x with blocks strictly
  on both sides (x1 < sx and x0 > sx), else w/2 (A003:146-153)
* header: center_y < 0.15*h strict (A003:181,233; A002 same; A004 uses 0.10)
* colored footer: fill != (1,1,1) rect with y0 > 0.5*h, block bbox fully
  contained (A003:166,190,224-230)
* semantic footer: blocks with center_y > 0.95*h whose joined lowercase text
  contains a keyword, or is < 50 chars with a digit (A003:195-210)
* line grouping: after sort by (y0, x0), a new line starts when the running
  |center_y - prev_center_y| >= 10; the anchor updates to every block's
  center, i.e. consecutive-difference sessionization (A003:254-272)
* within-line order by x0, spans joined " ", lines joined "\n" (A003:274-280)
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pdf_parser_spark.oracle.boilerplate import strip_boilerplate
from pdf_parser_spark.payload import (
    A000_KEEP_TYPES,
    Block,
    ParsedPage,
    PayloadError,
    TokenizeError,
    parse_payload,
    stub_block_type,
)

# Keyword lists verbatim from the reference.
A003_FOOTER_KEYWORDS = [
    "page", "copyright", "©", "®", "www.", ".com", ".org",
    "all rights reserved", "confidential",
]  # /root/reference/A003_colored_footer.py:204-205
A004_FOOTER_KEYWORDS = [
    "page", "copyright", "©", "www.", ".com", ".org",
    "all rights reserved", "vision ias",
]  # /root/reference/A004_Vision_2025.py:163-164

DEFAULT_PAGE_W = 612.0
DEFAULT_PAGE_H = 792.0


@dataclass(frozen=True)
class VariantConfig:
    """Parameterization of the three heuristic classifiers.

    footer_mode:
      * "band"     — A002: center_y > footer_frac*h
        (/root/reference/A002_header_footer_2_col.py:158-176)
      * "semantic" — A003: colored-region containment OR page-level
        has_footer flag at center_y > footer_frac*h (A003:177-242)
      * "keyword"  — A004: per-block keyword/short-digit test at
        center_y > footer_frac*h (/root/reference/A004_Vision_2025.py:152-197)
    """

    name: str
    header_frac: float
    footer_frac: float
    footer_mode: str
    keywords: tuple


VARIANTS = {
    "a000": VariantConfig("a000", 0.15, 0.90, "line_extent", ()),
    "a002": VariantConfig("a002", 0.15, 0.90, "band", ()),
    "a003": VariantConfig("a003", 0.15, 0.95, "semantic", tuple(A003_FOOTER_KEYWORDS)),
    "a004": VariantConfig("a004", 0.10, 0.95, "keyword", tuple(A004_FOOTER_KEYWORDS)),
}


def _vertical_lines(page: ParsedPage):
    """P1: vertical-line predicate (A003:42-46)."""
    return [
        (x1, y1, x2, y2)
        for (x1, y1, x2, y2) in page.lines
        if abs(x2 - x1) < 5 and abs(y2 - y1) > 100
    ]


def find_column_separator(page: ParsedPage, blocks: list) -> float:
    """O4/O5: best vertical line, else first-hit grid search, else w/2
    (A003:112-153)."""
    width = page.width
    vlines = _vertical_lines(page)
    if vlines:
        center_x = width / 2
        best, best_length = None, 0
        for x1, y1, x2, y2 in vlines:
            length = abs(y2 - y1)
            if abs((x1 + x2) / 2 - center_x) < width * 0.3 and length > best_length:
                best, best_length = (x1, y1, x2, y2), length
        if best:
            return (best[0] + best[2]) / 2

    if not blocks:
        return width / 2

    for sep_x in range(int(width * 0.3), int(width * 0.7), 10):
        left = sum(1 for b in blocks if b.x1 < sep_x)
        right = sum(1 for b in blocks if b.x0 > sep_x)
        if left > 0 and right > 0:
            return float(sep_x)
    return width / 2


# --- A000 variant (C3 line-extent classifier, no ML dependency) ----------
#
# The reference's A000 sources blocks from a detectron2 layout model
# (S5/S6, /root/reference/A000_layoutlm_extractor.py:59-98) — torch is
# absent and the path untested, so block DETECTION is stubbed
# deterministically with the native tokenized blocks (the same stand-in
# shape as corpus/multimodal.py's codec stub: real dataflow, stubbed
# model). Everything downstream of detection is the reference's own
# heuristic code, ported exactly:
#
# * proportional vertical-line predicate: |x1-x0| < 0.01*w and
#   |y1-y0| > 0.2*h (A000:116-126)
# * best-line window 0.25*w, returns the line's (y0, y1) extent
#   (A000:141-161)
# * grid search: range(int(0.3w), int(0.7w)+1, 5), CENTER-based counts,
#   both sides > 10% of blocks (A000:167-181); centers equal to the
#   candidate count on neither side
# * classify by block EDGES against line-extent bounds: header iff
#   y1 < line_y0+10 (else 0.15h), footer iff y0 > line_y1-10 (else 0.9h)
#   (A000:183-215)
# * line grouping by running max-y1: a block joins the current line iff
#   y0 < current_line_y_max + 10 (A000:226-241)
# * metadata keys per A000:270-281 (no has_footer / colored_footer keys)


def _vertical_lines_a000(page: ParsedPage):
    """A000's proportional P1 (A000:116-126)."""
    return [
        (x1, y1, x2, y2)
        for (x1, y1, x2, y2) in page.lines
        if abs(x2 - x1) < page.width * 0.01 and abs(y2 - y1) > page.height * 0.2
    ]


def find_column_separator_a000(page: ParsedPage, blocks: list):
    """A000 separator search; returns (separator_x, line_y0, line_y1)
    (A000:127-181)."""
    width = page.width
    separator_x = width / 2
    vlines = _vertical_lines_a000(page)
    if vlines:
        center_x = width / 2
        best, best_length = None, 0.0
        for x1, y1, x2, y2 in vlines:
            length = abs(y2 - y1)
            if abs((x1 + x2) / 2 - center_x) < width * 0.25 and length > best_length:
                best, best_length = (x1, y1, x2, y2), length
        if best:
            return (best[0] + best[2]) / 2, best[1], best[3]

    if not blocks:
        return width / 2, None, None

    n = len(blocks)
    for sep_x in range(int(width * 0.3), int(width * 0.7) + 1, 5):
        left = sum(1 for b in blocks if (b.x0 + b.x1) / 2 < sep_x)
        right = sum(1 for b in blocks if (b.x0 + b.x1) / 2 > sep_x)
        if left > n * 0.1 and right > n * 0.1:
            separator_x = float(sep_x)
            break
    return separator_x, None, None


def classify_regions_a000(blocks: list, height: float, separator_x: float,
                          header_y_max, footer_y_min) -> dict:
    """C3: block-EDGE classification against line-extent bounds
    (A000:183-215)."""
    eff_header = header_y_max + 10 if header_y_max is not None else height * 0.15
    eff_footer = footer_y_min - 10 if footer_y_min is not None else height * 0.9
    regions = {"header": [], "footer": [], "left_column": [], "right_column": []}
    for b in blocks:
        if b.y1 < eff_header:
            regions["header"].append(b)
        elif b.y0 > eff_footer:
            regions["footer"].append(b)
        elif (b.x0 + b.x1) / 2 < separator_x:
            regions["left_column"].append(b)
        else:
            regions["right_column"].append(b)
    return regions


def blocks_to_text_a000(blocks: list) -> str:
    """A000's O2: running-max-y1 line grouping (A000:217-248)."""
    if not blocks:
        return ""
    ordered = sorted(blocks, key=lambda b: (b.y0, b.x0))
    lines, current, cur_y_max = [], [], -1.0
    for b in ordered:
        if not current or b.y0 < cur_y_max + 10:
            current.append(b)
            cur_y_max = max(cur_y_max, b.y1)
        else:
            lines.append(current)
            current = [b]
            cur_y_max = b.y1
    if current:
        lines.append(current)
    return "\n".join(
        " ".join(b.text for b in sorted(line, key=lambda b: b.x0)) for line in lines
    )


def _extract_turn_a000(page: ParsedPage, blocks: list, turn_idx: int) -> dict:
    """A000's extract_page_layout on stub-detected blocks (A000:250-293).
    Unlike A003's, the reference A000 has NO per-page error wrapper; our
    engine still degrades per turn (the caller's try/except) because a
    failing Spark task would violate resume accounting (D1 rationale).

    Detection assigns each block a deterministic stub type and the P8
    filter (A000:80-82) rejects non-Text/Title/List blocks BEFORE
    separator search / classification / counts — matching the reference,
    where get_text_blocks returns only the filtered model regions."""
    blocks = [b for b in blocks if stub_block_type(b.text) in A000_KEEP_TYPES]
    separator_x, line_y0, line_y1 = find_column_separator_a000(page, blocks)
    regions = classify_regions_a000(
        blocks, page.height, separator_x, line_y0, line_y1)
    metadata = {
        "total_text_blocks_layoutlm": _meta(len(blocks)),
        "header_blocks": _meta(len(regions["header"])),
        "footer_blocks": _meta(len(regions["footer"])),
        "left_column_blocks": _meta(len(regions["left_column"])),
        "right_column_blocks": _meta(len(regions["right_column"])),
        "vertical_lines_detected_count": _meta(len(_vertical_lines_a000(page))),
        "page_rect": _meta([0.0, 0.0, page.width, page.height]),
        "header_y_boundary": _meta(line_y0),
        "footer_y_boundary": _meta(line_y1),
    }
    return {
        "page_number": turn_idx + 1,
        "header": blocks_to_text_a000(regions["header"]),
        "footer": blocks_to_text_a000(regions["footer"]),
        "left_column": blocks_to_text_a000(regions["left_column"]),
        "right_column": blocks_to_text_a000(regions["right_column"]),
        "page_width": page.width,
        "page_height": page.height,
        "column_separator_position": separator_x,
        "metadata": metadata,
    }


def _colored_regions(page: ParsedPage):
    """P3: non-white filled rects (A003:160-171)."""
    return [
        (x0, y0, x1, y1)
        for (x0, y0, x1, y1, fill) in page.rects
        if fill and tuple(fill) != (1.0, 1.0, 1.0)
    ]


def classify_regions(
    page: ParsedPage, blocks: list, separator_x: float, variant: VariantConfig
) -> dict:
    """C1/C2/C4: 4-way region CASE (A003:177-244; A002:152-184; A004:173-197)."""
    height = page.height
    header_threshold = height * variant.header_frac
    footer_threshold = height * variant.footer_frac

    footer_regions = []
    has_footer = False
    if variant.footer_mode == "semantic":
        footer_regions = [
            r for r in _colored_regions(page) if r[1] > height * 0.5
        ]  # P4: bottom-half colored regions (A003:188-191)
        potential = [b for b in blocks if (b.y0 + b.y1) / 2 > footer_threshold]
        if potential:
            footer_text = " ".join(b.text for b in potential).lower()
            if any(k in footer_text for k in variant.keywords):
                has_footer = True
            elif len(footer_text.strip()) < 50 and any(c.isdigit() for c in footer_text):
                has_footer = True

    regions = {"header": [], "footer": [], "left_column": [], "right_column": []}
    for b in blocks:
        center_y = (b.y0 + b.y1) / 2
        center_x = (b.x0 + b.x1) / 2
        if center_y < header_threshold:
            regions["header"].append(b)
            continue
        is_footer = False
        if variant.footer_mode == "band":
            is_footer = center_y > footer_threshold
        elif variant.footer_mode == "semantic":
            in_colored = any(
                b.x0 >= fx0 and b.x1 <= fx1 and b.y0 >= fy0 and b.y1 <= fy1
                for (fx0, fy0, fx1, fy1) in footer_regions
            )  # P5 containment (A003:224-230)
            is_footer = in_colored or (has_footer and center_y > footer_threshold)
        elif variant.footer_mode == "keyword":
            if center_y > footer_threshold:
                low = b.text.lower()
                if any(k in low for k in variant.keywords):
                    is_footer = True
                elif len(b.text.strip()) < 50 and any(c.isdigit() for c in b.text):
                    is_footer = True
        if is_footer:
            regions["footer"].append(b)
        elif center_x < separator_x:
            regions["left_column"].append(b)
        else:
            regions["right_column"].append(b)
    return regions


def blocks_to_text(blocks: list) -> str:
    """O1+O2+O3: reading-order reassembly (A003:246-280).

    Sort by (y0, x0); group into lines while the consecutive center-y
    difference stays < 10 (the reference's ``current_y`` updates to *every*
    block's center — both branches of A003:262-269 — so the test reduces to
    a consecutive difference); within a line sort by x0, join " "; join
    lines with "\n"."""
    if not blocks:
        return ""
    ordered = sorted(blocks, key=lambda b: (b.y0, b.x0))
    lines, current = [], [ordered[0]]
    prev_cy = (ordered[0].y0 + ordered[0].y1) / 2
    for b in ordered[1:]:
        cy = (b.y0 + b.y1) / 2
        if abs(cy - prev_cy) < 10:
            current.append(b)
        else:
            lines.append(current)
            current = [b]
        prev_cy = cy
    lines.append(current)
    return "\n".join(
        " ".join(b.text for b in sorted(line, key=lambda b: b.x0)) for line in lines
    )


def _meta(value) -> str:
    """Canonical stringification for the MAP<STRING,STRING> metadata column."""
    return json.dumps(value, ensure_ascii=False)


def _error_layout(turn_idx: int, message: str) -> dict:
    """D1 error row: degrade, never abort (A003:328-341)."""
    return {
        "page_number": turn_idx + 1,
        "header": "",
        "footer": "",
        "left_column": "",
        "right_column": "",
        "page_width": 0.0,
        "page_height": 0.0,
        "column_separator_position": None,
        "metadata": {"error": _meta(message)},
    }


def extract_turn(
    payload: str, tool: str, turn_idx: int, variant: str = "a003"
) -> dict:
    """Extract one turn's layout — the per-page map D1 (A003:282-326).

    ``tool`` dispatches the payload kind (the analog of EXTRACTOR_MAP,
    /root/reference/tests/extractor_config.py:33-45):

    * ``page/v1`` — full layout payload, tokenized per payload.py
    * ``html/v1`` — DOM boilerplate stripping (``strip_boilerplate``):
      header/footer/main text on a zero-size page, ``right_column`` empty,
      no separator; the same for every variant
    * ``plain``   — raw text; handled like the reference's get_text()
      fallback: one whole-page block (612x792, size 12.0, font "Unknown")
    * anything else (including a null tool) falls back to ``plain``

    A payload that raises on any path becomes the D1 error row. This is
    the one per-turn entry for every tool: goldens, tests and the
    batch-level degrade in ``operators/extract.py`` all call it.
    """
    cfg = VARIANTS[variant]
    try:
        if tool == "html/v1":
            res = strip_boilerplate(payload)
            return {
                "page_number": turn_idx + 1,
                "header": res["header"],
                "footer": res["footer"],
                "left_column": res["left_column"],
                "right_column": "",
                "page_width": 0.0,
                "page_height": 0.0,
                "column_separator_position": None,
                "metadata": res["metadata"],
            }
        if tool == "page/v1":
            try:
                page = parse_payload(payload)
                blocks = page.blocks
            except TokenizeError as exc:
                # S3 fallback: whole-page single block (A003:94-108). The
                # fallback replaces any partially tokenized blocks; it spans
                # the real page rect, already parsed from the PAGE header.
                # Drawings survive (separate scan in the reference,
                # A003:38,53) and still drive separator/footer logic.
                page = ParsedPage(width=exc.width, height=exc.height,
                                  lines=exc.lines, rects=exc.rects)
                blocks = []
                if exc.salvaged_text.strip():
                    blocks = [
                        Block(
                            text=exc.salvaged_text.strip(),
                            x0=0.0, y0=0.0, x1=page.width, y1=page.height,
                            font_size=12.0, font_name="Unknown",
                        )
                    ]
                page.blocks = blocks
        else:
            if payload is None:
                raise PayloadError("null payload")
            page = ParsedPage(width=DEFAULT_PAGE_W, height=DEFAULT_PAGE_H)
            blocks = []
            if payload.strip():
                blocks = [
                    Block(
                        text=payload.strip(),
                        x0=0.0, y0=0.0, x1=page.width, y1=page.height,
                        font_size=12.0, font_name="Unknown",
                    )
                ]
            page.blocks = blocks

        if cfg.footer_mode == "line_extent":
            return _extract_turn_a000(page, blocks, turn_idx)

        separator_x = find_column_separator(page, blocks)
        regions = classify_regions(page, blocks, separator_x, cfg)
        n_vlines = len(_vertical_lines(page))
        n_colored = len(_colored_regions(page))
        metadata = {
            "total_text_blocks": _meta(len(blocks)),
            "header_blocks": _meta(len(regions["header"])),
            "footer_blocks": _meta(len(regions["footer"])),
            "left_column_blocks": _meta(len(regions["left_column"])),
            "right_column_blocks": _meta(len(regions["right_column"])),
            "vertical_lines_detected": _meta(n_vlines),
            "colored_footer_regions": _meta(n_colored),
            "has_footer": _meta(len(regions["footer"]) > 0),
            "page_rect": _meta([0.0, 0.0, page.width, page.height]),
        }
        return {
            "page_number": turn_idx + 1,
            "header": blocks_to_text(regions["header"]),
            "footer": blocks_to_text(regions["footer"]),
            "left_column": blocks_to_text(regions["left_column"]),
            "right_column": blocks_to_text(regions["right_column"]),
            "page_width": page.width,
            "page_height": page.height,
            "column_separator_position": separator_x,
            "metadata": metadata,
        }
    except Exception as exc:  # noqa: BLE001 — degrade per turn, never abort
        return _error_layout(turn_idx, str(exc))


def normalize_layout(layout: dict) -> dict:
    """Snapshot normalization: floats to 2dp (truthy-guarded — a 0.0 value is
    left as-is, matching the reference's quirk), metadata keys sorted,
    per-line whitespace strip
    (/root/reference/pdf_extractor_protocol.py:158-193)."""
    data = dict(layout)
    for key in ("page_width", "page_height", "column_separator_position"):
        if data.get(key):
            data[key] = round(data[key], 2)
    if data.get("metadata"):
        data["metadata"] = dict(sorted(data["metadata"].items()))
    for key in ("header", "footer", "left_column", "right_column"):
        if data.get(key):
            data[key] = "\n".join(
                line.strip() for line in data[key].split("\n")
            ).strip()
    return data
