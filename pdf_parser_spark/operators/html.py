"""Engine core for html/v1 turns: payload -> boilerplate-stripped layout.

Both html operators read one core, ``strip_html_batch``:
``extract_layouts`` keeps the header / footer / cleaned text and
metadata, ``boilerplate_spans`` the span offsets. Its output equals the
reference (``oracle/boilerplate.strip_boilerplate``) byte for byte: the
tag grammar, tag sets, entities and thresholds are imported from the
oracle, not copied, and ``tests/test_fuzz.py`` checks every field on
hostile input.

The core parses a whole Arrow batch of payloads at once, with no Python
loop over tags:

* the payloads' UTF-8 bytes lie in one buffer; one NumPy scan finds every
  ``<``, ``>``, quote and ``&`` (the special-byte stream). A tag is a
  ``<`` whose next bracket is its ``>``; its name is read from an 8-byte
  word per tag with SWAR lane arithmetic, keyed as a uint64 and mapped to
  its tag-set bits with a ``searchsorted``. A quoted head is counted in
  the stream, and only a head whose quotes are not pairs of one kind is
  matched with ``TAG_RE`` itself;
* script/style content is found from the order of raw-text tags; stack
  depth and the header/footer/nav/aside/a context counters (packed into
  one uint64) are segmented cumsums;
* every pop speculatively closes the top. A stable sort by (payload,
  level) puts the last push at a pop's level right before it, so each
  pop, and each implied-close reopen, is checked against it; an
  implied-close open after a pop looks its top up with a
  ``searchsorted`` and the depths are re-derived until the decisions
  hold;
* blocks are runs of text segments between block tags. Arrow ``take``
  copies their segments (with a space for each void tag) into one
  buffer, zero-copy ``StringArray`` views cut it into blocks, and only
  the blocks that fail an RE2 clean-whitespace test are normalized;
  header, footer and content are ``binary_join``-ed per payload.

A payload the vectorized parse cannot reproduce exactly is parsed by the
reference ``strip_boilerplate`` itself and flagged in the ``fallback``
mask, so the core has one parser of its own and one exact fallback. The
choice is made per payload from the input alone: a pop through or past
the top of the stack (close-through, or a close tag with nothing of its
name on top), a tag head with no ``>`` before the next bracket, a quoted
``>`` in a head or a quote that does not close before it, a raw-text
element that another raw-text tag interrupts, an implied-close decision
that does not settle, and a payload with more than 65,535 tags. The rest
(entities, void and self-closed tags, comments, implied-close reopens,
raw-text elements, non-ASCII text and whitespace) stays on the
vectorized path; the generator's payloads, and so every html turn of the
benchmark workloads, take no fallback.

The fallback is the reference, not a tuned copy of it, and that is a
trade: the reference parses a payload about 2.7x slower than a
hand-tuned per-payload parser did, so on one core a 3,000-payload batch
in which every payload falls back takes about 700 ms (about 300 ms with
that parser). No benchmark workload has such a payload; a workload with
a measurable fallback share is the evidence for a fast per-payload path.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pdf_parser_spark.oracle.boilerplate import (
    _STRIP_RE,
    BLOCK_TAGS,
    IMPLIED_CLOSE_TAGS,
    MAX_CONTENT_DEPTH,
    MAX_LINK_DENSITY,
    MIN_CONTENT_CHARS,
    SKIP_CONTENT_TAGS,
    TAG_RE,
    VOID_TAGS,
    _unescape,
    strip_boilerplate,
)

METADATA_KEYS = ("total_blocks", "content_blocks", "boilerplate_blocks",
                 "header_blocks", "footer_blocks", "total_link_chars")


class HtmlColumns(NamedTuple):
    """The fields of ``strip_boilerplate`` over a batch of payloads, as
    columns: one entry per payload, and the spans flat in payload order
    (``right_column`` is always "" and has no column)."""

    header: list
    footer: list
    left_column: list
    span_turn: np.ndarray  # payload index of each span, non-decreasing
    span_start: np.ndarray
    span_end: np.ndarray
    counts: dict  # METADATA_KEYS -> int64 per payload
    fallback: np.ndarray  # payloads that went through strip_boilerplate

    def metadata(self) -> list:
        """Per-payload metadata dicts, as ``strip_boilerplate`` returns them."""
        cols = [self.counts[k].astype(str).tolist() for k in METADATA_KEYS]
        return [dict(zip(METADATA_KEYS, row)) for row in zip(*cols)]


# tag categories, one bit each
_BLOCK, _VOID, _IMPLIED, _RAW, _HEADER, _FOOTER, _NAV, _A = (1 << i for i in range(8))
# open-tag counters packed into one uint64 per item: 16 bits per context
_CONTEXT_FIELDS = ((_HEADER, 1), (_FOOTER, 1 << 16), (_NAV, 1 << 32), (_A, 1 << 48))
_MAX_TAGS = (1 << 16) - 1  # a payload with more tags could overflow a field


def _category(name: str) -> int:
    return ((name in BLOCK_TAGS) * _BLOCK | (name in VOID_TAGS) * _VOID
            | (name in IMPLIED_CLOSE_TAGS) * _IMPLIED
            | (name in SKIP_CONTENT_TAGS) * _RAW | (name == "header") * _HEADER
            | (name == "footer") * _FOOTER | (name in ("nav", "aside")) * _NAV
            | (name == "a") * _A)


_CATEGORY = {name: _category(name) for name in (
    BLOCK_TAGS | VOID_TAGS | IMPLIED_CLOSE_TAGS | SKIP_CONTENT_TAGS | {"a"})}
# a name of up to 7 bytes is keyed by its lower-cased bytes as a
# little-endian uint64; a longer one by _LONG_KEY | a per-batch number
_LONG_KEY = np.uint64(1 << 63)
_SHORT = sorted((int.from_bytes(k.encode(), "little"), v)
                for k, v in _CATEGORY.items() if len(k) < 8)
_SHORT_KEYS = np.array([k for k, _v in _SHORT] + [(1 << 64) - 1], np.uint64)
_SHORT_CATS = np.array([v for _k, v in _SHORT] + [0], np.uint8)
_NAME_MASK = np.array([(1 << (8 * k)) - 1 for k in range(8)], np.uint64)
_LOWER = np.uint64(0x2020202020202020)  # ASCII letters -> lower; digits keep
_ONES = np.uint64(0x0101010101010101)
_HIGH = np.uint64(0x8080808080808080)
_LANE_INDEX = np.uint64(0x0001020304050607)  # 256**k times this: k in the top byte


def _byte_table(chars) -> np.ndarray:
    table = np.zeros(256, bool)
    table[list(chars)] = True
    return table


_ATTR_END = _byte_table(b" \t\r\n'\"")
# every str.isspace() code point (all of them lie below U+3001)
_WS_CHARS = [c for c in map(chr, range(0x3001)) if c.isspace()]
_WS_ASCII = _byte_table(ord(c) for c in _WS_CHARS if c < "\x80")
_WS_WIDE = [c.encode() for c in _WS_CHARS if c >= "\x80"]
_WS_LEAD = _byte_table(b[0] for b in _WS_WIDE)
_WS2 = np.array([int.from_bytes(b, "big") for b in _WS_WIDE if len(b) == 2])
_WS3 = np.array([int.from_bytes(b, "big") for b in _WS_WIDE if len(b) == 3])
# RE2: text that ``" ".join(s.split())`` would change
_UNCLEAN = ("[" + "".join(f"\\x{{{ord(c):x}}}" for c in _WS_CHARS if c != " ")
            + "]|  |^ | $")
_TAG_BYTES = re.compile(TAG_RE.pattern.encode())
_NAME_BYTES = re.compile(rb"[a-zA-Z0-9]*")
_SCAN_STEPS = 16  # whitespace chars per range scanned with NumPy
_ROUNDS = 4  # implied-close decisions re-derived at most this often
_HEAD_QUOTES = 8  # a tag head with more quotes and '&' is matched by TAG_RE
_CHUNK_CHARS = 1 << 20  # payload characters parsed at once


def _seg_cumsum(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Inclusive cumsum of ``x`` restarted at each index in ``starts``
    (increasing, from 0): each group's first element absorbs the total of
    the group before it."""
    y = x.copy()
    if len(starts) > 1:
        y[starts[1:]] -= np.add.reduceat(x, starts)[:-1]
    return np.cumsum(y)


def _ws_step(pad: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Byte length of the whitespace character at each ``pos``; 0 where
    the character there is not whitespace."""
    b = pad[pos]
    step = _WS_ASCII[b].astype(np.int64)
    lead = np.flatnonzero(_WS_LEAD[b])
    if lead.size:
        p = pos[lead]
        two = (pad[p].astype(np.int64) << 8) | pad[p + 1]
        three = (two << 8) | pad[p + 2]
        step[lead] = np.where(np.isin(two, _WS2), 2, np.where(np.isin(three, _WS3), 3, 0))
    return step


def _nonblank(pad: np.ndarray, start: np.ndarray, end: np.ndarray) -> np.ndarray:
    """Whether each UTF-8 byte range ``[start, end)`` holds a character
    that is not whitespace in the sense of ``str.isspace``."""
    out = np.zeros(len(start), bool)
    idx = np.flatnonzero(end > start)
    pos = start[idx]
    for _ in range(_SCAN_STEPS):
        if not idx.size:
            return out
        step = _ws_step(pad, pos)
        hit = step == 0
        out[idx[hit]] = True
        idx, pos = idx[~hit], pos[~hit] + step[~hit]
        more = pos < end[idx]
        idx, pos = idx[more], pos[more]
    for i, p in zip(idx.tolist(), pos.tolist()):  # long whitespace runs
        out[i] = not bytes(pad[p:end[i]]).decode().isspace()
    return out


def _normalize(strs: pa.Array):
    """``" ".join(s.split())`` over an array: the length of each result,
    and the indices and results of the strings it changes (found by RE2;
    only those are normalized, in Python)."""
    n = pc.utf8_length(strs).to_numpy(zero_copy_only=False).astype(np.int64)
    unclean = np.flatnonzero(pc.match_substring_regex(strs, _UNCLEAN).to_numpy(
        zero_copy_only=False))
    normed = [" ".join(t.split()) for t in strs.take(unclean).to_pylist()]
    n[unclean] = [len(t) for t in normed]
    return n, unclean, normed


def _specials(pad: np.ndarray, size: int):
    """Positions and bytes of every ``<``, ``>``, quote and ``&`` in the
    buffer, in order: the stream the tag reader and entity counts use."""
    buf = pad[:size]
    # '<' and '>' are the bytes with b | 2 == '>', '"' and '&' those with
    # b | 4 == '&'
    mask = (buf | 2) == 62
    mask |= (buf | 4) == 38
    mask |= buf == 39
    sp = np.flatnonzero(mask)
    return sp, pad[sp]


def _name_lengths(w: np.ndarray):
    """SWAR over the 8 byte lanes of each little-endian word: the count of
    leading ASCII letters and digits (8: all of them), and whether the
    first byte is an ASCII letter."""
    def ge(v, lo):  # lanes of v (< 0x80) that are >= lo
        return (v + np.uint64(0x80 - lo) * _ONES) & _HIGH

    def le(v, hi):
        return ~(v + np.uint64(0x7F - hi) * _ONES) & _HIGH

    v = w & ~_HIGH
    t = v | _LOWER
    letter = ge(t, 0x61) & le(t, 0x7A) & ~w
    stop = ~(letter | (ge(v, 0x30) & le(v, 0x39) & ~w)) & _HIGH
    low = stop & (~stop + np.uint64(1))  # the first other lane's high bit
    lane = ((low >> np.uint64(7)) * _LANE_INDEX) >> np.uint64(56)
    return np.where(stop == 0, 8, lane.astype(np.int64)), (letter & np.uint64(0x80)) > 0


def _read_tags(pad: np.ndarray, size: int, off: np.ndarray, sp: np.ndarray,
               kind: np.ndarray, fallback: np.ndarray) -> dict:
    """Every tag of the batch, in payload order, read off the UTF-8 buffer
    and its special-byte stream (``_specials``): the ``<`` and ``>``
    positions and stream indices, payload, name key, category bits, and
    the closing and self-close flags of ``TAG_RE``. Marks in ``fallback``
    each payload with a tag that its first ``>`` does not end."""
    n = len(off) - 1
    br = np.flatnonzero((kind == 60) | (kind == 62))  # stream index of each bracket
    at_lt = np.flatnonzero(kind[br] == 60)
    lt_s = br[at_lt]
    lt = sp[lt_s]
    pay = np.repeat(np.arange(n), np.diff(np.searchsorted(lt, off)))
    end = off[pay + 1]
    after = pad[lt + 1]  # past a payload's end only for a '<' that is no tag
    closing = after == 47
    ns = lt + 1 + closing
    words = np.ndarray((len(pad) - 7,), "<u8", pad, 0, (1,))
    w = words[ns]
    nlen, alpha = _name_lengths(w)
    like = alpha & (ns < end)  # what TAG_RE tries as a tag
    # the next bracket after a tag's '<' must be its '>': TAG_RE's head
    # may run over a '<', which the fast path does not follow
    g_s = br[np.minimum(at_lt + 1, len(br) - 1)]
    g = sp[g_s]
    ok = like & (at_lt + 1 < len(br)) & (kind[g_s] == 62) & (g < end)
    quoted = np.flatnonzero(ok & (g_s > lt_s + 1))
    if quoted.size:
        # paired quotes of one kind end at the first '>', as in TAG_RE;
        # any other quoted head is matched with TAG_RE itself
        inner = g_s[quoted] - lt_s[quoted] - 1  # quotes and '&' in the head
        dq = np.zeros(len(quoted), np.int64)
        sq = np.zeros(len(quoted), np.int64)
        for j in range(1, min(int(inner.max()), _HEAD_QUOTES) + 1):
            k = kind[np.minimum(lt_s[quoted] + j, len(kind) - 1)] * (j <= inner)
            dq += k == 34
            sq += k == 39
        paired = ((dq % 2 == 0) & (sq == 0)) | ((sq % 2 == 0) & (dq == 0))
        odd = quoted[~paired | (inner > _HEAD_QUOTES)]
        if odd.size:
            data = pad[:size].tobytes()
            for j in odd.tolist():
                m = _TAG_BYTES.match(data, lt[j], end[j])
                ok[j] = m is not None and m.end() == g[j] + 1
    fallback[pay[like & ~ok]] = True

    sel = slice(None) if ok.all() else np.flatnonzero(ok)
    g, nlen, w, ns = g[sel], nlen[sel], w[sel], ns[sel]
    key = (w | _LOWER) & _NAME_MASK[np.minimum(nlen, 7)]
    at = np.searchsorted(_SHORT_KEYS, key)
    cat = np.where(_SHORT_KEYS[at] == key, _SHORT_CATS[at], 0).astype(np.uint8)
    long_names = np.flatnonzero(nlen == 8)
    if long_names.size:
        data, ids = pad.tobytes(), {}
        for j in long_names.tolist():
            name = _NAME_BYTES.match(data, ns[j]).group().lower().decode()
            nlen[j] = len(name)
            key[j] = _LONG_KEY | np.uint64(ids.setdefault(name, len(ids)))
            cat[j] = _CATEGORY.get(name, 0)
    # a '/' before the '>' self-closes unless it ends an unquoted value
    head = np.flatnonzero(g > ns + nlen)
    hg, hne = g[head], (ns + nlen)[head]
    selfclosed = np.zeros(len(g), bool)
    selfclosed[head] = (pad[hg - 1] == 47) & ((hg - 2 < hne) | _ATTR_END[pad[hg - 2]])
    return {"pos": lt[sel], "gt": g, "pos_s": lt_s[sel], "gt_s": g_s[sel],
            "pay": pay[sel], "key": key, "cat": cat,
            "closing": closing[sel], "selfclosed": selfclosed,
            "bang": np.unique(pay[after == 33])}


def _raw_text(tpay, starts, key, cat, closing, selfclosed, fallback):
    """script/style elements: returns ``(inert, dropped, closer)`` tag
    masks — tags inside an element, tags whose following text is dropped,
    and the close tag that ends each element. A payload where another
    raw-text tag comes before an element's close tag is marked in
    ``fallback``."""
    opener = (cat & _RAW > 0) & ~closing & ~selfclosed
    closer = np.zeros(len(cat), bool)
    if not opener.any():
        return closer, closer, closer
    r = np.flatnonzero(opener | ((cat & _RAW > 0) & closing))
    rp, ro, rk = tpay[r], opener[r], key[r]
    follows = np.r_[rp[1:] == rp[:-1], False]  # next raw-text tag, same payload
    closes = follows & np.r_[~ro[1:] & (rk[1:] == rk[:-1]), False]
    fallback[rp[ro & follows & ~closes]] = True
    closer[r[1:][(ro & closes)[:-1]]] = True
    delta = opener.astype(np.int64) - closer
    running = _seg_cumsum(delta, starts)
    return (running - delta > 0) & ~closer, running > 0, closer


def _stack_deltas(e_pay, e_open, e_key, e_implied, fallback) -> np.ndarray:
    """Stack change of each push/pop tag: +1 push, -1 pop, 0 for the
    reopen of an implied-close tag that is on top. Speculates that every
    pop closes the top, and checks each pop and reopen against the last
    push at its (payload, level): a stable sort by (payload, level) puts
    that push right before it. An implied-close open after a pop looks
    the exposed top up with a ``searchsorted``; its decision changes the
    depths after it, so those are re-derived until they hold. Payloads
    where a check fails (a pop through or past the top) are marked in
    ``fallback``."""
    m = len(e_pay)
    if not m:
        return np.zeros(0, np.int64)
    same = np.r_[False, e_pay[1:] == e_pay[:-1]]
    prev_open = np.r_[False, e_open[:-1]] & same
    prev_key = np.r_[np.uint64(0), e_key[:-1]]
    implied = e_implied & e_open
    reopen = implied & prev_open & (prev_key == e_key)
    lookup = np.flatnonzero(implied & same & ~prev_open)
    first = np.flatnonzero(~same)
    checked = ~e_open
    for _ in range(_ROUNDS):
        delta = np.where(e_open, (~reopen).astype(np.int64), -1)
        after = _seg_cumsum(delta, first)
        before = after - delta
        level = np.maximum(np.where(e_open & ~reopen, after, before), 0)
        span = int(level.max()) + 1
        if (int(e_pay[-1]) + 1) * span * m >= 1 << 62:
            fallback[:] = True
            return delta
        grp = e_pay * span + level
        order = np.argsort(grp, kind="stable")
        gs, ks, opened = grp[order], e_key[order], e_open[order]
        # in sorted order, each pop and reopen follows an open of its tag
        bad = (checked | reopen)[order]
        bad[1:] &= ~((gs[1:] == gs[:-1]) & opened[:-1] & (ks[1:] == ks[:-1]))
        bad_pay = gs[bad] // span
        if not lookup.size:
            break
        q = e_pay[lookup] * span + before[lookup]
        s = np.maximum(np.searchsorted(gs * m + order, q * m + lookup) - 1, 0)
        want = ((gs[s] == q) & (before[lookup] > 0) & opened[s]
                & (ks[s] == e_key[lookup]))
        flip = lookup[want != reopen[lookup]]
        if not flip.size:
            break
        reopen[flip] = ~reopen[flip]
    else:
        fallback[e_pay[flip]] = True
    fallback[bad_pay] = True
    return delta


def strip_html_batch(texts) -> HtmlColumns:
    """``strip_boilerplate`` over a batch of html/v1 payloads (str or
    None), as columns: each field equal to the one ``strip_boilerplate``
    returns for the payload. Payloads the vectorized parse cannot
    reproduce exactly are parsed by ``strip_boilerplate`` and flagged in
    ``fallback``. The batch is parsed in chunks of about ``_CHUNK_CHARS``
    characters, which bounds the size of the per-tag arrays."""
    payloads = list(texts)
    for t in payloads:
        if t is not None and not isinstance(t, str):
            raise TypeError(f"html/v1 payload is {type(t).__name__}, not str")
    ends = np.cumsum([len(t) if t else 0 for t in payloads])
    cuts = np.unique(np.searchsorted(ends, np.arange(_CHUNK_CHARS, ends[-1] if len(ends) else 0,
                                                     _CHUNK_CHARS), "right"))
    bounds = np.r_[0, cuts[(cuts > 0) & (cuts < len(payloads))], len(payloads)].tolist()
    chunks = [_strip_chunk(payloads[a:b]) for a, b in zip(bounds, bounds[1:])]
    if len(chunks) == 1:
        return chunks[0]
    at = np.repeat(bounds[:-1], [len(c.span_turn) for c in chunks])
    cat = np.concatenate
    return HtmlColumns(
        [h for c in chunks for h in c.header], [f for c in chunks for f in c.footer],
        [m for c in chunks for m in c.left_column], cat([c.span_turn for c in chunks]) + at,
        cat([c.span_start for c in chunks]), cat([c.span_end for c in chunks]),
        {k: cat([c.counts[k] for c in chunks]) for k in METADATA_KEYS},
        cat([c.fallback for c in chunks]))


def _strip_chunk(payloads: list) -> HtmlColumns:
    """``strip_html_batch`` on one chunk of payloads."""
    n = len(payloads)
    if not n:
        return _empty_columns(0)
    off, pad, size = _utf8_buffer(payloads)
    sp, kind = _specials(pad, size)
    fallback = np.zeros(n, bool)
    tags = _read_tags(pad, size, off, sp, kind, fallback)
    if tags["bang"].size:  # comments, CDATA, declarations: the oracle's substitution
        edited = list(payloads)
        for i in tags["bang"].tolist():
            edited[i] = _STRIP_RE.sub(" ", edited[i])
        off, pad, size = _utf8_buffer(edited)
        sp, kind = _specials(pad, size)
        fallback[:] = False
        tags = _read_tags(pad, size, off, sp, kind, fallback)

    # the stack: which tags push, pop or reopen, checked per payload
    tpay, key, cat = tags["pay"], tags["key"], tags["cat"]
    closing, selfclosed = tags["closing"], tags["selfclosed"]
    per_payload = np.bincount(tpay, minlength=n)
    fallback[per_payload > _MAX_TAGS] = True
    t_first = np.cumsum(per_payload) - per_payload
    inert, dropped, closer = _raw_text(tpay, t_first[per_payload > 0], key, cat,
                                       closing, selfclosed, fallback)
    active = ~inert
    void = (cat & _VOID > 0) | selfclosed
    ev = np.flatnonzero(active & (~void | closer))
    e_delta = _stack_deltas(tpay[ev], ~closing[ev], key[ev],
                            cat[ev] & _IMPLIED > 0, fallback)
    if fallback.all():
        return _with_fallback(_empty_columns(n), payloads, fallback)

    # items: each payload's start, then each of its tags in order; item i's
    # text runs from its tag's '>' (or the payload start) to the next item
    t_item = np.arange(len(tpay)) + tpay + 1
    n_items = n + len(tpay)
    ipay = np.repeat(np.arange(n), per_payload + 1)
    first = np.arange(n) + t_first
    starts = np.zeros(n_items, bool)
    starts[first] = True

    def per_item(values):
        out = np.zeros(n_items, values.dtype)
        out[t_item] = values
        return out

    cat, closer, dropped = per_item(cat), per_item(closer), per_item(dropped)
    active, void = per_item(active), per_item(void)
    ipos = np.empty(n_items, np.int64)
    ipos[first] = off[:-1]
    ipos[t_item] = tags["pos"]
    seg_start = ipos.copy()
    seg_start[t_item] = tags["gt"] + 1
    seg_end = np.append(ipos[1:], size)
    # the same bounds as indices into the special-byte stream
    head_s = np.empty(n_items, np.int64)
    head_s[first] = np.searchsorted(sp, off[:-1])
    head_s[t_item] = tags["pos_s"]
    text_s = head_s.copy()
    text_s[t_item] = tags["gt_s"] + 1
    amps = np.r_[0, np.cumsum(kind == 38)]
    amp = amps[np.append(head_s[1:], len(sp))] > amps[text_s]
    del sp, kind, amps, head_s, text_s, tags

    delta = np.zeros(n_items, np.int64)
    delta[t_item[ev]] = e_delta
    depth = _seg_cumsum(delta, first)
    field = np.zeros(n_items, np.int64)
    for bit, unit in _CONTEXT_FIELDS:
        field[cat & bit > 0] = unit
    ctx = _seg_cumsum((field * delta).astype(np.uint64), first)
    in_h = ctx & np.uint64(0xFFFF) > 0
    in_f = ctx & np.uint64(0xFFFF << 16) > 0
    in_n = ctx & np.uint64(0xFFFF << 32) > 0
    in_a = ctx >> np.uint64(48) > 0

    # text segments: "head, text" pairs over the buffer, zero-copy
    bounds = np.empty(2 * n_items + 1, np.int64)
    bounds[0:-1:2], bounds[1:-1:2], bounds[-1] = ipos, seg_start, size
    parts = pa.StringArray.from_buffers(2 * n_items, pa.py_buffer(bounds.astype(np.int32)),
                                        pa.py_buffer(pad))
    text = ~dropped & ~fallback[ipay] & (seg_end > seg_start)
    amp &= text
    nonblank = np.zeros(n_items, bool)
    plain = np.flatnonzero(text & ~amp)
    nonblank[plain] = _nonblank(pad, seg_start[plain], seg_end[plain])
    amp_items = np.flatnonzero(amp)
    unescaped = [_unescape(t) for t in parts.take(2 * amp_items + 1).to_pylist()]
    nonblank[amp_items] = [not t.isspace() for t in unescaped]
    seg_id = 2 * np.arange(n_items) + 1
    seg_id[amp_items] = 2 * n_items + np.arange(len(amp_items))
    values = pa.concat_arrays([parts, pa.array(unescaped + [" "], pa.string())])
    space_id = len(values) - 1

    link = np.zeros(n_items, np.int64)
    linked = np.flatnonzero(nonblank & in_a)
    if linked.size:
        link[linked] = _normalize(values.take(seg_id[linked]))[0]

    # blocks: the runs between block tags that hold non-blank text, from
    # their first to their last non-blank segment
    bid = np.cumsum(starts | (active & (cat & _BLOCK > 0)))
    nb = np.flatnonzero(nonblank)
    if not nb.size:
        return _with_fallback(_empty_columns(n), payloads, fallback)
    group = np.flatnonzero(np.r_[True, bid[nb][1:] != bid[nb][:-1]])
    b_first, b_last = nb[group], nb[np.r_[group[1:], len(nb)] - 1]
    b_pay, b_depth = ipay[b_first], depth[b_first]
    b_flags = np.bitwise_or.reduceat(in_h[nb] | in_f[nb] << 1 | in_n[nb] << 2, group)
    b_link = np.add.reduceat(link[nb], group)

    lens = b_last - b_first + 1
    run_start = np.cumsum(lens) - lens
    it = np.repeat(b_first - run_start, lens) + np.arange(int(lens.sum()))
    has_space = active[it] & void[it] & ~closer[it] & (cat[it] & _BLOCK == 0)
    has_space[run_start] = False
    has_text = text[it]
    entries = np.stack([np.where(has_space, space_id, -1),
                        np.where(has_text, seg_id[it], -1)], 1).ravel()
    taken = values.take(pa.array(entries[entries >= 0]))
    del values, parts
    per_block = np.add.reduceat(has_space.astype(np.int64) + has_text, run_start)
    t_off = np.frombuffer(taken.buffers()[1], np.int32, len(taken) + 1)
    b_off = t_off[np.r_[0, np.cumsum(per_block)]]
    blocks = pa.StringArray.from_buffers(len(b_first), pa.py_buffer(b_off), taken.buffers()[2])
    b_len, unclean, normed = _normalize(blocks)
    final = np.arange(len(b_first))
    if unclean.size:
        final[unclean] = len(b_first) + np.arange(len(unclean))
        blocks = pa.concat_arrays([blocks, pa.array(normed, pa.string())])

    # labels, as the oracle's label_block assigns them
    is_h = b_flags & 1 > 0
    is_f = ~is_h & (b_flags & 2 > 0)
    b_link = np.minimum(b_link, b_len)
    rest = ~is_h & ~is_f
    is_bp = rest & ((b_flags & 4 > 0) | (b_link / b_len > MAX_LINK_DENSITY)
                    | (b_len < MIN_CONTENT_CHARS) | (b_depth > MAX_CONTENT_DEPTH))
    is_c = rest & ~is_bp

    def joined(mask):
        sel = np.flatnonzero(mask)
        offsets = np.r_[0, np.cumsum(np.bincount(b_pay[sel], minlength=n))]
        lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                         blocks.take(final[sel]))
        return pc.binary_join(lists, "\n").to_pylist()

    c_pay, c_len = b_pay[is_c], b_len[is_c]
    step = c_len + 1  # the joining "\n"
    c_first = np.flatnonzero(np.r_[True, c_pay[1:] != c_pay[:-1]][:len(c_pay)])
    c_start = _seg_cumsum(step, c_first) - step
    counts = {
        "total_blocks": np.bincount(b_pay, minlength=n),
        "content_blocks": np.bincount(c_pay, minlength=n),
        "boilerplate_blocks": np.bincount(b_pay[is_bp], minlength=n),
        "header_blocks": np.bincount(b_pay[is_h], minlength=n),
        "footer_blocks": np.bincount(b_pay[is_f], minlength=n),
        "total_link_chars": np.bincount(b_pay, b_link, minlength=n).astype(np.int64),
    }
    cols = HtmlColumns(joined(is_h), joined(is_f), joined(is_c), c_pay,
                       c_start, c_start + c_len,
                       {k: v.astype(np.int64) for k, v in counts.items()}, fallback)
    return _with_fallback(cols, payloads, fallback)


def _utf8_buffer(payloads: list):
    """Payload offsets, the UTF-8 bytes of all payloads (NUL-padded, so
    reads a word past the end are safe) and their size."""
    arr = pa.array(payloads, pa.string())
    off = np.frombuffer(arr.buffers()[1], np.int32, len(payloads) + 1).astype(np.int64)
    size = int(off[-1])
    pad = np.zeros(size + 16, np.uint8)
    if size:
        pad[:size] = np.frombuffer(arr.buffers()[2], np.uint8, size)
    return off, pad, size


def _empty_columns(n: int) -> HtmlColumns:
    none = np.zeros(0, np.int64)
    return HtmlColumns([""] * n, [""] * n, [""] * n, none, none, none,
                       {k: np.zeros(n, np.int64) for k in METADATA_KEYS},
                       np.zeros(n, bool))


def _with_fallback(cols: HtmlColumns, payloads: list, fallback: np.ndarray) -> HtmlColumns:
    """``cols`` with each fallback payload's entries as ``strip_boilerplate``
    returns them."""
    fb = np.flatnonzero(fallback)
    if not fb.size:
        return cols
    results = [strip_boilerplate(payloads[i]) for i in fb.tolist()]
    for i, r in zip(fb.tolist(), results):
        cols.header[i], cols.footer[i], cols.left_column[i] = (
            r["header"], r["footer"], r["left_column"])
    counts = np.array([[r["metadata"][k] for k in METADATA_KEYS]
                       for r in results]).astype(np.int64)
    for k, v in zip(METADATA_KEYS, counts.T):
        cols.counts[k][fb] = v
    spans = np.array([x for r in results for span in r["spans"] for x in span],
                     np.int64).reshape(-1, 2)
    turn = np.r_[cols.span_turn, np.repeat(fb, [len(r["spans"]) for r in results])]
    order = np.argsort(turn, kind="stable")
    return cols._replace(span_turn=turn[order],
                         span_start=np.r_[cols.span_start, spans[:, 0]][order],
                         span_end=np.r_[cols.span_end, spans[:, 1]][order],
                         fallback=fallback)
