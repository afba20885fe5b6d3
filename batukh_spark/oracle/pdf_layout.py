"""PDF-layout payload: whitespace-cut recursive XY segmentation.

Transcript-domain analogue of BaselineDetector (`/root/reference/batukh/
torch/segmenter.py:705-832`): instead of localizing the baseline pixel-row
of each text line in a scanned image, we localize text lines among
positioned tokens, order them by recursive XY-cut (columns before rows,
the reading-order analogue of contour ranking at
`/root/reference/batukh/torch/segmenter.py:541-573`), and drop running
headers/footers (repeated-across-pages lines in the top/bottom band —
the "border region" class).

Input payload is a JSON string:
  {"kind": "pdf_layout",
   "tokens": [{"t": word, "x0":f, "y0":f, "x1":f, "y1":f, "page":int}, ...]}
Token input order is NOT trusted: ordering derives from geometry only.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from operator import itemgetter

from batukh_spark.oracle import constants as C
from batukh_spark.oracle.canonical import canonicalize

_DIGIT_RE = re.compile(r"\d+")
_INF = float("inf")


@dataclass(slots=True)
class Line:
    page: int
    line: int          # final reading-order index within the document
    col: int           # column index within the page (0-based)
    x0: float
    y0: float
    x1: float
    y1: float
    text: str
    is_header_footer: bool = False


# Internal token representation: (x0, y0, x1, y1, xc, yc, text) tuples,
# the centers computed once per token as 0.5 * (lo + hi).
_TX0, _TY0, _TX1, _TY1, _TXC, _TYC, _TT = range(7)
_X0 = itemgetter(_TX0)
_X_IV = itemgetter(_TX0, _TX1)
_Y_IV = itemgetter(_TY0, _TY1)
_YC_X0 = itemgetter(_TYC, _TX0)


def _gaps(ivs: list[tuple[float, float]], min_gap: float):
    """Whitespace gaps >= min_gap in the union of sorted, non-empty
    intervals.

    Returns (cut_midpoints, widest_gap).  XY-cut recurses on ALL
    qualifying gaps along the chosen axis at this level.
    """
    cuts: list[float] = []
    widest = 0.0
    it = iter(ivs)
    _, cur_hi = next(it)
    for a, b in it:
        if a <= cur_hi:
            if b > cur_hi:
                cur_hi = b
        else:
            gap = a - cur_hi
            if gap >= min_gap:
                cuts.append(0.5 * (cur_hi + a))
                if gap > widest:
                    widest = gap
            cur_hi = b
    return cuts, widest


def _xycut(tokens: list[tuple], out: list[list[tuple]],
           depth: int = 0) -> None:
    """Recursive XY-cut: appends the ordered leaf groups of `tokens`
    (pre-line-grouping) to `out`, each in `tokens`' order.

    Vertical (column) cuts first: left column fully before right column.
    Then horizontal (row-band) cuts: top before bottom.  Recursion stops
    when no qualifying gap remains.
    """
    if len(tokens) == 1 or depth > 16:
        out.append(tokens)
        return
    xcuts, xwide = _gaps(sorted(map(_X_IV, tokens)), C.XY_COL_GAP)
    ycuts, ywide = _gaps(sorted(map(_Y_IV, tokens)), C.XY_ROW_GAP)
    if not xcuts and not ycuts:
        out.append(tokens)
        return
    # cut along the axis with the widest whitespace valley: a page-wide
    # header/body/footer band gap beats a column gutter, so bands split
    # before columns and reading order is band-major.
    if ycuts and (not xcuts or ywide >= xwide):
        cuts, ki = ycuts, _TYC
    else:
        cuts, ki = xcuts, _TXC
    bounds = [-_INF] + cuts + [_INF]
    for lo, hi in zip(bounds, bounds[1:]):
        part = [t for t in tokens if lo <= t[ki] < hi]
        if part:
            _xycut(part, out, depth + 1)


def _group_lines(group: list[tuple]) -> list[list[tuple]]:
    """Cluster a leaf token group into lines by y-center proximity; each
    line in x0 order."""
    heights = sorted([t[_TY1] - t[_TY0] for t in group])
    n = len(heights)
    median = (heights[n // 2] if n % 2
              else 0.5 * (heights[n // 2 - 1] + heights[n // 2]))
    tol = max(1e-9, median * C.LINE_TOL_FRACTION)
    lines: list[list[tuple]] = []
    cur: list[tuple] = []
    cur_yc = None
    ordered = True  # cur is already in x0 order
    for t in sorted(group, key=_YC_X0):
        yc = t[_TYC]
        if cur:
            if abs(yc - cur_yc) > tol:
                lines.append(cur if ordered else sorted(cur, key=_X0))
                cur = [t]
                cur_yc = yc
                ordered = True
                continue
            if t[_TX0] < cur[-1][_TX0]:
                ordered = False
        else:
            cur_yc = yc
        cur.append(t)
    lines.append(cur if ordered else sorted(cur, key=_X0))
    return lines


def _layout(by_page: dict[int, list[tuple]]) -> list[Line]:
    all_lines: list[Line] = []
    multi_page = len(by_page) > 1
    per_page_bbox: dict[int, tuple[float, float]] = {}
    for page in sorted(by_page):
        ptoks = by_page[page]
        if multi_page:
            per_page_bbox[page] = (min(t[_TY0] for t in ptoks),
                                   max(t[_TY1] for t in ptoks))
        groups: list[list[tuple]] = []
        _xycut(ptoks, groups)
        for col, group in enumerate(groups):
            for toks in _group_lines(group):
                x0s, y0s, x1s, y1s, _, _, texts = zip(*toks)
                text = canonicalize(" ".join(texts))
                if text:
                    all_lines.append(Line(page, -1, col, min(x0s), min(y0s),
                                          max(x1s), max(y1s), text))

    # running header/footer suppression: same canonical text on >1 page,
    # positioned inside the top/bottom band of its page.
    # page numbers vary per page, so the repetition key folds digit runs
    # ("page-1"/"page-2" → "page-#").
    if multi_page:
        seen_pages: dict[str, set[int]] = {}
        keys = [_DIGIT_RE.sub("#", ln.text) for ln in all_lines]
        for ln, k in zip(all_lines, keys):
            seen_pages.setdefault(k, set()).add(ln.page)
        for ln, k in zip(all_lines, keys):
            if len(seen_pages[k]) <= 1:
                continue
            y_min, y_max = per_page_bbox[ln.page]
            h = max(1e-9, y_max - y_min)
            yc = 0.5 * (ln.y0 + ln.y1)
            band = C.HEADER_FOOTER_BAND
            if yc <= y_min + band * h or yc >= y_max - band * h:
                ln.is_header_footer = True

    kept = [ln for ln in all_lines if not ln.is_header_footer]
    for i, ln in enumerate(kept):
        ln.line = i
    return kept


def parse_pdf_layout(raw: str) -> list[Line] | None:
    """JSON layout payload → ordered Lines; None if unparseable.

    Unparseable covers malformed JSON, a document that is not a
    `pdf_layout` object, a `tokens` value that is not a list, and tokens
    whose `page` is not an integer, whose coordinates are not numbers or
    whose text is not a string.  Tokens missing `t` or a coordinate are
    skipped."""
    try:
        doc = json.loads(raw)
    except (ValueError, TypeError, RecursionError):
        return None
    if not isinstance(doc, dict) or doc.get("kind") != "pdf_layout":
        return None
    tokens = doc.get("tokens", [])
    if not isinstance(tokens, (list, dict, str)):
        return None
    by_page: dict[int, list[tuple]] = {}
    for t in tokens:
        if not isinstance(t, dict):
            continue
        try:
            text = t["t"]
            x0 = t["x0"]
            y0 = t["y0"]
            x1 = t["x1"]
            y1 = t["y1"]
        except KeyError:
            continue
        if not isinstance(text, str):
            return None
        try:
            page = int(t.get("page", 0))
            tok = (x0, y0, x1, y1, 0.5 * (x0 + x1), 0.5 * (y0 + y1), text)
        except (TypeError, ValueError, OverflowError):
            return None
        ptoks = by_page.get(page)
        if ptoks is None:
            by_page[page] = [tok]
        else:
            ptoks.append(tok)
    try:
        return _layout(by_page)
    except OverflowError:
        # an integer coordinate too large for float arithmetic
        return None


def assemble_pdf(lines: list[Line]) -> str:
    return "\n".join(ln.text for ln in lines)
