"""Reference twins of package operators, kept for differential tests.

Each function here is a slower or library-based form of a production
operator, and a test pins the two equal:

- `tokenize_html_reference`: html.parser tokenizer vs the regex
  scanner `oracle/fast_html.py` (test_fast_html.py,
  test_tokenizer_properties.py);
- `simhash_expr`: expression-form bit vote vs `dedup.simhash`;
- `assign_expr`: HOF cosine argmax vs `similarity._assign`;
- `srp_signature_expr`: flat-sum SRP bits vs
  `similarity.srp_signature`;
- `train_bpe_loop`: one Catalyst argmax and one materialized
  `_apply_merge` fold per merge vs the driver's incremental pair count
  in `vocab.train_bpe` / `vocab.bpe_token_counts`.
"""

from __future__ import annotations

import html as _htmlmod
import json
import math
import re
import unicodedata
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batukh_spark.operators import dedup, similarity
from batukh_spark.operators.text import tokens_col
from batukh_spark.oracle import constants as C
from batukh_spark.oracle import fast_html as _fast_html
from batukh_spark.oracle.blocks import Block, assemble
from batukh_spark.oracle.extract import (FAMILY_EMPTY, FAMILY_HTML,
                                         FAMILY_PDF, FAMILY_PLAIN,
                                         ExtractResult)
from batukh_spark.oracle.pdf_layout import Line
from batukh_spark.session import materialize

_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})


class _Frame:
    __slots__ = ("tag", "skip", "boiler", "code", "tool", "anchor")

    def __init__(self, tag, skip, boiler, code, tool, anchor):
        self.tag = tag
        self.skip = skip
        self.boiler = boiler
        self.code = code
        self.tool = tool
        self.anchor = anchor


class _BlockTokenizer(HTMLParser):
    """Streaming tokenizer: emits Blocks with char-offset spans.

    convert_charrefs=False so `getpos()` stays aligned with raw offsets;
    entities are decoded explicitly in handle_entityref/handle_charref.
    """

    def __init__(self, raw: str):
        super().__init__(convert_charrefs=False)
        self.raw = raw
        # absolute offset of each raw line start, for getpos() conversion
        self._line_starts = [0]
        idx = raw.find("\n")
        while idx != -1:
            self._line_starts.append(idx + 1)
            idx = raw.find("\n", idx + 1)
        self.blocks: list[Block] = []
        self._stack: list[_Frame] = []
        # depth counters mirror the stack flags (profiling: any() scans
        # over the stack were ~20% of tokenizer time); semantics identical
        self._n_skip = 0
        self._n_boiler = 0
        self._n_code = 0
        self._n_tool = 0
        self._n_anchor = 0
        # current block accumulation
        self._parts: list[str] = []
        self._anchor_parts: list[str] = []
        self._b_start = -1
        self._b_end = -1
        self._b_kind: str | None = None
        self._b_structural = False
        self._block_tag: str | None = None  # last block-level tag opened

    # -- position helpers ---------------------------------------------------

    def _abs(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    # -- context flags ------------------------------------------------------

    def _push(self, frame: _Frame) -> None:
        self._stack.append(frame)
        self._n_skip += frame.skip
        self._n_boiler += frame.boiler
        self._n_code += frame.code
        self._n_tool += frame.tool
        self._n_anchor += frame.anchor

    def _pop_from(self, i: int) -> None:
        for f in self._stack[i:]:
            self._n_skip -= f.skip
            self._n_boiler -= f.boiler
            self._n_code -= f.code
            self._n_tool -= f.tool
            self._n_anchor -= f.anchor
        del self._stack[i:]

    # -- block lifecycle ----------------------------------------------------

    def _flush(self) -> None:
        if self._b_start >= 0:
            anchor_len = len(canonicalize_reference(
                "".join(self._anchor_parts)))
            b = finalize_block_reference(
                self._parts, anchor_len, self._b_start, self._b_end,
                self._b_kind or C.KIND_CONTENT, self._b_structural)
            if b is not None:
                self.blocks.append(b)
        self._parts = []
        self._anchor_parts = []
        self._b_start = -1
        self._b_end = -1
        self._b_kind = None

    def _append_text(self, decoded: str, raw_start: int, raw_len: int) -> None:
        if self._n_skip:
            return
        if self._b_start < 0:
            # lazily open a block; capture context at first segment
            self._b_start = raw_start
            self._b_structural = self._n_boiler > 0
            if self._n_tool:
                self._b_kind = C.KIND_TOOL
            elif self._n_code:
                self._b_kind = C.KIND_CODE
            elif self._block_tag in C.HEADING_TAGS:
                self._b_kind = C.KIND_HEADING
            else:
                self._b_kind = C.KIND_CONTENT
        self._b_end = raw_start + raw_len
        self._parts.append(decoded)
        if self._n_anchor:
            self._anchor_parts.append(decoded)

    # -- HTMLParser callbacks -----------------------------------------------

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag == "br":
            self._parts.append("\n")
            return
        if tag in _VOID_TAGS:
            # bare <hr> is a block separator (HTML5); aligns with the
            # frozen fast scanner, which flushes here too
            if tag == "hr" and tag in C.BLOCK_TAGS:
                self._flush()
            return
        cls = ""
        for k, v in attrs:
            if k == "class" and v:
                cls = v.lower()
        is_tool = C.TOOL_CLASS_MARKER in cls
        frame = _Frame(
            tag,
            skip=tag in C.SKIP_TAGS,
            boiler=tag in C.BOILERPLATE_TAGS,
            code=tag in C.CODE_TAGS,
            tool=is_tool,
            anchor=tag == "a",
        )
        if tag in C.BLOCK_TAGS:
            self._flush()
            self._block_tag = tag
        self._push(frame)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        if tag == "br":
            self._parts.append("\n")
        elif tag == "hr" and tag in C.BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in _VOID_TAGS:
            return
        if tag in C.BLOCK_TAGS:
            self._flush()
        # tolerant pop: stray close tags with no matching open are ignored
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i].tag == tag:
                self._pop_from(i)
                break
        self._block_tag = next(
            (f.tag for f in reversed(self._stack) if f.tag in C.BLOCK_TAGS),
            None)

    def handle_data(self, data):
        if not data:
            return
        self._append_text(data, self._abs(), len(data))

    def handle_entityref(self, name):
        decoded = _htmlmod.unescape(f"&{name};")
        self._append_text(decoded, self._abs(), len(name) + 2)

    def handle_charref(self, name):
        try:
            cp = int(name[1:], 16) if name[0] in "xX" else int(name)
            decoded = chr(cp)
        except (ValueError, OverflowError):
            decoded = ""
        if decoded:
            self._append_text(decoded, self._abs(), len(name) + 3)

    def handle_comment(self, data):
        pass

    def close(self):
        super().close()
        self._flush()


def tokenize_html_reference(raw: str) -> list[Block]:
    """html.parser-based tokenizer — the differential-test reference
    for the regex scanner."""
    tok = _BlockTokenizer(raw)
    try:
        tok.feed(raw)
        tok.close()
    except Exception:
        # html.parser is documented tolerant; belt-and-braces: salvage what
        # was tokenized so far (the ignore_errors analogue, but counted by
        # the caller instead of silently dropped).
        tok._flush()
    return tok.blocks


# ---------------------------------------------------------------------------
# The oracle's previous form, kept as the differential twin of
# oracle/canonical.py, oracle/blocks.py, oracle/fast_html.py,
# oracle/pdf_layout.py, oracle/plain_extract.py, oracle/extract.py and
# kernels._extract_cols (test_oracle_differential.py): the regex
# canonicalization, flush/close helpers over a context object, the
# stack scan for stray close tags, the forward heading scan, per-band
# XY-cut comprehensions with a sort per line, and spans as dicts.  The
# master regex is the previous one (tags after comments, one attribute
# character per repeat); the class regex, raw-text close regexes and
# entity table are shared with the package.

_WS_RE = re.compile("[ \t\r\n\f\v\u00a0]+")
_HTML_HINT_RE = re.compile(r"<(?:[a-zA-Z][a-zA-Z0-9-]*[\s/>]|/[a-zA-Z]|!)")


def canonicalize_reference(s: str) -> str:
    if not s:
        return ""
    if not s.isascii():
        s = unicodedata.normalize("NFC", s)
    return _WS_RE.sub(" ", s).strip()


def finalize_block_reference(raw_parts: list[str], anchor_chars: int,
                             start: int, end: int, kind: str,
                             structural: bool) -> Block | None:
    text = canonicalize_reference("".join(raw_parts))
    if not text:
        return None
    n_chars = len(text)
    n_words = len(text.split())
    lines = max(1, math.ceil(n_chars / C.WRAP_CHARS))
    b = Block(kind=kind, start=start, end=end, text=text, n_chars=n_chars,
              n_words=n_words, n_anchor_chars=min(anchor_chars, n_chars),
              structural=structural)
    b.score = n_words / lines
    b.link_density = b.n_anchor_chars / n_chars if n_chars else 0.0
    return b


def classify_and_keep_reference(blocks: list[Block],
                                role: str | None = None) -> None:
    is_tool_role = role == "tool"
    for b in blocks:
        if b.structural:
            b.kind = C.KIND_BOILERPLATE
            continue
        if b.kind in (C.KIND_CODE, C.KIND_TOOL, C.KIND_HEADING):
            continue
        if b.link_density > C.LINK_DENSITY_MAX:
            b.kind = C.KIND_BOILERPLATE
        elif (b.n_words >= C.CONTENT_MIN_WORDS
              or b.score >= C.CONTENT_MIN_DENSITY):
            b.kind = C.KIND_CONTENT
        elif b.n_words < C.SHORT_BLOCK_WORDS:
            b.kind = C.KIND_BOILERPLATE
        else:
            b.kind = C.KIND_CONTENT
    soft = [i for i, b in enumerate(blocks)
            if b.kind == C.KIND_BOILERPLATE and not b.structural
            and b.link_density <= C.LINK_DENSITY_MAX]
    seq = [i for i, b in enumerate(blocks)
           if not (b.structural or (b.kind == C.KIND_BOILERPLATE
                                    and b.link_density > C.LINK_DENSITY_MAX))]
    pos_in_seq = {i: j for j, i in enumerate(seq)}
    for i in soft:
        j = pos_in_seq.get(i)
        if j is None:
            continue
        prev_c = (j > 0 and blocks[seq[j - 1]].kind == C.KIND_CONTENT)
        next_c = (j + 1 < len(seq)
                  and blocks[seq[j + 1]].kind == C.KIND_CONTENT)
        if prev_c or next_c:
            blocks[i].kind = C.KIND_CONTENT
    for idx, b in enumerate(blocks):
        if b.kind == C.KIND_CONTENT:
            b.keep = True
        elif b.kind == C.KIND_CODE:
            b.keep = True
        elif b.kind == C.KIND_TOOL:
            b.keep = is_tool_role
        elif b.kind == C.KIND_HEADING:
            b.keep = False
            for nb in blocks[idx + 1:]:
                if nb.structural or nb.kind == C.KIND_HEADING:
                    continue
                b.keep = nb.kind in (C.KIND_CONTENT, C.KIND_CODE) or (
                    nb.kind == C.KIND_TOOL and is_tool_role)
                break
        else:
            b.keep = False


class _Ctx:
    __slots__ = ("blocks", "stack", "n_skip", "n_boiler", "n_code",
                 "n_tool", "n_anchor", "parts", "anchor_parts", "b_start",
                 "b_end", "b_kind", "b_structural", "block_tag")

    def __init__(self):
        self.blocks: list[Block] = []
        # (tag, skip, boiler, code, tool, anchor, block_under)
        self.stack: list[tuple] = []
        self.n_skip = 0
        self.n_boiler = 0
        self.n_code = 0
        self.n_tool = 0
        self.n_anchor = 0
        self.parts: list[str] = []
        self.anchor_parts: list[str] = []
        self.b_start = -1
        self.b_end = -1
        self.b_kind = None
        self.b_structural = False
        self.block_tag = None


def _ctx_flush(ctx: _Ctx) -> None:
    if ctx.b_start < 0:
        if ctx.parts:
            ctx.parts = []
        return
    anchor_len = (len(canonicalize_reference("".join(ctx.anchor_parts)))
                  if ctx.anchor_parts else 0)
    b = finalize_block_reference(ctx.parts, anchor_len, ctx.b_start,
                                 ctx.b_end, ctx.b_kind or C.KIND_CONTENT,
                                 ctx.b_structural)
    if b is not None:
        ctx.blocks.append(b)
    ctx.parts = []
    ctx.anchor_parts = []
    ctx.b_start = -1
    ctx.b_end = -1
    ctx.b_kind = None


def _ctx_append_text(ctx: _Ctx, decoded: str, raw_start: int,
                     raw_len: int) -> None:
    if ctx.n_skip:
        return
    if ctx.b_start < 0:
        ctx.b_start = raw_start
        ctx.b_structural = ctx.n_boiler > 0
        if ctx.n_tool:
            ctx.b_kind = C.KIND_TOOL
        elif ctx.n_code:
            ctx.b_kind = C.KIND_CODE
        elif ctx.block_tag in C.HEADING_TAGS:
            ctx.b_kind = C.KIND_HEADING
        else:
            ctx.b_kind = C.KIND_CONTENT
    ctx.b_end = raw_start + raw_len
    ctx.parts.append(decoded)
    if ctx.n_anchor:
        ctx.anchor_parts.append(decoded)


def _ctx_close_tag(ctx: _Ctx, tag: str) -> None:
    if tag in _VOID_TAGS:
        return
    if tag in C.BLOCK_TAGS:
        _ctx_flush(ctx)
    stack = ctx.stack
    for i in range(len(stack) - 1, -1, -1):
        if stack[i][0] == tag:
            for f in stack[i:]:
                ctx.n_skip -= f[1]
                ctx.n_boiler -= f[2]
                ctx.n_code -= f[3]
                ctx.n_tool -= f[4]
                ctx.n_anchor -= f[5]
            del stack[i:]
            break
    ctx.block_tag = stack[-1][6] if stack else None


_TOKEN_RE_REFERENCE = re.compile(r"""
    (?P<comment><!--.*?(?:-->|$))
  | (?P<decl><![^>]*>?)
  | (?P<pi><\?[^>]*>?)
  | (?P<endtag></\s*(?P<etag>[a-zA-Z][a-zA-Z0-9._:-]*)[^>]*>)
  | (?P<starttag><(?P<stag>[a-zA-Z][a-zA-Z0-9._:-]*)
        (?P<attrs>(?:[^>"']|"[^"]*"|'[^']*')*)
        >)
  | (?P<charref>&\#(?:[0-9]+|[xX][0-9a-fA-F]+);)
  | (?P<charref_ns>&\#(?:[0-9]+|[xX][0-9a-fA-F]+))
  | (?P<entityref>&[a-zA-Z][a-zA-Z0-9]*;)
  | (?P<entityref_ns>&[a-zA-Z][a-zA-Z0-9]*)
  | (?P<text>[^<&]+)
  | (?P<stray>[<&])
""", re.VERBOSE | re.DOTALL)


def tokenize_html_fast_reference(raw: str) -> list[Block]:
    """The regex scanner's previous form (same grammar)."""
    ctx = _Ctx()
    pos = 0
    n = len(raw)
    scan = _TOKEN_RE_REFERENCE.match
    rawtext_until = None
    while pos < n:
        if rawtext_until is not None:
            m = _fast_html._RAWTEXT_CLOSE[rawtext_until].search(raw, pos)
            if m is None:
                break
            _ctx_close_tag(ctx, rawtext_until)
            pos = m.end()
            rawtext_until = None
            continue
        m = scan(raw, pos)
        kind = m.lastgroup
        if kind == "text" or kind == "stray":
            _ctx_append_text(ctx, m.group(), pos, m.end() - pos)
        elif kind == "starttag":
            tag = m.group("stag").lower()
            if tag == "br":
                ctx.parts.append("\n")
            elif tag not in _VOID_TAGS:
                attrs = m.group("attrs") or ""
                is_tool = False
                if "class" in attrs or "CLASS" in attrs or "Class" in attrs:
                    cm = _fast_html._CLASS_RE.search(attrs)
                    if cm:
                        cls = (cm.group(1) or cm.group(2)
                               or cm.group(3) or "").lower()
                        is_tool = C.TOOL_CLASS_MARKER in cls
                self_closing = attrs.rstrip().endswith("/")
                skip = tag in C.SKIP_TAGS
                is_block = tag in C.BLOCK_TAGS
                if is_block:
                    _ctx_flush(ctx)
                    ctx.block_tag = tag
                if not self_closing:
                    stack = ctx.stack
                    block_under = (tag if is_block
                                   else (stack[-1][6] if stack else None))
                    is_anchor = tag == "a"
                    boiler = tag in C.BOILERPLATE_TAGS
                    code = tag in C.CODE_TAGS
                    stack.append((tag, skip, boiler, code, is_tool,
                                  is_anchor, block_under))
                    ctx.n_skip += skip
                    ctx.n_boiler += boiler
                    ctx.n_code += code
                    ctx.n_tool += is_tool
                    ctx.n_anchor += is_anchor
                    if tag in ("script", "style"):
                        rawtext_until = tag
            elif tag == "hr" and tag in C.BLOCK_TAGS:
                _ctx_flush(ctx)
        elif kind == "endtag":
            _ctx_close_tag(ctx, m.group("etag").lower())
        elif kind == "entityref" or kind == "entityref_ns":
            g = m.group()
            decoded = _fast_html._COMMON_ENTITIES.get(g)
            if decoded is None:
                decoded = _htmlmod.unescape(g)
            _ctx_append_text(ctx, decoded, pos, m.end() - pos)
        elif kind == "charref" or kind == "charref_ns":
            body = (m.group()[2:-1] if kind == "charref"
                    else m.group()[2:])
            try:
                cp = int(body[1:], 16) if body[0] in "xX" else int(body)
                decoded = chr(cp)
            except (ValueError, OverflowError):
                decoded = ""
            if decoded:
                _ctx_append_text(ctx, decoded, pos, m.end() - pos)
        pos = m.end()
    _ctx_flush(ctx)
    return ctx.blocks


_TX0, _TY0, _TX1, _TY1, _TXC, _TYC, _TT = range(7)


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def _gaps_reference(intervals, min_gap: float):
    ivs = sorted(intervals)
    cuts: list[float] = []
    widest = 0.0
    it = iter(ivs)
    try:
        _, cur_hi = next(it)
    except StopIteration:
        return cuts, widest
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


def _xycut_reference(tokens: list[tuple], depth: int = 0):
    if not tokens or depth > 16:
        return [tokens] if tokens else []
    xcuts, xwide = _gaps_reference([(t[_TX0], t[_TX1]) for t in tokens],
                                   C.XY_COL_GAP)
    ycuts, ywide = _gaps_reference([(t[_TY0], t[_TY1]) for t in tokens],
                                   C.XY_ROW_GAP)
    if not xcuts and not ycuts:
        return [tokens]
    if ycuts and (not xcuts or ywide >= xwide):
        cuts, ki = ycuts, _TYC
    else:
        cuts, ki = xcuts, _TXC
    bounds = [float("-inf")] + cuts + [float("inf")]
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        part = [t for t in tokens if lo <= t[ki] < hi]
        if part:
            out.extend(_xycut_reference(part, depth + 1))
    return out


def _group_lines_reference(group: list[tuple]):
    if not group:
        return []
    heights = [t[_TY1] - t[_TY0] for t in group]
    tol = max(1e-9, _median(heights) * C.LINE_TOL_FRACTION)
    toks = sorted(group, key=lambda t: (t[_TYC], t[_TX0]))
    lines = []
    cur: list[tuple] = []
    cur_yc = None
    for t in toks:
        yc = t[_TYC]
        if cur and abs(yc - cur_yc) > tol:
            lines.append(sorted(cur, key=lambda u: u[_TX0]))
            cur = []
        if not cur:
            cur_yc = yc
        cur.append(t)
    if cur:
        lines.append(sorted(cur, key=lambda u: u[_TX0]))
    return lines


def parse_pdf_layout_reference(raw: str) -> list[Line] | None:
    """Raises where the layout parser's previous form raised."""
    try:
        doc = json.loads(raw)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict) or doc.get("kind") != "pdf_layout":
        return None
    by_page: dict[int, list[tuple]] = {}
    for t in doc.get("tokens", []):
        if (isinstance(t, dict) and "t" in t and "x0" in t and "y0" in t
                and "x1" in t and "y1" in t):
            x0 = t["x0"]
            y0 = t["y0"]
            x1 = t["x1"]
            y1 = t["y1"]
            by_page.setdefault(int(t.get("page", 0)), []).append(
                (x0, y0, x1, y1, 0.5 * (x0 + x1), 0.5 * (y0 + y1), t["t"]))
    all_lines: list[Line] = []
    per_page_bbox: dict[int, tuple[float, float]] = {}
    for page in sorted(by_page):
        ptoks = by_page[page]
        per_page_bbox[page] = (min(t[_TY0] for t in ptoks),
                               max(t[_TY1] for t in ptoks))
        col = 0
        for group in _xycut_reference(ptoks):
            for toks in _group_lines_reference(group):
                text = canonicalize_reference(" ".join(t[_TT] for t in toks))
                if not text:
                    continue
                all_lines.append(Line(
                    page=page, line=-1, col=col,
                    x0=min(t[_TX0] for t in toks),
                    y0=min(t[_TY0] for t in toks),
                    x1=max(t[_TX1] for t in toks),
                    y1=max(t[_TY1] for t in toks),
                    text=text))
            col += 1
    if len(per_page_bbox) > 1:
        seen_pages: dict[str, set[int]] = {}
        keys = [re.sub(r"\d+", "#", ln.text) for ln in all_lines]
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


def tokenize_plain_reference(raw: str, role: str | None = None,
                             tool: str | None = None) -> list[Block]:
    blocks: list[Block] = []
    is_toolish = role == "tool" or bool(tool)
    lines = raw.split("\n")
    offsets = []
    off = 0
    for ln in lines:
        offsets.append(off)
        off += len(ln) + 1
    segments: list[tuple[int, int, str]] = []
    in_fence = False
    seg_start = 0
    fence_body_start = 0
    for i, ln in enumerate(lines):
        if re.match(r"^\s*```", ln):
            if not in_fence:
                if offsets[i] > seg_start:
                    segments.append((seg_start, offsets[i], "prose"))
                in_fence = True
                fence_body_start = offsets[i] + len(ln) + 1
            else:
                fence_kind = C.KIND_TOOL if is_toolish else C.KIND_CODE
                if offsets[i] > fence_body_start:
                    segments.append((fence_body_start, offsets[i],
                                     fence_kind))
                in_fence = False
                seg_start = offsets[i] + len(ln) + 1
    if in_fence:
        if len(raw) > fence_body_start:
            segments.append((fence_body_start, len(raw),
                             C.KIND_TOOL if is_toolish else C.KIND_CODE))
    elif len(raw) > seg_start:
        segments.append((seg_start, len(raw), "prose"))

    def add(piece, kind, start, end):
        b = finalize_block_reference([piece], 0, start, end, kind, False)
        if b is not None:
            blocks.append(b)

    for seg_s, seg_e, seg_kind in segments:
        chunk = raw[seg_s:seg_e]
        if seg_kind != "prose":
            add(chunk, seg_kind, seg_s, seg_e)
            continue
        last = 0
        pieces = []
        for m in re.finditer(r"\n[ \t]*\n+", chunk):
            pieces.append((chunk[last:m.start()], last, m.start()))
            last = m.end()
        pieces.append((chunk[last:], last, len(chunk)))
        for piece, s, e in pieces:
            if not piece.strip():
                continue
            kind = (C.KIND_HEADING if re.match(r"^\s{0,3}#{1,6}\s+", piece)
                    else C.KIND_CONTENT)
            add(piece, kind, seg_s + s, seg_s + e)
    return blocks


def extract_reference(text: str | None, role: str | None = None,
                      tool: str | None = None) -> ExtractResult:
    """`oracle.extract` over the previous forms above."""
    if text is None or not text.strip():
        return ExtractResult(family=FAMILY_EMPTY, extracted_text="")
    if text.lstrip().startswith("{") and '"pdf_layout"' in text[:200]:
        lines = parse_pdf_layout_reference(text)
        if lines is not None:
            return ExtractResult(family=FAMILY_PDF,
                                 extracted_text="\n".join(
                                     ln.text for ln in lines),
                                 lines=lines)
        res = _plain_reference(text, role, tool)
        res.error = "pdf_layout_parse_error"
        return res
    if _HTML_HINT_RE.search(text):
        blocks = tokenize_html_fast_reference(text)
        classify_and_keep_reference(blocks, role=role)
        return ExtractResult(family=FAMILY_HTML,
                             extracted_text=assemble(blocks), blocks=blocks)
    return _plain_reference(text, role, tool)


def _plain_reference(text, role, tool) -> ExtractResult:
    blocks = tokenize_plain_reference(text, role=role, tool=tool)
    is_tool_role = role == "tool" or bool(tool)
    for b in blocks:
        b.keep = b.kind != C.KIND_TOOL or is_tool_role
    return ExtractResult(family=FAMILY_PLAIN,
                         extracted_text=assemble(blocks), blocks=blocks)


def extract_cols_reference(texts, roles, tools) -> dict:
    """`kernels._extract_cols`' previous form: spans as lists of dicts."""
    out = {k: [] for k in ("family", "extracted_text", "n_blocks",
                           "n_kept", "spans", "error")}
    for i, t in enumerate(texts):
        r = extract_reference(
            t if isinstance(t, str) else None,
            role=roles[i] if roles is not None else None,
            tool=tools[i] if tools is not None else None)
        out["family"].append(r.family)
        out["extracted_text"].append(r.extracted_text)
        out["error"].append(r.error)
        if r.family == FAMILY_PDF:
            out["n_blocks"].append(len(r.lines))
            out["n_kept"].append(len(r.lines))
            out["spans"].append([])
        else:
            out["n_blocks"].append(len(r.blocks))
            out["n_kept"].append(sum(1 for b in r.blocks if b.keep))
            out["spans"].append([{"start": s, "end": e, "kind": k}
                                 for s, e, k in r.spans])
    return out


def simhash_expr(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 bits: int = dedup.SIMHASH_BITS) -> DataFrame:
    """Catalyst-expression form of `dedup.simhash` — bits x tokens
    interpreted fold evaluations per doc."""
    pre = docs.select(F.col(id_col), tokens_col(text_col).alias("__tk"))
    hashed = pre.select(
        F.col(id_col),
        F.transform(F.col("__tk"),
                    lambda t: F.concat(F.md5(t),
                                       F.md5(F.concat(F.lit("x:"), t))))
        .alias("__hs"))
    bit_votes = F.transform(
        F.sequence(F.lit(1), F.lit(bits)),
        lambda j: F.aggregate(
            F.col("__hs"), F.lit(0),
            lambda acc, h: acc + F.when(
                F.substring(h, j.cast("int"), F.lit(1))
                .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)))
    sig = F.concat_ws("", F.transform(
        bit_votes, lambda v: F.when(v > 0, "1").otherwise("0")))
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def assign_expr(q: DataFrame, cents: DataFrame, id_col: str = "vec_id",
                keep_q: bool = False, dim: int = 64,
                k: int = 8) -> DataFrame:
    """Catalyst-expression form of `similarity._assign` — HOF cosine
    per centroid, interpreted per element."""
    packed = cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("c_id", "c_vec")))
        .alias("cents"))
    qd = F.transform(F.col("q"), lambda x: x.cast("double"))
    scored = q.crossJoin(F.broadcast(packed)).select(
        F.col(id_col), F.col("q"),
        F.transform(F.col("cents"),
                    lambda c: similarity.cosine(qd, c["c_vec"])).alias("sims"))
    best = F.array_position(F.col("sims"), F.array_max(F.col("sims"))) - 1
    cols = [F.col(id_col), best.cast("int").alias("cluster")]
    if keep_q:
        cols.append(F.col("q"))
    return scored.select(*cols)


def srp_signature_expr(emb: DataFrame, n_bits: int = 16, dim: int = 64,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Catalyst-expression form of `similarity.srp_signature` — bit j
    is a flat codegen'd sum of +/- e[i] terms (left-to-right, matching
    the oracle's list_sum order).  Executes fast once planned, but the
    n_bits x dim expression TREE costs seconds of driver-side
    analysis/optimization per fresh plan (measured ~7.5s at 32x64)."""
    pre = emb.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__e"))
    e = F.col("__e")
    bits = []
    for j in range(n_bits):
        acc = None
        for i in range(dim):
            term = e.getItem(i) if similarity._srp_sign(j, i) > 0 else -e.getItem(i)
            acc = term if acc is None else acc + term
        bits.append(F.when(acc > 0, "1").otherwise("0"))
    return pre.select(F.col(id_col), F.concat(*bits).alias("sig"))


def _apply_merge(syms, left: str, right: str):
    """Greedy leftmost application of ONE merge (left, right) to a
    symbol array — a scan-local aggregate fold with (out, pending)
    state: pending==left followed by right emits the merged symbol
    and clears pending, so a run like 'aaaa' under (a,a) becomes
    [aa, aa] exactly as reference BPE does."""
    merged = left + right
    init = F.struct(F.array().cast("array<string>").alias("out"),
                    F.lit("").alias("p"))

    def step(acc, s):
        hit = (acc["p"] == left) & (s == right)
        flushed = F.when(acc["p"] != "",
                         F.concat(acc["out"], F.array(acc["p"]))) \
            .otherwise(acc["out"])
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.lit(merged))))
            .otherwise(flushed).alias("out"),
            F.when(hit, F.lit("")).otherwise(s).alias("p"))

    def finish(acc):
        return F.when(acc["p"] != "",
                      F.concat(acc["out"], F.array(acc["p"]))) \
            .otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def train_bpe_loop(docs: DataFrame, n_merges: int,
                   text_col: str = "text") -> tuple[list, DataFrame]:
    """Per-merge loop form of `vocab.train_bpe`: each round is a pair
    explode, a groupBy(pair), a one-row argmax collect and a
    materialized `_apply_merge` fold over the (w, n, syms) word table.
    Returns (merge rows, word table after all merges)."""
    from batukh_spark.operators.vocab import BPE_WORD_RE
    words = materialize(
        docs.select(F.explode(tokens_col(text_col)).alias("w"))
        .where(F.col("w").rlike(BPE_WORD_RE))
        .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
        .select("w", "n",
                F.transform(F.sequence(F.lit(1), F.length("w")),
                            lambda i: F.col("w").substr(i, F.lit(1)))
                .alias("syms")),
        "reference_twins.train_bpe_loop:words")
    out_rows = []
    for rnd in range(1, n_merges + 1):
        pair = F.explode(
            F.when(F.size("syms") >= 2,
                   F.transform(
                       F.sequence(F.lit(1), F.size("syms") - 1),
                       lambda i: F.concat(
                           F.element_at("syms", i.cast("int")),
                           F.lit("\x1f"),
                           F.element_at("syms", (i + 1).cast("int")))))
            .otherwise(F.array().cast("array<string>"))).alias("pair")
        best = (words.select("n", pair)
                .groupBy("pair").agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1).collect())
        if not best:
            break
        left, right = best[0]["pair"].split("\x1f")
        out_rows.append({"round": rnd, "left": left, "right": right,
                         "merged": left + right,
                         "pair_count": int(best[0]["cnt"])})
        words = materialize(words.select(
            "w", "n",
            _apply_merge(F.col("syms"), left, right).alias("syms")),
            "reference_twins.train_bpe_loop:round")
    return out_rows, words


def bpe_token_counts_from(docs: DataFrame, vocab: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """`vocab.bpe_token_counts`'s encoding over a (w, syms) word table,
    e.g. the one `train_bpe_loop` returns."""
    toks = docs.select(F.col(id_col),
                       F.explode(tokens_col(text_col)).alias("w"))
    sized = vocab.select("w", F.size("syms").alias("__ns"))
    per = (toks.join(sized, "w", "left")
           .groupBy(id_col)
           .agg(F.sum(F.coalesce(F.col("__ns"), F.lit(1)))
                .cast("long").alias("__n")))
    return (docs.select(F.col(id_col)).join(per, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__n"), F.lit(0))
                    .alias("n_bpe_tokens")))
