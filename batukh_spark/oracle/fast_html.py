"""THE frozen HTML tokenizer oracle: single-pass regex scanner.

This scanner DEFINES extraction semantics (goldens + the driver's DuckDB
gate pin it); the HTMLParser-based tokenizer in tests/reference_twins.py
is only a differential-test aid on the well-terminated-refs input class.
The regex scanner is the oracle rather than html.parser because (a) it is
~2x faster and the oracle rate bounds the engine's per-core throughput,
and (b) html.parser's recovery on malformed refs is pathological for an
extraction oracle: it swallows all remaining markup after a bare '&#',
invents trailing semicolons for unknown names, and silently drops '&' at
EOF — this scanner instead follows browser-style (HTML5 text-parsing)
recovery and never skips markup.

Scanner rules (deliberately simple, deterministic):
  <!-- ... -->          comment (unterminated: to EOF)
  <!DECL> / <?PI>       skipped
  <script>/<style>/...  raw-text mode until the matching close tag
  </tag ...>            end tag
  <tag attr=... [/]>    start tag (only the class attribute is read)
  &name; &#n; &#xh;     entity/char refs decoded
  &#n / &#xh            semicolon-less char refs decoded (browser rule)
  &name                 semicolon-less named refs via html.unescape's
                        HTML5 legacy table (&amp -> '&', unknown -> raw)
  anything else         text

Offsets are absolute from the start; no line/col bookkeeping needed.
"""

from __future__ import annotations

import html as _htmlmod
import re

from batukh_spark.oracle import constants as C
from batukh_spark.oracle.blocks import Block, finalize_block
from batukh_spark.oracle.canonical import canonicalize

_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})

# master scanner: ordered alternatives, leftmost-longest within each
_TOKEN_RE = re.compile(r"""
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

_CLASS_RE = re.compile(
    r"""\bclass\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE)

# Fast path for the overwhelmingly common refs; values are derived from
# html.unescape itself so this table can never disagree with the fallback
# (including the HTML5 legacy semicolon-less rows).
_COMMON_ENTITIES = {
    e: _htmlmod.unescape(e)
    for e in ("&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&nbsp;",
              "&amp", "&lt", "&gt", "&quot", "&nbsp")
}

_RAWTEXT_CLOSE = {
    t: re.compile(rf"</\s*{t}[^>]*>", re.IGNORECASE)
    for t in ("script", "style")
}

# tag -> (is_skip, is_boiler, is_code, is_block, rawtext); the frozenset
# memberships are invariant per tag, so look them up once per distinct tag
_TAG_FLAGS: dict[str, tuple] = {}


def _tag_flags(tag: str) -> tuple:
    f = _TAG_FLAGS.get(tag)
    if f is None:
        f = (tag in C.SKIP_TAGS, tag in C.BOILERPLATE_TAGS,
             tag in C.CODE_TAGS, tag in C.BLOCK_TAGS,
             tag in C.SKIP_TAGS and tag in ("script", "style"))
        _TAG_FLAGS[tag] = f
    return f


class _Ctx:
    """Tokenizer context shared with no inheritance overhead."""

    __slots__ = ("blocks", "stack", "n_skip", "n_boiler", "n_code",
                 "n_tool", "n_anchor", "parts", "anchor_parts", "b_start",
                 "b_end", "b_kind", "b_path", "b_structural", "block_tag")

    def __init__(self):
        self.blocks: list[Block] = []
        # stack entries: (tag, skip, boiler, code, tool, anchor,
        # block_under) — block_under is the nearest block tag at or below
        # this frame, so _close_tag recomputes block_tag in O(1) instead
        # of rescanning the stack
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
        self.b_path = ""
        self.b_structural = False
        self.block_tag = None


def _flush(ctx: _Ctx) -> None:
    if ctx.b_start < 0:
        # no block open: only <br> newlines can have accumulated (they
        # never open a block); anchor_parts is filled solely alongside
        # b_start, so it is empty here and b_end/b_kind hold reset values
        if ctx.parts:
            ctx.parts = []
        return
    anchor_len = (len(canonicalize("".join(ctx.anchor_parts)))
                  if ctx.anchor_parts else 0)
    b = finalize_block(ctx.parts, anchor_len, ctx.b_start, ctx.b_end,
                       ctx.b_kind or C.KIND_CONTENT, ctx.b_path,
                       ctx.b_structural)
    if b is not None:
        ctx.blocks.append(b)
    ctx.parts = []
    ctx.anchor_parts = []
    ctx.b_start = -1
    ctx.b_end = -1
    ctx.b_kind = None


def _append_text(ctx: _Ctx, decoded: str, raw_start: int,
                 raw_len: int) -> None:
    if ctx.n_skip:
        return
    if ctx.b_start < 0:
        ctx.b_start = raw_start
        ctx.b_path = "/".join(f[0] for f in ctx.stack)
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


def _pop_from(ctx: _Ctx, i: int) -> None:
    for f in ctx.stack[i:]:
        ctx.n_skip -= f[1]
        ctx.n_boiler -= f[2]
        ctx.n_code -= f[3]
        ctx.n_tool -= f[4]
        ctx.n_anchor -= f[5]
    del ctx.stack[i:]


def _close_tag(ctx: _Ctx, tag: str) -> None:
    if tag in _VOID_TAGS:
        return
    if tag in C.BLOCK_TAGS:
        _flush(ctx)
    stack = ctx.stack
    if stack and stack[-1][0] == tag:
        # well-formed fast path: close matches the innermost open tag
        f = stack.pop()
        ctx.n_skip -= f[1]
        ctx.n_boiler -= f[2]
        ctx.n_code -= f[3]
        ctx.n_tool -= f[4]
        ctx.n_anchor -= f[5]
    else:
        for i in range(len(stack) - 1, -1, -1):
            if stack[i][0] == tag:
                _pop_from(ctx, i)
                break
    # nearest block tag in the remaining stack, O(1) via frame[6]
    ctx.block_tag = stack[-1][6] if stack else None


def tokenize_html_fast(raw: str) -> list[Block]:
    ctx = _Ctx()
    pos = 0
    n = len(raw)
    scan = _TOKEN_RE.match
    rawtext_until: str | None = None  # inside <script>/<style>/...: tag name
    while pos < n:
        if rawtext_until is not None:
            # raw-text mode: content is skipped wholesale; find close tag
            pat = _RAWTEXT_CLOSE.get(rawtext_until)
            if pat is None:
                pat = re.compile(rf"</\s*{rawtext_until}[^>]*>",
                                 re.IGNORECASE)
            m = pat.search(raw, pos)
            if m is None:
                break  # unterminated script/style: rest is skipped
            _close_tag(ctx, rawtext_until)
            pos = m.end()
            rawtext_until = None
            continue
        m = scan(raw, pos)
        if m is None:  # cannot happen (stray covers < and &) — safety
            break
        kind = m.lastgroup
        if kind == "text" or kind == "stray":
            _append_text(ctx, m.group(), pos, m.end() - pos)
        elif kind == "starttag":
            tag = m.group("stag").lower()
            if tag == "br":
                ctx.parts.append("\n")
            elif tag not in _VOID_TAGS:
                attrs = m.group("attrs") or ""
                is_tool = False
                if "class" in attrs or "CLASS" in attrs or "Class" in attrs:
                    cm = _CLASS_RE.search(attrs)
                    if cm:
                        cls = (cm.group(1) or cm.group(2)
                               or cm.group(3) or "").lower()
                        is_tool = C.TOOL_CLASS_MARKER in cls
                self_closing = attrs.rstrip().endswith("/")
                skip, boiler, code, is_block, rawtext = _tag_flags(tag)
                if is_block:
                    _flush(ctx)
                    ctx.block_tag = tag
                if not self_closing:
                    stack = ctx.stack
                    block_under = (tag if is_block
                                   else (stack[-1][6] if stack else None))
                    is_anchor = tag == "a"
                    stack.append((tag, skip, boiler, code, is_tool,
                                  is_anchor, block_under))
                    ctx.n_skip += skip
                    ctx.n_boiler += boiler
                    ctx.n_code += code
                    ctx.n_tool += is_tool
                    ctx.n_anchor += is_anchor
                    if rawtext:
                        rawtext_until = tag
            elif tag == "hr" and tag in C.BLOCK_TAGS:
                _flush(ctx)
        elif kind == "endtag":
            _close_tag(ctx, m.group("etag").lower())
        elif kind == "entityref" or kind == "entityref_ns":
            # unescape implements HTML5 named refs including the legacy
            # semicolon-less table; unknown names come back verbatim
            g = m.group()
            decoded = _COMMON_ENTITIES.get(g)
            if decoded is None:
                decoded = _htmlmod.unescape(g)
            _append_text(ctx, decoded, pos, m.end() - pos)
        elif kind == "charref" or kind == "charref_ns":
            body = (m.group()[2:-1] if kind == "charref"
                    else m.group()[2:])
            try:
                cp = int(body[1:], 16) if body[0] in "xX" else int(body)
                decoded = chr(cp)
            except (ValueError, OverflowError):
                decoded = ""
            if decoded:
                _append_text(ctx, decoded, pos, m.end() - pos)
        # comment / decl / pi: skipped
        pos = m.end()
    _flush(ctx)
    return ctx.blocks
