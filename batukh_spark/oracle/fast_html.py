"""THE frozen HTML tokenizer oracle: single-pass regex scanner.

This scanner DEFINES extraction semantics (goldens + the driver's DuckDB
gate pin it); the HTMLParser-based tokenizer in tests/reference_twins.py
is only a differential-test aid on the well-terminated-refs input class.
The regex scanner is the oracle rather than html.parser because (a) the
oracle rate bounds the engine's per-core throughput, and on the
synthetic corpus's HTML turns it takes ~70 µs a turn against ~320 µs
for the html.parser form (one core of a 4-core Xeon host), and (b)
html.parser's recovery on malformed refs is pathological for an
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
from collections import defaultdict

from batukh_spark.oracle import constants as C
from batukh_spark.oracle.blocks import Block, finalize_block
from batukh_spark.oracle.canonical import canonicalize

_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})

# master scanner: ordered alternatives, leftmost-longest within each.
# Alternatives that can match at the same position keep their relative
# order (comment before decl, the ;-forms before the bare refs, stray
# last); text and tags come first because they are most of every page.
# An attribute run is atomic (a lookahead captures it and the
# backreference consumes it, since `++` needs Python 3.11): a run of plain
# characters has one parse, and an unclosed tag must not retry its splits.
_TOKEN_RE = re.compile(r"""
    (?P<text>[^<&]+)
  | (?P<starttag><(?P<stag>[a-zA-Z][a-zA-Z0-9._:-]*)
        (?P<attrs>(?:(?=(?P<run>[^>"']+))(?P=run)|"[^"]*"|'[^']*')*)
        >)
  | (?P<endtag></\s*(?P<etag>[a-zA-Z][a-zA-Z0-9._:-]*)[^>]*>)
  | (?P<comment><!--.*?(?:-->|$))
  | (?P<decl><![^>]*>?)
  | (?P<pi><\?[^>]*>?)
  | (?P<charref>&\#(?:[0-9]+|[xX][0-9a-fA-F]+);)
  | (?P<charref_ns>&\#(?:[0-9]+|[xX][0-9a-fA-F]+))
  | (?P<entityref>&[a-zA-Z][a-zA-Z0-9]*;)
  | (?P<entityref_ns>&[a-zA-Z][a-zA-Z0-9]*)
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

_G = _TOKEN_RE.groupindex
_TEXT, _STARTTAG, _STAG, _ATTRS, _ENDTAG, _ETAG = (
    _G["text"], _G["starttag"], _G["stag"], _G["attrs"], _G["endtag"],
    _G["etag"])
_CHARREF, _CHARREF_NS, _ENTITYREF, _ENTITYREF_NS, _STRAY = (
    _G["charref"], _G["charref_ns"], _G["entityref"], _G["entityref_ns"],
    _G["stray"])


def _tag_table() -> dict[str, tuple]:
    """tag -> (flags, is_block, is_void, is_rawtext) for every tag with a
    role in `constants`; any other tag is `_OTHER_TAG`.  `flags` is the
    frame's (skip, boiler, code, tool, anchor) counts, or None when all
    are zero."""
    table = {}
    for tag in (C.SKIP_TAGS | C.BOILERPLATE_TAGS | C.CODE_TAGS
                | C.BLOCK_TAGS | _VOID_TAGS | {"a"}):
        flags = (int(tag in C.SKIP_TAGS), int(tag in C.BOILERPLATE_TAGS),
                 int(tag in C.CODE_TAGS), 0, int(tag == "a"))
        table[tag] = (flags if any(flags) else None, tag in C.BLOCK_TAGS,
                      tag in _VOID_TAGS, tag in _RAWTEXT_CLOSE)
    return table


_TAGS = _tag_table()
_OTHER_TAG = (None, False, False, False)


def _emit(blocks: list[Block], parts: list[str], anchor_parts: list[str],
          start: int, last, kind: str, structural: bool) -> None:
    """Close the open block: `last` is the match of its last segment."""
    anchor_len = (len(canonicalize("".join(anchor_parts)))
                  if anchor_parts else 0)
    b = finalize_block("".join(parts), anchor_len, start, last.end(), kind,
                       structural)
    if b is not None:
        blocks.append(b)


def tokenize_html_fast(raw: str) -> list[Block]:
    blocks: list[Block] = []
    # frames (tag, flags, block_under) over a sentinel; block_under is the
    # nearest block tag at or below the frame, so a close recomputes
    # block_tag in O(1)
    stack: list[tuple] = [(None, None, None)]
    # open frames per tag: a close with no open frame returns at once
    n_open: defaultdict[str, int] = defaultdict(int)
    n_skip = n_boiler = n_code = n_tool = n_anchor = 0
    block_tag = None
    # the open block: b_start < 0 when none is open
    parts: list[str] = []
    anchor_parts: list[str] = []
    b_start = -1
    b_last = b_kind = b_structural = None
    pos = 0
    while True:
        rawtext = None
        for m in _TOKEN_RE.finditer(raw, pos):
            kind = m.lastindex
            if kind == _TEXT or kind == _STRAY:
                s = m.group()
            elif kind == _STARTTAG:
                tag = m.group(_STAG)
                info = _TAGS.get(tag)
                if info is None:
                    tag = tag.lower()
                    info = _TAGS.get(tag, _OTHER_TAG)
                flags, is_block, is_void, is_rawtext = info
                if is_block and b_start >= 0:
                    _emit(blocks, parts, anchor_parts, b_start, b_last,
                          b_kind, b_structural)
                    parts = []
                    anchor_parts = []
                    b_start = -1
                if is_void:
                    # a <br> before a block's first segment would only
                    # lead its text with whitespace, which canonicalize
                    # strips
                    if tag == "br" and b_start >= 0:
                        parts.append("\n")
                    continue
                if is_block:
                    block_tag = tag
                attrs = m.group(_ATTRS)
                if attrs:
                    if "class" in attrs or "CLASS" in attrs or (
                            "Class" in attrs):
                        cm = _CLASS_RE.search(attrs)
                        if cm and C.TOOL_CLASS_MARKER in (
                                cm.group(1) or cm.group(2) or cm.group(3)
                                or "").lower():
                            flags = (flags[:3] + (1,) + flags[4:]
                                     if flags else (0, 0, 0, 1, 0))
                    if attrs.rstrip().endswith("/"):
                        continue  # self-closing: no frame
                stack.append((tag, flags,
                              tag if is_block else stack[-1][2]))
                n_open[tag] += 1
                if flags:
                    n_skip += flags[0]
                    n_boiler += flags[1]
                    n_code += flags[2]
                    n_tool += flags[3]
                    n_anchor += flags[4]
                if is_rawtext:
                    rawtext = tag
                    pos = m.end()
                    break
                continue
            elif kind == _ENDTAG:
                tag = m.group(_ETAG)
                info = _TAGS.get(tag)
                if info is None:
                    tag = tag.lower()
                    info = _TAGS.get(tag, _OTHER_TAG)
                if info[2]:
                    continue  # void
                if info[1] and b_start >= 0:
                    _emit(blocks, parts, anchor_parts, b_start, b_last,
                          b_kind, b_structural)
                    parts = []
                    anchor_parts = []
                    b_start = -1
                if n_open[tag]:
                    # pop down to the innermost open frame of this tag
                    while True:
                        f = stack.pop()
                        n_open[f[0]] -= 1
                        flags = f[1]
                        if flags:
                            n_skip -= flags[0]
                            n_boiler -= flags[1]
                            n_code -= flags[2]
                            n_tool -= flags[3]
                            n_anchor -= flags[4]
                        if f[0] == tag:
                            break
                block_tag = stack[-1][2]
                continue
            elif kind == _ENTITYREF or kind == _ENTITYREF_NS:
                # unescape implements HTML5 named refs including the
                # legacy semicolon-less table; unknown names come back
                # verbatim
                g = m.group()
                s = _COMMON_ENTITIES.get(g)
                if s is None:
                    s = _htmlmod.unescape(g)
            elif kind == _CHARREF or kind == _CHARREF_NS:
                g = m.group()
                body = g[2:-1] if kind == _CHARREF else g[2:]
                try:
                    s = chr(int(body[1:], 16) if body[0] in "xX"
                            else int(body))
                except (ValueError, OverflowError):
                    continue
            else:
                continue  # comment / decl / pi
            if n_skip:
                continue
            if b_start < 0:
                b_start = m.start()
                b_structural = n_boiler > 0
                if n_tool:
                    b_kind = C.KIND_TOOL
                elif n_code:
                    b_kind = C.KIND_CODE
                elif block_tag in C.HEADING_TAGS:
                    b_kind = C.KIND_HEADING
                else:
                    b_kind = C.KIND_CONTENT
            b_last = m
            parts.append(s)
            if n_anchor:
                anchor_parts.append(s)
        if rawtext is None:
            break
        # raw-text mode: the content is skipped wholesale up to the close
        # tag, which pops the frame just pushed
        m = _RAWTEXT_CLOSE[rawtext].search(raw, pos)
        if m is None:
            break  # unterminated script/style: rest is skipped
        f = stack.pop()
        n_open[rawtext] -= 1
        flags = f[1]
        n_skip -= flags[0]
        n_boiler -= flags[1]
        n_code -= flags[2]
        n_tool -= flags[3]
        n_anchor -= flags[4]
        block_tag = f[2]
        pos = m.end()
    if b_start >= 0:
        _emit(blocks, parts, anchor_parts, b_start, b_last, b_kind,
              b_structural)
    return blocks
