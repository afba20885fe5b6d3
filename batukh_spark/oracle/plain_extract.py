"""Plain / markdown-ish / tool-transcript payload extraction.

Splits text into paragraph blocks on blank lines; fenced ``` regions become
code blocks (tool_output when the turn role is 'tool' or a tool name is
attached); `#`-prefixed lines become headings.  The analogue of the
reference treating an already-cropped page: most of the payload IS main
content, only classification and ordering remain (SURVEY §2 K4/K5).
"""

from __future__ import annotations

import re

from batukh_spark.oracle import constants as C
from batukh_spark.oracle.blocks import Block, finalize_block

_FENCE_RE = re.compile(r"^\s*```")
_HEADING_RE = re.compile(r"^\s{0,3}#{1,6}\s+")
_BLANK_RE = re.compile(r"\n[ \t]*\n+")


def tokenize_plain(raw: str, role: str | None = None,
                   tool: str | None = None) -> list[Block]:
    blocks: list[Block] = []
    is_toolish = role == "tool" or bool(tool)
    # walk fenced regions first so blank lines inside fences don't split
    pos = 0
    lines = raw.split("\n")
    offsets = []
    off = 0
    for ln in lines:
        offsets.append(off)
        off += len(ln) + 1

    segments: list[tuple[int, int, str]] = []  # (start, end, kind)
    in_fence = False
    seg_start = 0
    fence_body_start = 0
    for i, ln in enumerate(lines):
        if _FENCE_RE.match(ln):
            if not in_fence:
                # close the running prose segment before the fence line
                if offsets[i] > seg_start:
                    segments.append((seg_start, offsets[i], "prose"))
                in_fence = True
                fence_body_start = offsets[i] + len(ln) + 1
            else:
                fence_kind = C.KIND_TOOL if is_toolish else C.KIND_CODE
                end = offsets[i]  # exclude the closing fence line
                if end > fence_body_start:
                    segments.append((fence_body_start, end, fence_kind))
                in_fence = False
                seg_start = offsets[i] + len(ln) + 1
    tail_end = len(raw)
    if in_fence:
        fence_kind = C.KIND_TOOL if is_toolish else C.KIND_CODE
        if tail_end > fence_body_start:
            segments.append((fence_body_start, tail_end, fence_kind))
    elif tail_end > seg_start:
        segments.append((seg_start, tail_end, "prose"))

    for seg_s, seg_e, seg_kind in segments:
        chunk = raw[seg_s:seg_e]
        if seg_kind != "prose":
            b = finalize_block(chunk, 0, seg_s, seg_e, seg_kind, False)
            if b is not None:
                blocks.append(b)
            continue
        # split prose on blank lines, preserving offsets
        last = 0
        for m in _BLANK_RE.finditer(chunk):
            _add_prose(blocks, chunk[last:m.start()], seg_s + last,
                       seg_s + m.start())
            last = m.end()
        _add_prose(blocks, chunk[last:], seg_s + last, seg_s + len(chunk))
    return blocks


def _add_prose(blocks: list[Block], piece: str, start: int, end: int) -> None:
    if not piece.strip():
        return
    kind = C.KIND_HEADING if _HEADING_RE.match(piece) else C.KIND_CONTENT
    b = finalize_block(piece, 0, start, end, kind, False)
    if b is not None:
        blocks.append(b)
