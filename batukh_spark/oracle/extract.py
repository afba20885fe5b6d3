"""Per-turn extraction dispatcher — the full inference pipeline.

The analogue of E2 in SURVEY §3: `predict → get_coordinates → get_pages`
(`/root/reference/batukh/torch/segmenter.py:394-573`), i.e.
`text → blocks → scored blocks → kept spans → ordered extracted text`.

This module is the FROZEN contract: the Spark kernels call `extract()`
verbatim per value inside Arrow batches, so distributed output equals
oracle output per turn by construction.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from batukh_spark.oracle import constants as C
from batukh_spark.oracle.blocks import Block, assemble, classify_and_keep
from batukh_spark.oracle.html_extract import tokenize_html
from batukh_spark.oracle.pdf_layout import Line, assemble_pdf, parse_pdf_layout
from batukh_spark.oracle.plain_extract import tokenize_plain

FAMILY_HTML = "html"
FAMILY_PDF = "pdf_layout"
FAMILY_PLAIN = "plain"
FAMILY_EMPTY = "empty"

# a real tag shape: "<tag ...>", "</tag", "<!--", "<!doctype" — but not
# a bare comparison like "a < b"
_HTML_HINT_RE = re.compile(r"<(?:[a-zA-Z][a-zA-Z0-9-]*[\s/>]|/[a-zA-Z]|!)")


@dataclass
class ExtractResult:
    family: str
    extracted_text: str
    blocks: list[Block] = field(default_factory=list)   # html/plain
    lines: list[Line] = field(default_factory=list)     # pdf_layout
    error: str | None = None

    @property
    def spans(self) -> list[tuple[int, int, str]]:
        """Kept (start, end, kind) char spans — html/plain families."""
        return [(b.start, b.end, b.kind) for b in self.blocks if b.keep]


def detect_family(text: str | None) -> str:
    """Deterministic payload-family sniffing (no metadata trusted)."""
    if not text or text.isspace():
        return FAMILY_EMPTY
    if '"pdf_layout"' in text[:200] and text.lstrip().startswith("{"):
        return FAMILY_PDF
    if _HTML_HINT_RE.search(text):
        return FAMILY_HTML
    return FAMILY_PLAIN


def extract(text: str | None, role: str | None = None,
            tool: str | None = None) -> ExtractResult:
    """One turn in → spans + extracted text out.  Never raises."""
    family = detect_family(text)
    if family == FAMILY_EMPTY:
        return ExtractResult(family=family, extracted_text="")

    if family == FAMILY_PDF:
        lines = parse_pdf_layout(text)
        if lines is None:
            # unparseable layout JSON → fall through to plain semantics,
            # but COUNTED via error (reference drops silently at
            # tensorflow/utils/data/dataloader.py:47; we must account).
            res = _extract_plain(text, role, tool)
            res.error = "pdf_layout_parse_error"
            return res
        return ExtractResult(family=family,
                             extracted_text=assemble_pdf(lines),
                             lines=lines)

    if family == FAMILY_HTML:
        blocks = tokenize_html(text)
        classify_and_keep(blocks, role=role)
        return ExtractResult(family=family, extracted_text=assemble(blocks),
                             blocks=blocks)

    return _extract_plain(text, role, tool)


def _extract_plain(text: str, role: str | None,
                   tool: str | None) -> ExtractResult:
    """Plain family: the payload is already 'cropped' — keep everything
    except tool_output blocks outside tool turns."""
    blocks = tokenize_plain(text, role=role, tool=tool)
    is_tool_role = role == "tool" or bool(tool)
    for b in blocks:
        b.keep = b.kind != C.KIND_TOOL or is_tool_role
    return ExtractResult(family=FAMILY_PLAIN,
                         extracted_text=assemble(blocks), blocks=blocks)
