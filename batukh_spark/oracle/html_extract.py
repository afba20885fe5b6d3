"""HTML main-content extraction on stdlib only (no lxml/bs4 in env).

Transcript-domain analogue of PageExtractor + ImageExtractor +
LayoutExtractor (`/root/reference/batukh/torch/segmenter.py:414-702`,
`/root/reference/batukh/tensorflow/segmenter.py:11-197`): tokenizes markup
into blocks, classifies each block into k classes (content / boilerplate /
heading / code / tool_output), scores by text-density + link-density, and
keeps the main-content region — dropping chrome (nav/header/footer/aside),
scripts/styles and link farms the way the reference crops away page border
and background.

Tolerant of malformed markup (unclosed tags, stray close tags, bare `&`):
the regex scanner (`fast_html.py`) recovers browser-style instead of
rejecting bad input, mirroring the error-tolerant scan `ignore_errors()` in the reference
(`/root/reference/batukh/tensorflow/utils/data/dataloader.py:47`).
"""

from __future__ import annotations

from batukh_spark.oracle.blocks import Block
from batukh_spark.oracle.fast_html import tokenize_html_fast


def tokenize_html(raw: str) -> list[Block]:
    """raw HTML (document or fragment) → ordered list of Blocks.

    The single-pass regex scanner (fast_html.py) IS the frozen oracle;
    behavior pinned by goldens + fuzz differential.  No fallback: a
    scanner exception must surface (silently swapping tokenizers would
    make extraction output path-dependent and break the frozen-oracle
    determinism contract)."""
    return tokenize_html_fast(raw)
