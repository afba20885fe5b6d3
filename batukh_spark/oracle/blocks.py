"""Block model shared by every payload family.

A Block is the transcript-domain analogue of a contour bounding box
`(x, y, w, h)` in the reference (`/root/reference/batukh/torch/
segmenter.py:547-554`): a contiguous region of the payload with a class,
a score, and a keep decision.  `start`/`end` are char offsets into the raw
input `text` (html/plain); PDF-layout lines carry geometry instead (see
pdf_layout.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from batukh_spark.oracle import constants as C
from batukh_spark.oracle.canonical import canonical_words


@dataclass(slots=True)
class Block:
    kind: str = C.KIND_CONTENT
    start: int = 0            # char offset of first raw segment
    end: int = 0              # char offset one past last raw segment
    text: str = ""            # canonicalized block text
    n_chars: int = 0          # len(canonical text)
    n_words: int = 0
    n_anchor_chars: int = 0   # canonical chars contributed inside <a>
    structural: bool = False  # hard boilerplate (nav/header/footer/aside)
    score: float = 0.0        # text density (words per virtual line)
    link_density: float = 0.0
    keep: bool = False


def finalize_block(raw: str, anchor_chars: int, start: int, end: int,
                   kind: str, structural: bool) -> Block | None:
    """Build a Block from its raw (decoded) text; None if empty."""
    text, n_words = canonical_words(raw)
    if not text:
        return None
    n_chars = len(text)
    n_anchor = anchor_chars if anchor_chars < n_chars else n_chars
    # words per virtual line of C.WRAP_CHARS chars (integer ceil)
    return Block(kind, start, end, text, n_chars, n_words, n_anchor,
                 structural, n_words / ((n_chars + C.WRAP_CHARS - 1)
                                        // C.WRAP_CHARS),
                 n_anchor / n_chars)


def classify_and_keep(blocks: list[Block], role: str | None = None) -> None:
    """Score → classify → neighbour-smooth → keep, in place.

    The transcript-domain analogue of the reference's inference pipeline
    `predict → get_coordinates → get_pages` (`/root/reference/batukh/torch/
    segmenter.py:394-411,541-573`): per-region class decision (argmax ≈ the
    threshold rules below), then context smoothing (erosion ≈ the
    neighbour pass), then the keep/filter stage (area threshold ≈ density
    and link-density thresholds).

    Deterministic, order-stable; mutates `blocks`.
    """
    is_tool_role = role == "tool"

    # Pass 1: local classification.  Structural chrome (nav/header/footer/
    # aside ancestry) wins over every tokenizer kind — a heading inside
    # <header> is site chrome, not article content.
    for b in blocks:
        if b.structural:
            b.kind = C.KIND_BOILERPLATE
            continue
        if b.kind in (C.KIND_CODE, C.KIND_TOOL, C.KIND_HEADING):
            continue  # non-structural tokenizer kinds stand
        if b.link_density > C.LINK_DENSITY_MAX:
            b.kind = C.KIND_BOILERPLATE
        elif (b.n_words >= C.CONTENT_MIN_WORDS
              or b.score >= C.CONTENT_MIN_DENSITY):
            b.kind = C.KIND_CONTENT
        elif b.n_words < C.SHORT_BLOCK_WORDS:
            b.kind = C.KIND_BOILERPLATE  # soft — may be rescued below
        else:
            b.kind = C.KIND_CONTENT

    # Pass 2: neighbour smoothing — a short, link-light block sandwiched
    # next to content is content (U-Net context analogue, SURVEY §2 K1).
    # Only soft boilerplate (not structural, not link-dense) is rescued;
    # the neighbour sequence skips hard boilerplate so a nav bar doesn't
    # shield.  In order, so a rescued block counts as content for the
    # soft block after it.
    seq = [b for b in blocks
           if not (b.structural or (b.kind == C.KIND_BOILERPLATE
                                    and b.link_density > C.LINK_DENSITY_MAX))]
    last = len(seq) - 1
    for j, b in enumerate(seq):
        if b.kind == C.KIND_BOILERPLATE and (
                (j > 0 and seq[j - 1].kind == C.KIND_CONTENT)
                or (j < last and seq[j + 1].kind == C.KIND_CONTENT)):
            b.kind = C.KIND_CONTENT

    # Pass 3: keep decision, back to front.  A heading is kept iff the
    # next non-heading, non-structural block is kept (it "titles" kept
    # content); pass 1 made every structural block boilerplate.
    next_keep = False
    for b in reversed(blocks):
        kind = b.kind
        if kind == C.KIND_HEADING:
            b.keep = next_keep
            continue
        b.keep = (kind == C.KIND_CONTENT or kind == C.KIND_CODE
                  or (kind == C.KIND_TOOL and is_tool_role))
        if not b.structural:
            next_keep = b.keep


def assemble(blocks: list[Block]) -> str:
    """Ordered kept spans → extracted text (map2string analogue,
    /root/reference/batukh/tensorflow/ocr.py:61-87)."""
    return "\n".join(b.text for b in blocks if b.keep)
