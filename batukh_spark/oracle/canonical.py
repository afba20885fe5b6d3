"""Pinned text canonicalization.

The single place where text normalization happens, shared by the oracle and
every Spark kernel — the analogue of the reference's shape normalization to
floor-multiples of 32 (`/root/reference/batukh/tensorflow/utils/data/
dataloader.py:66-67`), which likewise pins ONE canonical form so that every
downstream stage agrees.
"""

import re
import unicodedata

_WS_RE = re.compile("[ \t\r\n\f\v\u00a0]+")


def canonicalize(s: str) -> str:
    """NFC-normalize, fold NBSP into space, collapse whitespace runs, strip."""
    if not s:
        return ""
    if s.isascii():  # NFC is the identity on ASCII
        # str.split() splits on _WS_RE's class plus the ASCII separators
        # \x1c-\x1f, so without those it folds exactly as the regex does
        if not ("\x1c" in s or "\x1d" in s or "\x1e" in s or "\x1f" in s):
            return " ".join(s.split())
    else:
        s = unicodedata.normalize("NFC", s)
    return _WS_RE.sub(" ", s).strip()


def canonical_words(s: str) -> tuple[str, int]:
    """`canonicalize(s)` and its number of whitespace-separated words,
    splitting once where the split is exact."""
    if s.isascii() and not ("\x1c" in s or "\x1d" in s or "\x1e" in s
                            or "\x1f" in s):
        words = s.split()
        return " ".join(words), len(words)
    text = canonicalize(s)
    return text, len(text.split())
