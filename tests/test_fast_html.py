"""Differential tests: fast regex tokenizer vs html.parser reference.

The FAST scanner is the frozen oracle (html_extract.tokenize_html calls
it with NO fallback).  Contract: on golden fixtures, realistic
(synthetic-corpus) payloads, and any markup whose entity/char refs are
well-terminated, the two tokenizers are byte-identical.  On
semicolon-less refs they legally diverge — html.parser's recovery is
pathological there (swallows markup after bare '&#', invents trailing
semicolons) — and the fast scanner's browser-style behavior is pinned
explicitly by test_frozen_semantics_on_malformed_refs.  On adversarial
tag soup the fast scanner must uphold all span/structure invariants.
"""

import random

from batukh_spark import synth
from batukh_spark.oracle.html_extract import tokenize_html
from fixture_corpus import FIXTURES
from reference_twins import tokenize_html_reference


def _sig(blocks):
    return [(b.kind, b.start, b.end, b.text, b.structural,
             round(b.score, 9), round(b.link_density, 9)) for b in blocks]


def test_fast_equals_reference_on_fixtures():
    for fx in FIXTURES:
        t = fx["text"]
        if "<" not in t:
            continue
        assert _sig(tokenize_html(t)) == _sig(tokenize_html_reference(t)), \
            f"{fx['conv_id']}/{fx['turn_idx']}"


def test_fast_equals_reference_on_synthetic_corpus():
    for c in range(300):
        for ti in range(6):
            tu = synth.make_turn(c, ti)
            if "<" not in tu["text"]:
                continue
            assert _sig(tokenize_html(tu["text"])) == \
                _sig(tokenize_html_reference(tu["text"])), f"{c}/{ti}"


def test_fast_equals_reference_on_wellterminated_refs():
    """Fuzz the aligned input class: tags may be arbitrarily malformed,
    but refs are well-terminated (or plain stray '&' / '<')."""
    rng = random.Random(7)
    frags = ["<p>", "</p>", "<div>", "<hr>", "<hr/>", "&amp;", "&#65;",
             "&#x41;", "&unknown;", "w ", "x", "<a href='x'>", "</a>",
             "<nav>", "</nav>", "<b>", "</b>", "<h2>", "</h2>", "<br>",
             "<pre>", "</pre>", '<div class="tool">', "</div>",
             "<!-- c -->", "<img src='x'>", "& ", "< "]
    for _ in range(500):
        s = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 60)))
        assert _sig(tokenize_html(s)) == _sig(tokenize_html_reference(s)), \
            repr(s)


def test_frozen_semantics_on_malformed_refs():
    """Pins the frozen oracle's browser-style handling of semicolon-less
    refs and bare <hr> (the cases where html.parser legally diverges)."""
    cases = {
        "<div>one two<hr>three four</div>": ["one two", "three four"],
        "<p>Tom &amp Jerry went</p>": ["Tom & Jerry went"],
        "<p>&#65 grade paper</p>": ["A grade paper"],
        "<p>ends &amp</p>": ["ends &"],
        "<p>ends &#65</p>": ["ends A"],
        "<p>a &amp": ["a &"],
        "<p>a &#65": ["a A"],
        "<p>x &frac12 y</p>": ["x ½ y"],
        "<p>x &unknown y</p>": ["x &unknown y"],  # unknown name: raw
        "<p>x &# y</p>": ["x &# y"],              # bare &#: raw text
    }
    for raw, texts in cases.items():
        got = [b.text for b in tokenize_html(raw)]
        assert got == texts, f"{raw!r}: {got}"
    # bare <hr> flush is aligned in BOTH tokenizers
    raw = "<div>one two<hr>three four</div>"
    assert _sig(tokenize_html(raw)) == _sig(tokenize_html_reference(raw))


def test_fast_invariants_on_tag_soup():
    rng = random.Random(99)
    frags = ["<p>", "</p>", "<div>", "&amp;", "&", "<", ">", "w ",
             "<a href='x'>", "</a>", "<script>", "</script>", "<!--",
             "-->", "<br>", "<pre>", "</", '<div class="tool">',
             "<B>", "</b>", "<nav>", "</nav>", "&#x41;", "<!DOCTYPE html>",
             "<style>", "</style>", "<h2>", "</h2>", "<img src='x'>"]
    for _ in range(500):
        s = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 60)))
        blocks = tokenize_html(s)
        last_end = 0
        for b in blocks:
            assert 0 <= b.start < b.end <= len(s)
            assert b.start >= last_end  # ordered, non-overlapping
            last_end = b.end
            assert b.text  # finalize drops empties
