"""Differential test: the oracle and the kernel's per-turn unpacking
against their previous forms in reference_twins.py, byte for byte.

Compared per input: the full kernel row (`family`, `extracted_text`,
`n_blocks`, `n_kept`, `spans`, `error`) from `kernels._extract_cols`,
the `html_blocks_udf` block fields, and the PDF `Line` fields.  Inputs
on which the twin raises (malformed PDF payloads) are pinned in
test_oracle.py instead: there the twin raises and the oracle counts a
parse error.
"""

import json
import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

import reference_twins as R
from batukh_spark import kernels, synth
from batukh_spark.oracle.canonical import canonical_words, canonicalize
from batukh_spark.oracle.pdf_layout import parse_pdf_layout
from fixture_corpus import FIXTURES

_ROLES = ["user", "assistant", "tool", None]


def _rows(cols):
    spans = cols["spans"]
    if not isinstance(spans, list):
        spans = spans.to_pylist()
    return list(zip(cols["family"], cols["extracted_text"],
                    cols["n_blocks"], cols["n_kept"], spans, cols["error"]))


def _block_fields(blocks):
    return [{"block_id": i, "kind": b.kind, "start": b.start, "end": b.end,
             "n_words": b.n_words, "score": b.score,
             "link_density": b.link_density, "keep": b.keep}
            for i, b in enumerate(blocks)]


def _line_fields(lines):
    return None if lines is None else [
        (ln.page, ln.line, ln.col, ln.x0, ln.y0, ln.x1, ln.y1, ln.text,
         ln.is_header_footer) for ln in lines]


def _assert_same(turns):
    """turns: (text, role, tool) triples."""
    texts = [t for t, _, _ in turns]
    roles = [r for _, r, _ in turns]
    tools = [tl for _, _, tl in turns]
    got = _rows(kernels._extract_cols(texts, roles, tools))
    want = _rows(R.extract_cols_reference(texts, roles, tools))
    for text, g, w in zip(texts, got, want):
        assert g == w, repr(text)[:300]

    html = [t for t in texts if isinstance(t, str) and t]
    got = kernels.html_blocks_udf.func(pd.Series(html, dtype=object))
    for text, g in zip(html, got.tolist()):
        blocks = R.tokenize_html_fast_reference(text)
        R.classify_and_keep_reference(blocks)
        assert g == _block_fields(blocks), repr(text)[:300]

    for text in texts:
        if isinstance(text, str) and '"pdf_layout"' in text[:200]:
            assert _line_fields(parse_pdf_layout(text)) == _line_fields(
                R.parse_pdf_layout_reference(text)), text[:300]


def _corpus(seed, convs):
    return [(t["text"], t["role"], t["tool"])
            for ci in convs for ti in range(synth.turns_in_conv(ci, seed=seed))
            for t in [synth.make_turn(ci, ti, seed=seed)]]


def test_synthetic_corpora():
    # conv 996 of seed 42 is a 2,000-turn mega conversation
    assert synth.turns_in_conv(996, seed=42) == 2000
    for seed, convs in ((42, range(990, 1000)), (7, range(150)),
                        (1601, range(150))):
        _assert_same(_corpus(seed, convs))


def test_golden_fixtures():
    _assert_same([(fx["text"], fx["role"], fx["tool"]) for fx in FIXTURES])


def test_null_empty_and_whitespace_text():
    _assert_same([(t, r, None) for t in
                  (None, "", " ", "\n\t ", "\u3000", "\x1c", "\xa0\n")
                  for r in ("user", "tool")])


_SIX_WORDS = "six words of plain content here "


def test_constructed_html():
    _assert_same([(t, "assistant", None) for t in (
        # the quadratic inputs of test_oracle.py at 2k elements
        "<ul>" + "<li>a" * 2000,
        "<span>x " * 2000 + "</p>" * 2000,
        "<h2>t</h2>" * 2000,
        "<h2>t</h2>" * 2000 + "<p>" + "w " * 12 + "</p>",
        # a heading titles the next block that is not chrome
        f"<h2>t</h2><aside>a b</aside><p>{_SIX_WORDS}</p>",
        f"<h2>t</h2><nav><a href=x>n</a></nav><h3>u</h3><p>{_SIX_WORDS}</p>",
        "<h2>t</h2><footer>f</footer>",
        # a stray close resets the block tag a self-closed heading set
        "<div><h2/></q>y z</div>",
        "<div><h2/>y z</div>",
    )])


_TAG_SOUP = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<DIV>", "</Div >", "<hr>", "<hr/>",
    "<br>", "<BR/>", "<nav>", "</nav>", "<header>", "</footer>", "<aside>",
    "<h1>", "</h1>", "<h2>", "</h2>", "<pre>", "</pre>", "<code>", "<li>",
    "</li>", "<ul>", "</ul>", "<span>", "</span>", "</x>", "<p/>",
    "<div/>", "<a href='x'>", "</a>", '<div class="tool">',
    "<span CLASS=Tool-x>", "<script>", "</script>", "<style>",
    "</STYLE >", "<script class='tool'>", "<title>", "</title>",
    "<textarea>", "<!-- c -->", "<!--", "-->", "<!DOCTYPE html>",
    "<?pi?>", "<img src='x'>", "&amp;", "&amp", "&lt;", "&#65;", "&#65",
    "&#x41;", "&#x41", "&#x110000;", "&#99999999999;", "&#0;", "&#",
    "&#x", "&unknown;", "&unknown", "&frac12", "&", "<", "</", "<!",
    "<h2/>", "<H3 />", "> ", "word ", "two words ", _SIX_WORDS, "x", " ",
    "\n", "\xa0", "\xe9",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_TAG_SOUP, max_size=50), st.sampled_from(_ROLES),
       st.sampled_from([None, "bash"]))
def test_tag_soup_with_malformed_refs(frags, role, tool):
    _assert_same([("".join(frags), role, tool)])


_SPECIAL = st.sampled_from([
    "\x00", "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", " ",
    "\u3000", "\u2028", "e\u0301", "\u0301", "\u212b", "\u212a",
    "A\u030a",
    "\t", "\n", "\n\n", "word ", "# ", "```\n", "<p>", "</p>", "<b>",
    "<pre>", "</pre>", "&nbsp;", "x",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_SPECIAL, max_size=40), st.sampled_from(_ROLES))
def test_special_characters(frags, role):
    s = "".join(frags)
    assert canonicalize(s) == R.canonicalize_reference(s)
    text = R.canonicalize_reference(s)
    assert canonical_words(s) == (text, len(text.split()))
    _assert_same([(s, role, None), (s, role, "bash")])


def _pdf(tokens):
    return json.dumps({"kind": "pdf_layout", "tokens": tokens})


def _tok(t, x0, y0, x1, y1, page=0):
    return {"t": t, "x0": x0, "y0": y0, "x1": x1, "y1": y1, "page": page}


def test_pdf_edge_payloads():
    head = [_tok("CorpDoc", 10.0, 2.0, 66.0, 12.0, p) for p in range(3)]
    foot = [_tok(f"p{p + 1}", 250.0, 395.0, 270.0, 405.0, p)
            for p in range(3)]
    body = [_tok(w, 10.0 + 60 * (i % 2), 60.0 + 15 * (i // 2),
                 50.0 + 60 * (i % 2), 70.0 + 15 * (i // 2), p)
            for p in range(3) for i, w in enumerate("abcdef")]
    payloads = [
        _pdf([]),
        '{"kind": "pdf_layout"}',
        '{"kind": "pdf_layout", "tokens": "abc"}',
        '{"kind": "pdf_layout", "tokens": {"t": 1}}',
        _pdf(head + foot + body),
        # ties: identical boxes and equal x0 on one line
        _pdf([_tok("a", 10.0, 10.0, 20.0, 20.0)] * 3
             + [_tok("b", 10.0, 10.0, 30.0, 20.0)]),
        # overlapping boxes, negative coordinates, integer coordinates
        _pdf([_tok("o1", -50.0, -20.0, 40.0, -10.0),
              _tok("o2", -45.0, -18.0, 60.0, -8.0),
              _tok("o3", 0, 0, 30, 10), _tok("o4", 100, 0, 130, 10)]),
        # a missing page and a missing coordinate
        _pdf([{"t": "np", "x0": 1.0, "y0": 1.0, "x1": 9.0, "y1": 9.0},
              {"t": "nx", "y0": 1.0, "x1": 9.0, "y1": 9.0},
              _tok("p1", 1.0, 1.0, 9.0, 9.0, 1)]),
        # inverted boxes (one first on both axes) and empty or
        # whitespace texts
        _pdf([_tok("a", 0.0, 0.0, -100.0, 10.0),
              _tok("c", 5.0, 0.0, -200.0, 10.0),
              _tok("b", 10.0, 0.0, 40.0, 10.0)]),
        _pdf([_tok("a", 0.0, 0.0, 10.0, -100.0),
              _tok("c", 0.0, 5.0, 10.0, -200.0),
              _tok("b", 0.0, 10.0, 10.0, 40.0)]),
        _pdf([_tok("inv", 80.0, 50.0, 10.0, 40.0),
              _tok("", 0.0, 0.0, 5.0, 5.0), _tok(" ", 200.0, 0.0, 205.0, 5.0),
              _tok("z", 300.0, 300.0, 320.0, 310.0)]),
        # non-finite coordinates: `json` reads NaN and Infinity
        '{"kind": "pdf_layout", "tokens": [{"t": "a", "x0": NaN, "y0": 1,'
        ' "x1": 5, "y1": 9}, {"t": "b", "x0": 100, "y0": 1, "x1": 120,'
        ' "y1": 9}, {"t": "c", "x0": 0, "y0": 200, "x1": Infinity,'
        ' "y1": 210}]}',
    ]
    _assert_same([(p, None, None) for p in payloads])
    for p in payloads[4:]:
        assert parse_pdf_layout(p), p


_COORD = st.one_of(
    st.sampled_from([-40.0, -10.0, 0.0, 10.0, 10.0, 35.5, 60.0, 310.0]),
    st.floats(-100, 500, allow_nan=False), st.integers(-50, 400))
_PDF_TOKEN = st.builds(
    lambda t, x0, y0, w, h, page, drop: {
        k: v for k, v in (("t", t), ("x0", x0), ("y0", y0),
                          ("x1", x0 + w), ("y1", y0 + h), ("page", page))
        if k != drop and v is not None},
    st.sampled_from(["w", "CorpDoc", "p1", "p2", "", " ", "x y", "\xa0z",
                     "42", "e\u0301"]),
    _COORD, _COORD, st.sampled_from([0.0, 8.0, 30.0, 64.0, -5.0, -80.0]),
    st.sampled_from([10.0, 0.0, 3.5, 20.0, -2.0, -40.0]),
    st.one_of(st.none(), st.integers(0, 2)),
    st.sampled_from([None] * 12 + ["t", "x1", "page"]))


@settings(max_examples=300, deadline=None)
@given(st.lists(_PDF_TOKEN, max_size=40), st.booleans())
def test_pdf_payloads(tokens, repeat_header):
    if repeat_header:
        tokens = tokens + [_tok("CorpDoc", 10.0, 2.0, 66.0, 12.0, p)
                           for p in range(3)]
    _assert_same([(_pdf(tokens), None, None)])


def test_random_pdf_layouts():
    rng = random.Random(11)
    payloads = []
    for _ in range(300):
        toks = []
        for _ in range(rng.randrange(0, 60)):
            x0 = rng.choice([rng.uniform(-50, 400), 10.0, 310.0])
            y0 = rng.choice([rng.uniform(-50, 400), 2.0, 395.0,
                             60.0 + 15 * rng.randrange(6)])
            toks.append(_tok(rng.choice(["a", "bb", "p1", "p2"]), x0, y0,
                             x0 + rng.uniform(-5, 60),
                             y0 + rng.choice([10.0, rng.uniform(-3, 20)]),
                             rng.randrange(3)))
        payloads.append((_pdf(toks), None, None))
    _assert_same(payloads)
