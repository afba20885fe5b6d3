"""Oracle unit tests: golden equality + randomized invariants.

Mirrors the reference's test strategy (SURVEY §5): hand-written golden
cases for selection/ordering semantics
(/root/reference/test/torch/test_segmenter_methods.py:8-39) plus
randomized invariant tests
(/root/reference/test/torch/models/test_ocr_models.py:8-35).
"""

import json
import os
import random
import re
import time

import pytest

from batukh_spark.oracle import canonicalize, detect_family, extract
from batukh_spark.oracle.extract import FAMILY_HTML, FAMILY_PDF, FAMILY_PLAIN
from fixture_corpus import FIXTURES

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "fixtures",
                           "golden_spans.json")


def _golden():
    with open(GOLDEN_PATH) as f:
        return {(r["conv_id"], r["turn_idx"]): r for r in json.load(f)}


@pytest.mark.parametrize("fx", FIXTURES,
                         ids=[f"{f['conv_id']}-{f['turn_idx']}"
                              for f in FIXTURES])
def test_golden_equality(fx):
    golden = _golden()[(fx["conv_id"], fx["turn_idx"])]
    r = extract(fx["text"], role=fx["role"], tool=fx["tool"])
    assert r.family == golden["family"]
    assert r.extracted_text == golden["extracted_text"]
    assert [{"start": s, "end": e, "kind": k} for s, e, k in r.spans] \
        == golden["spans"]


@pytest.mark.parametrize("fx", FIXTURES,
                         ids=[f"{f['conv_id']}-{f['turn_idx']}"
                              for f in FIXTURES])
def test_span_invariants(fx):
    r = extract(fx["text"], role=fx["role"], tool=fx["tool"])
    n = len(fx["text"])
    spans = r.spans
    # in-bounds
    assert all(0 <= s < e <= n for s, e, _ in spans), spans
    # sorted in reading order and non-overlapping
    for (s1, e1, _), (s2, e2, _) in zip(spans, spans[1:]):
        assert e1 <= s2, f"overlap: {(s1, e1)} vs {(s2, e2)}"
    # extracted text equals join of canonical block texts for kept blocks
    if r.blocks:
        assert r.extracted_text == "\n".join(
            b.text for b in r.blocks if b.keep)


def test_idempotence_on_plain():
    for fx in FIXTURES:
        once = extract(fx["text"], role=fx["role"], tool=fx["tool"])
        if once.family != FAMILY_PLAIN or "```" in fx["text"]:
            continue
        twice = extract(once.extracted_text)
        assert twice.extracted_text == extract(
            twice.extracted_text).extracted_text


def test_whitespace_jitter_invariance():
    """The augmentation analogue (/root/reference/batukh/torch/utils/data/
    augmentation.py:6-71): perturbations that don't change content must not
    change extracted text."""
    rng = random.Random(42)
    base = ("<div><p>one two three four five six seven eight nine ten "
            "eleven twelve</p><p>second paragraph also with a good many "
            "words inside of it</p></div>")
    want = extract(base).extracted_text
    for _ in range(25):
        jittered = re.sub(
            r">\s*<", lambda m: ">" + " \n\t"[rng.randrange(3)] * rng.randrange(1, 4) + "<",
            base)
        got = extract(jittered).extracted_text
        assert got == want


def test_attribute_order_invariance():
    a = '<p class="x" id="y" data-z="1">words words words words words words words words words words</p>'
    b = '<p data-z="1" id="y" class="x">words words words words words words words words words words</p>'
    assert extract(a).extracted_text == extract(b).extracted_text


def test_entity_form_invariance():
    variants = [
        "<p>Tom &amp; Jerry plus many extra words to clear the content bar easily today</p>",
        "<p>Tom &#38; Jerry plus many extra words to clear the content bar easily today</p>",
        "<p>Tom &#x26; Jerry plus many extra words to clear the content bar easily today</p>",
    ]
    texts = {extract(v).extracted_text for v in variants}
    assert len(texts) == 1 and texts.pop().startswith("Tom & Jerry")


def test_detect_family():
    assert detect_family("<p>x</p>") == FAMILY_HTML
    assert detect_family('{"kind": "pdf_layout", "tokens": []}') == FAMILY_PDF
    assert detect_family("plain words, a < b maybe") == FAMILY_PLAIN
    assert detect_family("") == "empty"
    assert detect_family(None) == "empty"


def test_canonicalize():
    assert canonicalize("  a\t b\n\nc d  ") == "a b c d"
    assert canonicalize("") == ""


def test_pdf_order_insensitive_random():
    rng = random.Random(7)
    toks = [{"t": f"w{i}", "x0": 10.0 + 50 * (i % 2),
             "y0": 100.0 + 15 * (i // 2),
             "x1": 40.0 + 50 * (i % 2), "y1": 110.0 + 15 * (i // 2),
             "page": 0} for i in range(12)]
    payload = {"kind": "pdf_layout", "tokens": toks}
    want = extract(json.dumps(payload)).extracted_text
    for _ in range(10):
        rng.shuffle(toks)
        got = extract(json.dumps({"kind": "pdf_layout",
                                  "tokens": toks})).extracted_text
        assert got == want


def test_randomized_html_never_raises():
    """Fuzz: extractor must never raise on arbitrary tag soup
    (ignore_errors analogue, but accounted)."""
    rng = random.Random(1234)
    frags = ["<p>", "</p>", "<div>", "&amp;", "&", "<", ">", "word ",
             "<a href='x'>", "</a>", "<script>", "</script>", "<!--", "-->",
             "<br>", "<pre>", "é中 ", "</",
             '<div class="tool">', "```", "\n\n"]
    for _ in range(200):
        s = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 40)))
        r = extract(s, role=rng.choice(["user", "assistant", "tool", None]))
        assert r.extracted_text is not None
        for st, en, _ in r.spans:
            assert 0 <= st < en <= len(s)


# Inputs that were quadratic in the scanner or the keep pass: an
# unclosed tag per block (HTML5 omits `</li>`), stray close tags over a
# deep stack, and a run of headings.  At 16k elements each took 5-16
# CPU-s before.  An input 8x larger must cost about 8x the CPU, not the
# ~64x of a quadratic pass; best of 3 runs a size keeps host noise out.
@pytest.mark.parametrize("make", [
    lambda n: "<ul>" + "<li>a" * n,
    lambda n: "<span>x " * n + "</p>" * n,
    lambda n: "<h2>t</h2>" * (2 * n),
], ids=["unclosed_li", "stray_close", "heading_run"])
def test_html_pathological_inputs_are_linear(make):
    def cpu_s(raw):
        best = float("inf")
        for _ in range(3):
            t0 = time.process_time()
            r = extract(raw, role="assistant")
            best = min(best, time.process_time() - t0)
        assert r.family == FAMILY_HTML and r.blocks
        return best

    assert cpu_s(make(16000)) <= 16 * cpu_s(make(2000))


def _layout(tokens):
    return json.dumps({"kind": "pdf_layout", "tokens": tokens})


_TOKEN = {"t": "w", "x0": 1.0, "y0": 1.0, "x1": 9.0, "y1": 9.0, "page": 0}


# Payloads the layout parser cannot process: each raised out of
# `extract`, and so failed the whole kernel task.
@pytest.mark.parametrize("payload", [
    _layout([dict(_TOKEN, x0="1", x1="9")]),
    _layout([dict(_TOKEN, y0=None)]),
    _layout([dict(_TOKEN, page="p1")]),
    _layout([dict(_TOKEN, t=5)]),
    '{"kind": "pdf_layout", "tokens": 5}',
    '{"kind": "pdf_layout", "tokens": ' + "[" * 5000 + "]" * 5000 + "}",
    _layout([dict(_TOKEN, x0=10 ** 400)]),
    _layout([dict(_TOKEN, x0=10 ** 400, x1=-10 ** 400), _TOKEN]),
], ids=["string_coords", "null_coord", "page_p1", "numeric_text",
        "tokens_int", "deep_nesting", "huge_int_coord", "huge_int_span"])
def test_malformed_pdf_layout_is_a_counted_parse_error(payload):
    from reference_twins import parse_pdf_layout_reference
    with pytest.raises((TypeError, ValueError, RecursionError,
                        OverflowError)):
        parse_pdf_layout_reference(payload)
    from batukh_spark.oracle.extract import _extract_plain
    r = extract(payload, role="assistant")
    assert r.error == "pdf_layout_parse_error"
    assert r.family == FAMILY_PLAIN
    assert r.extracted_text == _extract_plain(
        payload, "assistant", None).extracted_text
