"""Property-based tokenizer tests (hypothesis).

Two contracts, with shrinking counterexamples when they break:

1. On the well-terminated-refs input class (tags arbitrarily malformed,
   entity/char refs terminated), the frozen fast scanner equals the
   html.parser differential reference byte-for-byte.
2. On ARBITRARY text the scanner upholds the span/structure invariants
   (ordered, non-overlapping, in-bounds, non-empty blocks) and never
   raises — the load-bearing guarantee now that the silent fallback is
   gone.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from batukh_spark.oracle.html_extract import tokenize_html
from reference_twins import tokenize_html_reference

_ALIGNED_FRAGS = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<hr>", "<hr/>", "<br>",
    "<nav>", "</nav>", "<h1>", "</h1>", "<pre>", "</pre>",
    "<a href='x'>", "</a>", '<div class="tool">', "<b>", "</b>",
    "<script>", "</script>", "<!-- c -->", "<img src='x'>",
    "<!DOCTYPE html>", "&amp;", "&lt;", "&#65;", "&#x41;", "&unknown;",
    "word ", "two words ", "x", " ", "\n", "& ", "< ", "> ",
])


def _sig(blocks):
    return [(b.kind, b.start, b.end, b.text, b.structural,
             round(b.score, 9), round(b.link_density, 9)) for b in blocks]


@settings(max_examples=300, deadline=None)
@given(st.lists(_ALIGNED_FRAGS, max_size=40))
def test_fast_equals_reference_on_aligned_class(frags):
    s = "".join(frags)
    assert _sig(tokenize_html(s)) == _sig(tokenize_html_reference(s))


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=400))
def test_invariants_on_arbitrary_text(s):
    blocks = tokenize_html(s)  # must never raise (no fallback exists)
    last_end = 0
    for b in blocks:
        assert 0 <= b.start < b.end <= len(s)
        assert b.start >= last_end
        last_end = b.end
        assert b.text
        assert 0.0 <= b.link_density <= 1.0


@settings(max_examples=200, deadline=None)
@given(st.lists(_ALIGNED_FRAGS, max_size=30),
       st.text(alphabet="ab<>&#;xhr/ \n", max_size=60))
def test_invariants_on_fragment_soup(frags, noise):
    """Aligned fragments interleaved with hostile noise: invariants
    only (the noise can form unterminated refs where divergence from
    html.parser is legal and pinned elsewhere)."""
    s = noise.join(frags) if frags else noise
    blocks = tokenize_html(s)
    last_end = 0
    for b in blocks:
        assert 0 <= b.start < b.end <= len(s)
        assert b.start >= last_end
        last_end = b.end
