"""FROZEN scoring constants for the reference extractor.

These play the role of the reference's frozen pretrained weights + fixed
thresholds (label binarization `red > 50/255` at
/root/reference/batukh/torch/utils/data/dataloader.py:51, contour area
threshold `min_area_percent=0.8` at
/root/reference/batukh/torch/segmenter.py:556-563).  Changing any value
invalidates tests/fixtures/golden_spans.json.
"""

# ---- HTML block scoring (Boilerpipe/Readability-style densities) ----------

# Virtual line wrap width for text-density = n_words / ceil(n_chars / WRAP).
WRAP_CHARS = 80

# Blocks whose anchor-char ratio exceeds this are boilerplate (nav menus,
# footer link farms).  Analogue of the per-pixel class threshold (P1/P2).
LINK_DENSITY_MAX = 0.33

# A block is confidently "content" when it has at least this many words …
CONTENT_MIN_WORDS = 10
# … or at least this text density (words per virtual line).
CONTENT_MIN_DENSITY = 6.0

# Blocks with fewer words than this are boilerplate candidates unless
# rescued by neighbour smoothing (the U-Net-context analogue, K1).
SHORT_BLOCK_WORDS = 5

# Tags whose subtree is dropped entirely (like border pixels outside the
# page region in PageExtractor, K3).
SKIP_TAGS = frozenset({"script", "style", "template", "noscript", "title"})

# Structural boilerplate ancestors (hard drop — the "border" class).
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside"})

# Block-level boundary tags (start a new block, like a new contour region).
BLOCK_TAGS = frozenset({
    "address", "article", "aside", "blockquote", "body", "caption", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li", "main",
    "nav", "ol", "p", "pre", "section", "table", "tbody", "td", "tfoot",
    "th", "thead", "tr", "ul",
})

# Tags that mark code blocks.
CODE_TAGS = frozenset({"pre", "code"})

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# A class attribute containing this substring marks a tool-output container
# (DOM-path heuristic for embedded artifacts, K4).
TOOL_CLASS_MARKER = "tool"

# ---- PDF layout (XY-cut) ---------------------------------------------------

# Minimum horizontal whitespace gap (in layout units) to cut columns.
XY_COL_GAP = 24.0
# Minimum vertical whitespace gap to cut row bands before line grouping.
XY_ROW_GAP = 18.0
# Two tokens belong to one line when their y-centers differ by less than
# this fraction of the median token height.
LINE_TOL_FRACTION = 0.7
# Running header/footer band: top/bottom fraction of the page bounding box.
HEADER_FOOTER_BAND = 0.15

# ---- block kinds -----------------------------------------------------------

KIND_CONTENT = "content"
KIND_BOILERPLATE = "boilerplate"
KIND_HEADING = "heading"
KIND_CODE = "code"
KIND_TOOL = "tool_output"
