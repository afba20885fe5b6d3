"""Reference twins of package operators, kept for differential tests.

Each function here is a slower or library-based form of a production
operator, and a test pins the two equal:

- `tokenize_html_reference`: html.parser tokenizer vs the regex
  scanner `oracle/fast_html.py` (test_fast_html.py,
  test_tokenizer_properties.py);
- `simhash_expr`: expression-form bit vote vs `dedup.simhash`;
- `assign_expr`: HOF cosine argmax vs `similarity._assign`;
- `srp_signature_expr`: flat-sum SRP bits vs
  `similarity.srp_signature`.
"""

from __future__ import annotations

import html as _htmlmod
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batukh_spark.operators import dedup, similarity
from batukh_spark.operators.text import tokens_col
from batukh_spark.oracle import constants as C
from batukh_spark.oracle.blocks import Block, finalize_block
from batukh_spark.oracle.canonical import canonicalize

_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})


class _Frame:
    __slots__ = ("tag", "skip", "boiler", "code", "tool", "anchor")

    def __init__(self, tag, skip, boiler, code, tool, anchor):
        self.tag = tag
        self.skip = skip
        self.boiler = boiler
        self.code = code
        self.tool = tool
        self.anchor = anchor


class _BlockTokenizer(HTMLParser):
    """Streaming tokenizer: emits Blocks with char-offset spans.

    convert_charrefs=False so `getpos()` stays aligned with raw offsets;
    entities are decoded explicitly in handle_entityref/handle_charref.
    """

    def __init__(self, raw: str):
        super().__init__(convert_charrefs=False)
        self.raw = raw
        # absolute offset of each raw line start, for getpos() conversion
        self._line_starts = [0]
        idx = raw.find("\n")
        while idx != -1:
            self._line_starts.append(idx + 1)
            idx = raw.find("\n", idx + 1)
        self.blocks: list[Block] = []
        self._stack: list[_Frame] = []
        # depth counters mirror the stack flags (profiling: any() scans
        # over the stack were ~20% of tokenizer time); semantics identical
        self._n_skip = 0
        self._n_boiler = 0
        self._n_code = 0
        self._n_tool = 0
        self._n_anchor = 0
        # current block accumulation
        self._parts: list[str] = []
        self._anchor_parts: list[str] = []
        self._b_start = -1
        self._b_end = -1
        self._b_kind: str | None = None
        self._b_path = ""
        self._b_structural = False
        self._block_tag: str | None = None  # last block-level tag opened

    # -- position helpers ---------------------------------------------------

    def _abs(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    # -- context flags ------------------------------------------------------

    def _push(self, frame: _Frame) -> None:
        self._stack.append(frame)
        self._n_skip += frame.skip
        self._n_boiler += frame.boiler
        self._n_code += frame.code
        self._n_tool += frame.tool
        self._n_anchor += frame.anchor

    def _pop_from(self, i: int) -> None:
        for f in self._stack[i:]:
            self._n_skip -= f.skip
            self._n_boiler -= f.boiler
            self._n_code -= f.code
            self._n_tool -= f.tool
            self._n_anchor -= f.anchor
        del self._stack[i:]

    # -- block lifecycle ----------------------------------------------------

    def _flush(self) -> None:
        if self._b_start >= 0:
            anchor_len = len(canonicalize("".join(self._anchor_parts)))
            b = finalize_block(self._parts, anchor_len, self._b_start,
                              self._b_end, self._b_kind or C.KIND_CONTENT,
                              self._b_path, self._b_structural)
            if b is not None:
                self.blocks.append(b)
        self._parts = []
        self._anchor_parts = []
        self._b_start = -1
        self._b_end = -1
        self._b_kind = None

    def _append_text(self, decoded: str, raw_start: int, raw_len: int) -> None:
        if self._n_skip:
            return
        if self._b_start < 0:
            # lazily open a block; capture context at first segment
            self._b_start = raw_start
            self._b_path = "/".join(f.tag for f in self._stack)
            self._b_structural = self._n_boiler > 0
            if self._n_tool:
                self._b_kind = C.KIND_TOOL
            elif self._n_code:
                self._b_kind = C.KIND_CODE
            elif self._block_tag in C.HEADING_TAGS:
                self._b_kind = C.KIND_HEADING
            else:
                self._b_kind = C.KIND_CONTENT
        self._b_end = raw_start + raw_len
        self._parts.append(decoded)
        if self._n_anchor:
            self._anchor_parts.append(decoded)

    # -- HTMLParser callbacks -----------------------------------------------

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag == "br":
            self._parts.append("\n")
            return
        if tag in _VOID_TAGS:
            # bare <hr> is a block separator (HTML5); aligns with the
            # frozen fast scanner, which flushes here too
            if tag == "hr" and tag in C.BLOCK_TAGS:
                self._flush()
            return
        cls = ""
        for k, v in attrs:
            if k == "class" and v:
                cls = v.lower()
        is_tool = C.TOOL_CLASS_MARKER in cls
        frame = _Frame(
            tag,
            skip=tag in C.SKIP_TAGS,
            boiler=tag in C.BOILERPLATE_TAGS,
            code=tag in C.CODE_TAGS,
            tool=is_tool,
            anchor=tag == "a",
        )
        if tag in C.BLOCK_TAGS:
            self._flush()
            self._block_tag = tag
        self._push(frame)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        if tag == "br":
            self._parts.append("\n")
        elif tag == "hr" and tag in C.BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in _VOID_TAGS:
            return
        if tag in C.BLOCK_TAGS:
            self._flush()
        # tolerant pop: stray close tags with no matching open are ignored
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i].tag == tag:
                self._pop_from(i)
                break
        self._block_tag = next(
            (f.tag for f in reversed(self._stack) if f.tag in C.BLOCK_TAGS),
            None)

    def handle_data(self, data):
        if not data:
            return
        self._append_text(data, self._abs(), len(data))

    def handle_entityref(self, name):
        decoded = _htmlmod.unescape(f"&{name};")
        self._append_text(decoded, self._abs(), len(name) + 2)

    def handle_charref(self, name):
        try:
            cp = int(name[1:], 16) if name[0] in "xX" else int(name)
            decoded = chr(cp)
        except (ValueError, OverflowError):
            decoded = ""
        if decoded:
            self._append_text(decoded, self._abs(), len(name) + 3)

    def handle_comment(self, data):
        pass

    def close(self):
        super().close()
        self._flush()


def tokenize_html_reference(raw: str) -> list[Block]:
    """html.parser-based tokenizer — the differential-test reference
    for the regex scanner."""
    tok = _BlockTokenizer(raw)
    try:
        tok.feed(raw)
        tok.close()
    except Exception:
        # html.parser is documented tolerant; belt-and-braces: salvage what
        # was tokenized so far (the ignore_errors analogue, but counted by
        # the caller instead of silently dropped).
        tok._flush()
    return tok.blocks


def simhash_expr(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 bits: int = dedup.SIMHASH_BITS) -> DataFrame:
    """Catalyst-expression form of `dedup.simhash` — bits x tokens
    interpreted fold evaluations per doc."""
    pre = docs.select(F.col(id_col), tokens_col(text_col).alias("__tk"))
    hashed = pre.select(
        F.col(id_col),
        F.transform(F.col("__tk"),
                    lambda t: F.concat(F.md5(t),
                                       F.md5(F.concat(F.lit("x:"), t))))
        .alias("__hs"))
    bit_votes = F.transform(
        F.sequence(F.lit(1), F.lit(bits)),
        lambda j: F.aggregate(
            F.col("__hs"), F.lit(0),
            lambda acc, h: acc + F.when(
                F.substring(h, j.cast("int"), F.lit(1))
                .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)))
    sig = F.concat_ws("", F.transform(
        bit_votes, lambda v: F.when(v > 0, "1").otherwise("0")))
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def assign_expr(q: DataFrame, cents: DataFrame, id_col: str = "vec_id",
                keep_q: bool = False, dim: int = 64,
                k: int = 8) -> DataFrame:
    """Catalyst-expression form of `similarity._assign` — HOF cosine
    per centroid, interpreted per element."""
    packed = cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("c_id", "c_vec")))
        .alias("cents"))
    qd = F.transform(F.col("q"), lambda x: x.cast("double"))
    scored = q.crossJoin(F.broadcast(packed)).select(
        F.col(id_col), F.col("q"),
        F.transform(F.col("cents"),
                    lambda c: similarity.cosine(qd, c["c_vec"])).alias("sims"))
    best = F.array_position(F.col("sims"), F.array_max(F.col("sims"))) - 1
    cols = [F.col(id_col), best.cast("int").alias("cluster")]
    if keep_q:
        cols.append(F.col("q"))
    return scored.select(*cols)


def srp_signature_expr(emb: DataFrame, n_bits: int = 16, dim: int = 64,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Catalyst-expression form of `similarity.srp_signature` — bit j
    is a flat codegen'd sum of +/- e[i] terms (left-to-right, matching
    the oracle's list_sum order).  Executes fast once planned, but the
    n_bits x dim expression TREE costs seconds of driver-side
    analysis/optimization per fresh plan (measured ~7.5s at 32x64)."""
    pre = emb.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__e"))
    e = F.col("__e")
    bits = []
    for j in range(n_bits):
        acc = None
        for i in range(dim):
            term = e.getItem(i) if similarity._srp_sign(j, i) > 0 else -e.getItem(i)
            acc = term if acc is None else acc + term
        bits.append(F.when(acc > 0, "1").otherwise("0"))
    return pre.select(F.col(id_col), F.concat(*bits).alias("sig"))
