"""`kernels.extract_turns`: the one entry point that applies the fused
extraction kernel, with an output schema derived from its input."""

import ast
import pathlib

from pyspark.sql import functions as F

from batukh_spark import kernels
from batukh_spark.corpus import make_transcripts
from batukh_spark.oracle.extract import FAMILY_PDF
from batukh_spark.oracle.extract import extract as oracle_extract

PKG = pathlib.Path(__file__).resolve().parent.parent / "batukh_spark"

_EXTRA_DTYPES = [
    ("text_nbytes", "int"), ("family", "string"),
    ("extracted_text", "string"), ("n_blocks", "int"), ("n_kept", "int"),
    ("spans", "array<struct<start:int,end:int,kind:string>>"),
    ("error", "string")]


def _oracle(text, role=None, tool=None):
    """The kernel's extra columns for one turn, straight from the oracle."""
    r = oracle_extract(text, role=role, tool=tool)
    if r.family == FAMILY_PDF:
        n_blocks = n_kept = len(r.lines)
        spans = []
    else:
        n_blocks = len(r.blocks)
        n_kept = sum(1 for b in r.blocks if b.keep)
        spans = [(s, e, k) for s, e, k in r.spans]
    nbytes = None if text is None else len(text.encode("utf-8"))
    return (nbytes, r.family, r.extracted_text, n_blocks, n_kept, spans,
            r.error)


def _got(row):
    return (row.text_nbytes, row.family, row.extracted_text, row.n_blocks,
            row.n_kept, [(s.start, s.end, s.kind) for s in row.spans],
            row.error)


def _check(df, key, role=True):
    """extract_turns(df) has df's columns minus text, then the extras,
    and equals the oracle row for row."""
    out = kernels.extract_turns(df)
    want_dtypes = [d for d in df.dtypes if d[0] != "text"] + _EXTRA_DTYPES
    assert out.dtypes == want_dtypes
    inputs = {tuple(r[k] for k in key): r for r in df.collect()}
    rows = out.collect()
    assert len(rows) == len(inputs)
    for r in rows:
        i = inputs[tuple(r[k] for k in key)]
        for c in df.columns:
            if c != "text":
                assert r[c] == i[c], c
        want = (_oracle(i.text, role=i.role, tool=i.tool) if role
                else _oracle(i.text))
        assert _got(r) == want, tuple(r[k] for k in key)


def test_unit_first_frame(spark):
    """A resume anti-join moves `unit` first; the schema follows."""
    base = make_transcripts(spark, 12, partitions=2)
    df = base.select(F.xxhash64("conv_id").alias("unit"), *base.columns)
    _check(df, ("conv_id", "turn_idx"))


def test_doc_id_frame_without_turn_idx_or_ts(spark):
    """The pdf_xycut_lines shape: doc_id bigint, no turn_idx/ts."""
    base = make_transcripts(spark, 12, partitions=2)
    df = base.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text",
        "role", "tool")
    assert dict(df.dtypes)["doc_id"] == "bigint"
    _check(df, ("doc_id",))


def test_frame_without_role_or_tool(spark):
    base = make_transcripts(spark, 12, partitions=2)
    df = base.select("conv_id", "turn_idx", "text")
    _check(df, ("conv_id", "turn_idx"), role=False)


def _kernel_applications(tree):
    """Line of every `.mapInArrow(...)` call whose arguments name an
    extraction kernel (`extract_turns*`)."""
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInArrow"
            and any("extract_turns" in ast.unparse(a)
                    for a in [*node.args, *node.keywords])]


def test_extract_turns_is_the_only_kernel_application():
    hits = {path.relative_to(PKG.parent).as_posix(): lines
            for path in sorted(PKG.rglob("*.py"))
            if (lines := _kernel_applications(ast.parse(path.read_text())))}
    assert list(hits) == ["batukh_spark/kernels.py"], hits
    assert len(hits["batukh_spark/kernels.py"]) == 1
