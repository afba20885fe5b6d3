"""Arrow-vectorized Spark kernels wrapping the frozen oracle.

UDF surface per SURVEY §2.7 — all crossings are Arrow batches, NO
row-at-a-time Python UDFs anywhere.  The kernels import the oracle
functions directly, so Spark output equals oracle output per turn by
construction (the frozen-backbone contract).

Two tiers:
  * `html_blocks_udf` — a column-level `pandas_udf` (used by queries)
  * `extract_turns` — the FUSED whole-pipeline kernel applied with
    `mapInArrow` (tokenize + score + classify + spans + assemble in ONE
    JVM->Python round-trip; SURVEY §4 manual-physics item 3).  It is the
    only place that applies the kernel and knows its output schema.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# explicit DataType objects: DDL-string return types would require an
# active SparkContext at import time
_BLOCK_ARRAY_T = T.ArrayType(T.StructType([
    T.StructField("block_id", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("link_density", T.DoubleType()),
    T.StructField("keep", T.BooleanType()),
]))

from batukh_spark.oracle.extract import FAMILY_PDF
from batukh_spark.oracle.extract import extract as oracle_extract

# ---------------------------------------------------------------------------
# shared row-batch core


def _extract_cols(texts, roles, tools):
    """Apply the oracle over aligned sequences; returns dict of columns.

    The per-string tokenizer loop is inherently Python, but it runs once
    per Arrow batch inside the worker — the same granularity at which the
    reference runs its per-image model forward (one batch per step,
    /root/reference/batukh/torch/segmenter.py:107-133)."""
    n = len(texts)
    family = [None] * n
    extracted = [None] * n
    n_blocks = [0] * n
    n_kept = [0] * n
    spans = [None] * n
    errors = [None] * n
    for i in range(n):
        t = texts[i]
        r = oracle_extract(
            t if isinstance(t, str) else None,
            role=roles[i] if roles is not None else None,
            tool=tools[i] if tools is not None else None)
        family[i] = r.family
        extracted[i] = r.extracted_text
        errors[i] = r.error
        if r.family == FAMILY_PDF:
            n_blocks[i] = len(r.lines)
            n_kept[i] = len(r.lines)
            spans[i] = []
        else:
            n_blocks[i] = len(r.blocks)
            n_kept[i] = sum(1 for b in r.blocks if b.keep)
            spans[i] = [{"start": s, "end": e, "kind": k}
                        for s, e, k in r.spans]
    return dict(family=family, extracted_text=extracted, n_blocks=n_blocks,
                n_kept=n_kept, spans=spans, error=errors)


# ---------------------------------------------------------------------------
# column-level pandas UDF


@pandas_udf(_BLOCK_ARRAY_T)
def html_blocks_udf(text: pd.Series) -> pd.Series:
    """tokenize+score+classify HTML payloads -> block array (K3/K5/K7)."""
    from batukh_spark.oracle.blocks import classify_and_keep
    from batukh_spark.oracle.html_extract import tokenize_html

    out = []
    for t in text.tolist():
        if not isinstance(t, str) or not t:
            out.append([])
            continue
        blocks = tokenize_html(t)
        classify_and_keep(blocks)
        out.append([
            {"block_id": i, "kind": b.kind, "start": b.start, "end": b.end,
             "n_words": b.n_words, "score": b.score,
             "link_density": b.link_density, "keep": b.keep}
            for i, b in enumerate(blocks)])
    return pd.Series(out)


# ---------------------------------------------------------------------------
# fused mapInArrow kernel

_SPAN_TYPE = pa.list_(pa.struct([
    ("start", pa.int32()), ("end", pa.int32()), ("kind", pa.string())]))

EXTRA_FIELDS = [
    pa.field("family", pa.string()),
    pa.field("extracted_text", pa.string()),
    pa.field("n_blocks", pa.int32()),
    pa.field("n_kept", pa.int32()),
    pa.field("spans", _SPAN_TYPE),
    pa.field("error", pa.string()),
]

# spark-sql string for the fused-output schema suffix
EXTRA_SCHEMA_SQL = (
    "family string, extracted_text string, n_blocks int, n_kept int, "
    "spans array<struct<start:int,end:int,kind:string>>, error string")


def extract_turns_lean(
        batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The fused mapInArrow kernel: each batch's columns pass through
    except the raw `text`, which is replaced by `text_nbytes:int`
    (the payload's UTF-8 size, the only trace of the input text the
    extracted table keeps), followed by EXTRA_FIELDS.  Echoing the
    payload back through Arrow IPC + parquet write would roughly double
    the JVM-side volume (the feed bottleneck) for a column the
    extracted table doesn't need (readers re-join on
    (conv_id, turn_idx)).  Apply it with `extract_turns`, which derives
    the matching output schema."""
    import pyarrow.compute as pc
    for batch in batches:
        names = batch.schema.names
        ti = names.index("text")
        text_arr = batch.column(ti)
        roles = (batch.column(names.index("role")).to_pylist()
                 if "role" in names else None)
        tools = (batch.column(names.index("tool")).to_pylist()
                 if "tool" in names else None)
        cols = _extract_cols(text_arr.to_pylist(), roles, tools)
        keep = [i for i in range(len(names)) if i != ti]
        arrays = [batch.column(i) for i in keep] + [
            pc.cast(pc.binary_length(text_arr), pa.int32()),
            pa.array(cols["family"], pa.string()),
            pa.array(cols["extracted_text"], pa.string()),
            pa.array(cols["n_blocks"], pa.int32()),
            pa.array(cols["n_kept"], pa.int32()),
            pa.array(cols["spans"], _SPAN_TYPE),
            pa.array(cols["error"], pa.string()),
        ]
        fields = ([batch.schema.field(i) for i in keep]
                  + [pa.field("text_nbytes", pa.int32())] + EXTRA_FIELDS)
        yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def extract_turns(df: DataFrame) -> DataFrame:
    """Run the fused extraction kernel over `df` (a frame with a `text`
    column; `role`/`tool` are optional).  The output schema is derived
    from `df.schema`: its columns in their actual order minus `text`,
    then `text_nbytes int`, then the extras — so callers never restate
    it, and a join that moves its key first cannot desync the batch
    layout from the declared schema."""
    kept = ", ".join(f"`{f.name.replace('`', '``')}` "
                     f"{f.dataType.simpleString()}"
                     for f in df.schema.fields if f.name != "text")
    return df.mapInArrow(extract_turns_lean, schema=lean_schema_sql(kept))


def lean_schema_sql(input_schema_sql_without_text: str) -> str:
    """Output schema of `extract_turns_lean` for an input whose schema
    MINUS the text column (order preserved otherwise) is given as DDL."""
    return (input_schema_sql_without_text + ", text_nbytes int, "
            + EXTRA_SCHEMA_SQL)
