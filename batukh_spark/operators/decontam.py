"""Benchmark decontamination — remove eval-set overlap from training data.

A production pretraining pipeline must drop (or at least flag) corpus
documents that share long n-gram overlap with evaluation benchmarks,
or downstream eval numbers are meaningless (the 13-gram criterion used
by the GPT-3 / PaLM data pipelines).  This is the corpus-vs-external-set
referential-integrity check of a training pipeline — the reference's
analogue validates its training corpus against an external label set
(/root/reference/batukh/tensorflow/utils/data/dataloader.py:100-124).

Scale shape (the benchmark is always tiny relative to the corpus):
  - benchmark n-grams: distinct md5'd n-token grams, a few MB even for
    a large eval suite -> BROADCAST;
  - corpus side: scan-local n-gram fan-out (explode of distinct grams,
    32-byte md5 each), broadcast-hash join against the benchmark set —
    no shuffle of corpus bytes; only HIT rows (rare by construction)
    reach the per-doc aggregation, whose shuffle is (doc_id, count);
  - verdict join back to the doc list is a key join on doc_id.
Everything is Catalyst expressions (split / transform / md5 / explode)
— whole-stage codegen, DuckDB-reproducible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from batukh_spark.operators.text import tokens_col
from batukh_spark.worker import prepare_worker

N_DECONTAM = 13     # n-gram length: GPT-3/PaLM-style 13-token overlap


def gram_hashes(tokens: Column, n: int) -> Column:
    """Positional md5 hashes of the n-token grams of a JVM-tokenized
    array: element p is md5 of tokens[p..p+n-1] joined by single
    spaces — one vectorized Arrow op per batch.

    The expression form (md5 over word_shingles) builds each gram via
    an interpreted higher-order transform whose lambda holds n
    element_at references; besides interpreting ~n ops per position,
    it is FRAGILE under projection collapse — when the optimizer
    inlines the token array's expression tree into the lambda,
    interpreted HOFs re-evaluate that free subtree PER POSITION
    (re-tokenizing the document once per gram; measured seconds to
    minutes depending on plan shape at n=13).  Tokens still come from
    the JVM tokenizer, so this changes no text semantics; Python md5
    over UTF-8 bytes and ' '.join are byte-identical to F.md5 /
    concat_ws (pinned by a differential test incl. unicode).  Docs
    with fewer than n tokens yield an empty array (explode drops them,
    as the expression form's empty shingle array did); a NULL token
    array yields NULL."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def _gh(tks: pd.Series) -> pd.Series:
        prepare_worker()
        import hashlib
        out = []
        for tk in tks:
            if tk is None:
                out.append(None)
                continue
            m = len(tk)
            if m < n:
                out.append([])
                continue
            toks = list(tk)
            out.append([
                hashlib.md5(" ".join(toks[i:i + n]).encode("utf-8"))
                .hexdigest() for i in range(m - n + 1)])
        return pd.Series(out)

    return _gh(tokens)


def benchmark_ngrams(benchmark: DataFrame, n: int = N_DECONTAM,
                     text_col: str = "text") -> DataFrame:
    """Distinct md5'd n-token grams of the benchmark texts —
    (gram_hash).  Tiny: one 32-byte hash per distinct benchmark gram;
    callers broadcast it."""
    return (benchmark
            .select(tokens_col(text_col).alias("__tk"))
            .select(F.explode(gram_hashes(F.col("__tk"), n))
                    .alias("gram_hash"))
            .distinct())


def doc_grams(docs: DataFrame, keys: list[str], n: int,
              text_col: str = "text") -> DataFrame:
    """(*keys, gram_hash): one row per DISTINCT n-token gram hash of
    each doc (gram_hashes over the JVM tokens).  Docs shorter than n
    tokens yield no rows."""
    key_cols = [F.col(k) for k in keys]
    return (docs
            .select(*key_cols, tokens_col(text_col).alias("__tk"))
            .select(*key_cols,
                    F.explode(F.array_distinct(
                        gram_hashes(F.col("__tk"), n)))
                    .alias("gram_hash")))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = N_DECONTAM, id_col: str = "doc_id",
                  text_col: str = "text",
                  bench_text_col: str = "text") -> DataFrame:
    """Flag corpus docs sharing any n-token gram with the benchmark.

    Returns one row per input doc: (id_col, contaminated: bool,
    n_hits: long) where n_hits counts the DISTINCT n-grams the doc
    shares with the benchmark (0 for clean docs; docs shorter than n
    tokens cannot be contaminated).  Callers gate on `contaminated`
    (drop) or keep n_hits for audit; `mix.training_mix` wires this in
    as a pre-sampling stage when given a benchmark table."""
    if not (isinstance(n, int) and n >= 2):
        raise ValueError(f"n must be an int >= 2, got {n!r}")
    bgrams = benchmark_ngrams(benchmark, n, bench_text_col)
    dgrams = doc_grams(docs, [id_col], n, text_col)
    hits = (dgrams.join(F.broadcast(bgrams), "gram_hash")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__n_hits")))
    return (docs.select(F.col(id_col))
            .join(hits, id_col, "left")
            .select(F.col(id_col),
                    (F.coalesce(F.col("__n_hits"), F.lit(0)) > 0)
                    .alias("contaminated"),
                    F.coalesce(F.col("__n_hits"), F.lit(0))
                    .cast("long").alias("n_hits")))


def decontaminate_spans(docs: DataFrame, benchmark: DataFrame,
                        n: int = N_DECONTAM, id_col: str = "doc_id",
                        text_col: str = "text",
                        bench_text_col: str = "text") -> DataFrame:
    """Passage-level decontamination: WHERE the benchmark overlap
    lives.  `decontaminate` gives a doc verdict; dropping whole
    documents over one quoted eval question is wasteful at corpus
    scale, so this maps every shared n-token gram back to its token
    positions and merges overlapping hits into maximal spans —
    the decontamination analogue of `duplicated_passage_spans`
    (reference span analogue: derive+rank over per-page predictions,
    /root/reference/batukh/torch/segmenter.py:541-554).

    Returns (id_col, tok_start, tok_end, n_hits): 1-based token-space
    spans [tok_start, tok_end) over the doc's whitespace tokens, with
    n_hits = the number of matching grams merged into the span.
    Adjacent-or-overlapping gram hits (each covering tokens
    [p, p+n)) merge into one span, so a contiguous quoted passage is
    ONE row.  Docs with no overlap emit no rows.

    Scale: benchmark grams broadcast (tiny); the corpus side is a
    scan-local gram fan-out whose non-matching rows die inside the
    broadcast join — only HIT positions (rare) reach the per-doc
    merge window, so the only corpus-keyed shuffle carries (id, int)
    hit rows.  The gram array is staged as a column before the
    position explode (interpreted-HOF tax: an inlined tokens tree
    would re-tokenize per element)."""
    if not (isinstance(n, int) and n >= 2):
        raise ValueError(f"n must be an int >= 2, got {n!r}")
    from pyspark.sql import Window
    bgrams = benchmark_ngrams(benchmark, n, bench_text_col)
    staged = (docs
              .select(F.col(id_col), tokens_col(text_col).alias("__tk"))
              .select(F.col(id_col),
                      gram_hashes(F.col("__tk"), n).alias("__gs")))
    hits = (staged
            .select(F.col(id_col),
                    F.posexplode(F.col("__gs")).alias("__p", "__g"))
            .select(F.col(id_col), (F.col("__p") + 1).alias("pos"),
                    F.col("__g").alias("gram_hash"))
            .join(F.broadcast(bgrams), "gram_hash")
            .select(F.col(id_col), "pos"))
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    newg = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1) \
        .otherwise(0)
    grp = (hits.withColumn("__new", newg)
           .withColumn("__grp", F.sum("__new").over(
               w_doc.rowsBetween(Window.unboundedPreceding, 0))))
    return (grp.groupBy(F.col(id_col), F.col("__grp"))
            .agg(F.min("pos").cast("long").alias("tok_start"),
                 (F.max("pos") + n).cast("long").alias("tok_end"),
                 F.count(F.lit(1)).alias("n_hits"))
            .drop("__grp"))


def cut_contaminated(docs: DataFrame, benchmark: DataFrame,
                     n: int = N_DECONTAM, id_col: str = "doc_id",
                     text_col: str = "text",
                     bench_text_col: str = "text") -> DataFrame:
    """Excise benchmark-overlapping passages instead of dropping the
    document: remove every `decontaminate_spans` token span, keep the
    rest.  Returns (id_col, clean_text, n_cut_tokens).

    Clean documents pass through with their ORIGINAL text unchanged.
    Contaminated documents are spliced in TOKEN space — the kept
    tokens (original case) re-join with single spaces, so excision
    normalizes the contaminated docs' whitespace; matching stays
    case-insensitive because gram hashes come from the lowered twin
    of the same split (position-aligned by construction).

    Scale: spans are rare (benchmark-gated), so the span join back to
    the text is a key join whose build side is the hit docs only; the
    splice folds over the doc's few span structs, never per token."""
    spans = decontaminate_spans(docs, benchmark, n, id_col,
                                text_col, bench_text_col)
    sp = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("tok_start"), F.col("tok_end")))).alias("__sp"))
    raw = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    joined = (docs.select(F.col(id_col), F.col(text_col),
                          raw.alias("__rw"))
              .join(sp, id_col, "left"))
    tk = F.col("__rw")
    folded = F.aggregate(
        F.col("__sp"),
        F.struct(F.lit(1).cast("long").alias("p"),
                 F.array().cast("array<string>").alias("t")),
        lambda acc, s: F.struct(
            s["tok_end"].alias("p"),
            F.concat(acc["t"],
                     F.slice(tk, acc["p"].cast("int"),
                             (s["tok_start"] - acc["p"]).cast("int")))
            .alias("t")),
        lambda acc: F.concat(
            acc["t"],
            F.slice(tk, acc["p"].cast("int"),
                    F.greatest(F.size(tk) - acc["p"] + 1, F.lit(0))
                    .cast("int"))))
    clean = F.when(F.col("__sp").isNull(), F.col(text_col)) \
        .otherwise(F.array_join(folded, " "))
    cut = F.when(F.col("__sp").isNull(), F.lit(0)).otherwise(
        F.size(tk) - F.size(folded))
    return joined.select(F.col(id_col), clean.alias("clean_text"),
                         cut.cast("long").alias("n_cut_tokens"))


def split_leakage(rows: DataFrame, n: int = N_DECONTAM,
                  id_col: str = "doc_id", text_col: str = "text",
                  split_col: str = "split",
                  train_split: str = "train") -> DataFrame:
    """Audit n-gram leakage from the train split into every other
    split — the post-hoc check that a train/val/test assignment (plus
    whatever dedup preceded it) actually left no long-overlap pairs
    straddling the boundary.  `split_assign` prevents WITHIN-group
    leakage by construction; this catches the cross-group kind it
    cannot see (near-identical documents with different keys).

    Returns one row per NON-train doc: (id_col, split_col, leaked:
    bool, n_hits: long) where n_hits counts the doc's distinct
    n-token grams that also occur anywhere in the train split.

    Scale: unlike `decontaminate` (tiny benchmark side -> broadcast),
    BOTH sides here are corpus-scale, so the gram join is a plain
    shuffle hash join — but each side ships 32-byte hashes only
    ((gram_hash) for train after a global distinct, (id, gram_hash)
    for eval), never text; hit counts aggregate per doc with map-side
    partials, and the verdict join back is a key join on the eval
    split's ids (the small minority of the corpus).
    """
    if not (isinstance(n, int) and n >= 2):
        raise ValueError(f"n must be an int >= 2, got {n!r}")

    def grams(side):
        return doc_grams(side, [id_col, split_col], n, text_col)

    is_train = F.col(split_col) == train_split
    tgrams = (grams(rows.filter(is_train))
              .select("gram_hash").distinct())
    egrams = grams(rows.filter(~is_train))
    hits = (egrams.join(tgrams, "gram_hash")
            .groupBy(id_col, split_col)
            .agg(F.count(F.lit(1)).alias("__n_hits")))
    return (rows.filter(~is_train).select(F.col(id_col), F.col(split_col))
            .join(hits, [id_col, split_col], "left")
            .select(F.col(id_col), F.col(split_col),
                    (F.coalesce(F.col("__n_hits"), F.lit(0)) > 0)
                    .alias("leaked"),
                    F.coalesce(F.col("__n_hits"), F.lit(0))
                    .cast("long").alias("n_hits")))
