"""Subword vocabulary learning: distributed BPE merge training.

The engine's token accounting uses a BPE-ish regex proxy (textstats.
BPE_REGEX); this module LEARNS an actual merge table from the corpus —
the byte-pair-encoding training loop (Sennrich et al. 2016) expressed
in Spark's native shapes:

  * the corpus collapses ONCE to a (word, count) table (explode +
    groupBy — the only corpus-wide shuffle; BPE statistics are
    word-frequency-weighted, so this table IS the working set, ~1e8
    rows at web scale vs 1e12 corpus tokens);
  * each merge round is: adjacent-pair explode over the symbol arrays
    -> one map-side-combined groupBy(pair) -> a ONE-ROW argmax collect
    (the planning-collect class) -> a scan-local fold applying the
    winning merge to every word's symbol array (greedy leftmost,
    the reference BPE application order), materialized so round
    r+1 does not re-execute rounds 1..r.

Determinism: counts are integers, the argmax tie-break is (count desc,
pair-string asc in binary order) — identical in Spark and DuckDB — so
the learned merge table is bit-reproducible by the SQL oracle.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batukh_spark.session import arrow_frame, materialize

# training only considers word-ish tokens (standard BPE
# pre-tokenization); this also guarantees symbols never contain the
# oracle's fold separators (C0 controls)
BPE_WORD_RE = "^[a-z0-9]+$"

# train_bpe's result: one row per learned merge
_MERGES = pa.schema([("round", pa.int32()), ("left", pa.string()),
                     ("right", pa.string()), ("merged", pa.string()),
                     ("pair_count", pa.int64())])


def _apply_merge(syms, left: str, right: str):
    """Greedy leftmost application of ONE merge (left, right) to a
    symbol array — a scan-local aggregate fold with (out, pending)
    state: pending==left followed by right emits the merged symbol
    and clears pending, so a run like 'aaaa' under (a,a) becomes
    [aa, aa] exactly as reference BPE does."""
    merged = left + right
    init = F.struct(F.array().cast("array<string>").alias("out"),
                    F.lit("").alias("p"))

    def step(acc, s):
        hit = (acc["p"] == left) & (s == right)
        flushed = F.when(acc["p"] != "",
                         F.concat(acc["out"], F.array(acc["p"]))) \
            .otherwise(acc["out"])
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.lit(merged))))
            .otherwise(flushed).alias("out"),
            F.when(hit, F.lit("")).otherwise(s).alias("p"))

    def finish(acc):
        return F.when(acc["p"] != "",
                      F.concat(acc["out"], F.array(acc["p"]))) \
            .otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def train_bpe(docs: DataFrame, n_merges: int = 6,
              text_col: str = "text", id_col: str = "doc_id"):
    """Learn a BPE merge table from the corpus.  Returns a DataFrame
    (round, left, right, merged, pair_count): round r's row is the
    adjacent symbol pair with the highest frequency-weighted count
    after merges 1..r-1 have been applied (ties broken by pair string
    ascending — total, engine-reproducible).

    Scale: see module docstring — one corpus shuffle total; each
    round touches only the (word, count, symbols) table, and the
    winning pair travels as a literal (no join).  Stops early if the
    corpus runs out of adjacent pairs (returns fewer rows)."""
    rows, _vocab = _train_bpe_full(docs, n_merges, text_col)
    return arrow_frame(docs.sparkSession, pa.Table.from_pylist(rows, _MERGES))


def _train_bpe_full(docs: DataFrame, n_merges: int, text_col: str):
    """Shared training loop: returns (merge_rows, vocab) where vocab
    is the (w, syms) word table AFTER all merges — the encoded form
    every word takes under the learned vocabulary."""
    if not (isinstance(n_merges, int) and 1 <= n_merges <= 64):
        raise ValueError(f"n_merges must be in [1, 64], got {n_merges!r}")
    from batukh_spark.operators.text import tokens_col
    words = materialize(
        docs.select(F.explode(tokens_col(text_col)).alias("w"))
        .where(F.col("w").rlike(BPE_WORD_RE))
        .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
        .select("w", "n",
                F.transform(F.sequence(F.lit(1), F.length("w")),
                            lambda i: F.col("w").substr(i, F.lit(1)))
                .alias("syms")),
        "vocab._train_bpe_full:words")
    out_rows = []
    for rnd in range(1, n_merges + 1):
        pair = F.explode(
            F.when(F.size("syms") >= 2,
                   F.transform(
                       F.sequence(F.lit(1), F.size("syms") - 1),
                       lambda i: F.concat(
                           F.element_at("syms", i.cast("int")),
                           F.lit("\x1f"),
                           F.element_at("syms", (i + 1).cast("int")))))
            .otherwise(F.array().cast("array<string>"))).alias("pair")
        best = (words.select("n", pair)
                .groupBy("pair").agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1).collect())
        if not best:
            break
        left, right = best[0]["pair"].split("\x1f")
        out_rows.append({"round": rnd, "left": left, "right": right,
                         "merged": left + right,
                         "pair_count": int(best[0]["cnt"])})
        words = materialize(words.select(
            "w", "n",
            _apply_merge(F.col("syms"), left, right).alias("syms")),
            "vocab._train_bpe_full:round")
    return out_rows, words


def bpe_token_counts(docs: DataFrame, n_merges: int = 6,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """TRAINED-vocabulary token accounting: learn the merge table,
    then count each document's subword tokens under it — the real-
    tokenizer upgrade over the BPE_REGEX proxy (`token_counts`) and
    the calibration factors (`calibrate_token_scale`), computed
    without ever tokenizing the corpus twice: encoding joins each
    document's tokens against the trained (word -> symbols) table,
    which already holds every word's final segmentation as a training
    by-product.

    Returns (id_col, n_bpe_tokens): word-ish tokens contribute their
    learned symbol count, non-word tokens (punctuation runs, mixed
    symbols — excluded from training by BPE_WORD_RE) contribute 1
    each; token-less documents report 0.

    Scale: one explode + one key join against the word table (the
    BPE working set, |distinct words| rows) + one groupBy(id) — the
    join and aggregation carry only (id, int) pairs past the scan."""
    merges, vocab = _train_bpe_full(docs, n_merges, text_col)
    from batukh_spark.operators.text import tokens_col
    toks = docs.select(F.col(id_col),
                       F.explode(tokens_col(text_col)).alias("w"))
    sized = vocab.select("w", F.size("syms").alias("__ns"))
    per = (toks.join(sized, "w", "left")
           .groupBy(id_col)
           .agg(F.sum(F.coalesce(F.col("__ns"), F.lit(1)))
                .cast("long").alias("__n")))
    return (docs.select(F.col(id_col)).join(per, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__n"), F.lit(0))
                    .alias("n_bpe_tokens")))
