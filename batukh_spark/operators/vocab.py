"""Subword vocabulary learning: BPE merge training from one word-count job.

The engine's token accounting uses a BPE-ish regex proxy (textstats.
BPE_REGEX); this module LEARNS an actual merge table from the corpus —
byte-pair-encoding training (Sennrich et al. 2016):

  * Spark collapses the corpus ONCE to a (word, count) table (explode
    + groupBy — the only corpus-wide shuffle).  BPE statistics are
    word-frequency-weighted, so this table IS the working set;
  * the table crosses to the driver as Arrow, and the driver learns
    every merge there with an incremental pair count: a merge rewrites
    only the words that contain its pair (greedy leftmost, the
    reference BPE application order) and updates only their pairs'
    counts, so the Spark job count does not depend on `n_merges`.

The driver holds the (word, count) table: one row per distinct
word-ish token of the corpus (cf. `pipeline.run_extraction`, which
holds its file list).  With the pair index and segmentations that is
~0.7-1.7 KB of driver heap per distinct word (measured on 91k random
words at 100 and 2,000 merges): 10^6 distinct words need 1-2 GB, so
size spark.driver.memory accordingly.

Determinism: counts are integers and the argmax tie-break is (count
desc, `left + "\\x1f" + right` asc).  Symbols are `[a-z0-9]`, so
Python's code-point order equals Spark's and DuckDB's binary order and
the learned merge table is bit-reproducible by the SQL oracle.
"""

from __future__ import annotations

import heapq

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batukh_spark.session import arrow_frame, named_jobs

# training only considers word-ish tokens (standard BPE
# pre-tokenization); this also guarantees symbols never contain the
# oracle's fold separators (C0 controls)
BPE_WORD_RE = "^[a-z0-9]+$"

# train_bpe's result: one row per learned merge
_MERGES = pa.schema([("round", pa.int32()), ("left", pa.string()),
                     ("right", pa.string()), ("merged", pa.string()),
                     ("pair_count", pa.int64())])
# each trained word's final segmentation size
_SEGS = pa.schema([("w", pa.string()), ("n_syms", pa.int32())])


def train_bpe(docs: DataFrame, n_merges: int = 6, text_col: str = "text"):
    """Learn a BPE merge table from the corpus.  Returns a DataFrame
    (round, left, right, merged, pair_count): round r's row is the
    adjacent symbol pair with the highest frequency-weighted count
    after merges 1..r-1 have been applied (ties broken by pair string
    ascending — total, engine-reproducible).  Stops early if the
    corpus runs out of adjacent pairs (returns fewer rows).

    Scale: one corpus shuffle and one collect of the (word, count)
    table to the driver, whatever `n_merges` is."""
    rows, _segs = _train_bpe(docs, n_merges, text_col)
    return arrow_frame(docs.sparkSession, pa.Table.from_pylist(rows, _MERGES))


def _merge_word(syms: list, left: str, right: str, merged: str) -> list:
    """Greedy leftmost application of one merge: 'aaaa' under (a,a)
    becomes [aa, aa]."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_bpe(docs: DataFrame, n_merges: int, text_col: str):
    """Returns (merge_rows, segs): segs maps each trained word to its
    symbol list after all merges — the encoded form every word takes
    under the learned vocabulary."""
    if not (isinstance(n_merges, int) and n_merges >= 1):
        raise ValueError(f"n_merges must be an integer >= 1, "
                         f"got {n_merges!r}")
    from batukh_spark.operators.text import tokens_col
    with named_jobs(docs.sparkSession, "vocab._train_bpe:words"):
        table = (docs.select(F.explode(tokens_col(text_col)).alias("w"))
                 .where(F.col("w").rlike(BPE_WORD_RE))
                 .groupBy("w").count().toArrow())
    words = table.column("w").to_pylist()
    rows, segs = _learn_merges(words, table.column("count").to_pylist(),
                               n_merges)
    return rows, dict(zip(words, segs))


def _learn_merges(words: list, weight: list, n_merges: int):
    """Up to `n_merges` merges over words with frequency weights, by an
    incremental pair count: a merge rewrites only the words holding
    its pair and updates only their pairs' counts.  Returns (merge
    rows, each word's final symbol list)."""
    segs = [list(w) for w in words]
    counts: dict = {}   # pair -> frequency-weighted adjacency count
    where: dict = {}    # pair -> ids of the words that contain it
    for i, s in enumerate(segs):
        for p in zip(s, s[1:]):
            counts[p] = counts.get(p, 0) + weight[i]
            where.setdefault(p, set()).add(i)
    heap = [(-c, f"{a}\x1f{b}", (a, b)) for (a, b), c in counts.items()]
    heapq.heapify(heap)
    out_rows = []
    while heap and len(out_rows) < n_merges:
        neg, _key, pair = heapq.heappop(heap)
        if counts.get(pair) != -neg:
            continue    # stale: the pair's count changed since the push
        left, right = pair
        merged = left + right
        out_rows.append({"round": len(out_rows) + 1, "left": left,
                         "right": right, "merged": merged,
                         "pair_count": -neg})
        delta: dict = {}
        for i in where.pop(pair):
            old = segs[i]
            new = segs[i] = _merge_word(old, left, right, merged)
            lost, got = set(zip(old, old[1:])), set(zip(new, new[1:]))
            for p in zip(old, old[1:]):
                delta[p] = delta.get(p, 0) - weight[i]
            for p in zip(new, new[1:]):
                delta[p] = delta.get(p, 0) + weight[i]
            for p in got - lost:
                where.setdefault(p, set()).add(i)
            for p in lost - got - {pair}:
                where[p].discard(i)
        for p, d in delta.items():
            if d == 0:
                continue
            c = counts.get(p, 0) + d
            if c:
                counts[p] = c
                heapq.heappush(heap, (-c, f"{p[0]}\x1f{p[1]}", p))
            else:
                del counts[p]
                where.pop(p, None)
    return out_rows, segs


def bpe_token_counts(docs: DataFrame, n_merges: int = 6,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """TRAINED-vocabulary token accounting: learn the merge table,
    then count each document's subword tokens under it — the real-
    tokenizer upgrade over the BPE_REGEX proxy (`token_counts`) and
    the calibration factors (`calibrate_token_scale`).  Encoding joins
    each document's tokens against a driver-built (w, n_syms) frame of
    the training's final segmentations, so the corpus is never
    tokenized twice.

    Returns (id_col, n_bpe_tokens): word-ish tokens contribute their
    learned symbol count, non-word tokens (punctuation runs, mixed
    symbols — excluded from training by BPE_WORD_RE) contribute 1
    each; token-less documents report 0.

    Scale: the training's one word-count job, then one explode + one
    key join against the (w, n_syms) frame (|distinct words| rows) +
    one groupBy(id) — the join and aggregation carry only (id, int)
    pairs past the scan."""
    _merges, segs = _train_bpe(docs, n_merges, text_col)
    from batukh_spark.operators.text import tokens_col
    sized = arrow_frame(docs.sparkSession, pa.Table.from_pydict(
        {"w": list(segs), "n_syms": [len(s) for s in segs.values()]},
        _SEGS))
    toks = docs.select(F.col(id_col),
                       F.explode(tokens_col(text_col)).alias("w"))
    per = (toks.join(sized, "w", "left")
           .groupBy(id_col)
           .agg(F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
                .cast("long").alias("__n")))
    return (docs.select(F.col(id_col)).join(per, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__n"), F.lit(0))
                    .alias("n_bpe_tokens")))
