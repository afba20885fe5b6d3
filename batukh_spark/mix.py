"""Composed training-mix pipeline — the artifact the engine exists to
produce.

A pretraining run does not consume raw extractions: it consumes a
deduplicated, quality-gated, language-stratified, context-window-chunked
corpus.  Every stage here already exists as a verified operator; this
module chains them into ONE DataFrame job:

    extracted docs
      -> dedup.keep_set                (exact + MinHash-LSH verdict)
      -> quality_score / lang_id gate  (Gopher-style filter)
      -> sampling.stratified_sample    (deterministic mixture weights)
      -> text.chunk_documents          (context-window chunks)

Reference analogue: the full E2 inference chain the reference runs per
page (/root/reference/batukh/torch/segmenter.py:394-573) — here the
"chain" is corpus-level data preparation rather than per-image stages.

Scale: each stage's story is documented at its definition; the chain
adds only key joins on doc id between stages.  The input should be a
materialized extraction (`session.materialize`) — keep_set traverses
it several times before the first internal materialization point.
Inside `training_mix`, `materialize` cuts the plan at `kept` (dedup
verdict applied; only when decontamination reads it too) and at
`enriched` (quality + language columns; the gate filter's barrier),
so the LSH dedup chain runs once, not once per consumer —
executor-local storage sized by the surviving corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batukh_spark.operators import dedup, textstats
from batukh_spark.operators.sampling import stratified_sample
from batukh_spark.operators.text import chunk_documents
from batukh_spark.session import materialize


def training_mix(docs: DataFrame, rates: dict[str, float],
                 default_rate: float = 0.25,
                 quality_min: float = 0.45,
                 max_tokens: int = 64, overlap: int = 8,
                 salt: str = "mix1",
                 id_col: str = "doc_id",
                 text_col: str = "text",
                 benchmark: DataFrame | None = None,
                 decontam_n: int = 13,
                 bench_text_col: str | None = None,
                 keep_unknown_lang: bool = False) -> DataFrame:
    """docs(doc_id, text) -> one row per training chunk:
    (doc_id, chunk_idx, n_tokens, chunk_text, pred_lang, quality).

    Stages: (1) corpus dedup verdict keeps `keep = true` docs only;
    (1b) if `benchmark` is given, benchmark decontamination drops every
    doc sharing any decontam_n-token gram with it (operators.decontam —
    eval-overlap removal, the gate every production pretraining run
    needs); (2) gate: quality >= quality_min AND a non-null language
    verdict (lang_id returns NULL when it has no evidence — such docs
    are not trainable mixture members; `keep_unknown_lang=True` keeps
    them instead, bucketed under the 'und' stratum, for corpora whose
    language the stopword/script heuristics cannot see); (3)
    deterministic hash-gated stratified sampling on pred_lang with
    `rates`/`default_rate`; (4) context-window chunking at
    (max_tokens, overlap)."""
    from batukh_spark.operators.decontam import decontaminate

    ks = dedup.keep_set(docs, id_col, text_col)
    kept = docs.join(ks.filter(F.col("keep")).select(id_col), id_col)
    if benchmark is not None:
        # decontaminate reads `kept` twice (grams, id join) and the
        # join below a third time: run the keep_set LSH chain once
        kept = materialize(kept, "mix.training_mix:kept")
        dec = decontaminate(kept, benchmark, n=decontam_n,
                            id_col=id_col, text_col=text_col,
                            bench_text_col=bench_text_col or text_col)
        kept = kept.join(dec.filter(~F.col("contaminated"))
                         .select(id_col), id_col)
    # enrich IN PLACE via passthrough (round 7): quality and language
    # annotate the same frame as consecutive narrow projections that
    # fuse into one scan — the previous (id, metric) + join-back form
    # traversed `kept` three times (quality scan, lang scan, join base)
    # and paid two joins per enrichment
    passthrough = tuple(c for c in kept.columns if c != id_col)
    q = textstats.quality_score(kept, id_col, text_col,
                                passthrough=passthrough) \
        .select(id_col, *passthrough, "quality")
    ql = textstats.lang_id(q, id_col, text_col,
                           passthrough=passthrough + ("quality",)) \
        .select(id_col, *passthrough, "quality", "pred_lang")
    if keep_unknown_lang:
        ql = ql.withColumn(
            "pred_lang", F.coalesce(F.col("pred_lang"), F.lit("und")))
    # materialize BEFORE filtering on the computed columns:
    # predicate pushdown would otherwise collapse the full quality /
    # lang expression trees into the Filter (and again into the
    # Project above it), and their interpreted higher-order folds get
    # re-evaluated per reference — measured 100x on the gate stage
    # (64s -> 0.6s on a 5k-doc corpus).  The barrier makes the filter
    # see plain materialized columns.
    enriched = materialize(ql, "mix.training_mix:enriched")
    gated = enriched.filter((F.col("quality") >= quality_min)
                            & F.col("pred_lang").isNotNull())
    sampled = stratified_sample(gated, rates, default_rate,
                                strata_col="pred_lang", id_col=id_col,
                                salt=salt)
    chunks = chunk_documents(sampled, max_tokens, overlap,
                             id_col=id_col, text_col=text_col)
    return chunks.join(
        sampled.select(id_col, "pred_lang", "quality"), id_col)


def sft_mix(turns: DataFrame, weights: dict[str, float],
            salt: str = "split1",
            train_roles: tuple[str, ...] = ("assistant",),
            id_col: str = "conv_id",
            order_col: str = "turn_idx",
            role_col: str = "role",
            text_col: str = "extracted_text",
            sep: str = "\n\n",
            extra_docs: DataFrame | None = None) -> DataFrame:
    """Conversation-level SFT corpus capstone: extracted TURNS in, one
    curated row per surviving conversation out —

        turns
          -> conversations.assemble_conversations  (role-tagged docs)
          -> dedup.keep_set                        (exact + LSH verdict
                                                    at CONVERSATION
                                                    granularity)
          -> sampling.split_assign                 (leakage-free
                                                    train/val/test)
          -> conversations.loss_mask_spans         (trainable-byte
                                                    accounting)

    Returns (id_col, split, n_turns, doc_bytes, n_trainable_turns,
    trainable_bytes, trainable_frac): the manifest an SFT data loader
    consumes — which conversations to train on, in which split, and
    how much of each document actually carries loss.  `trainable_frac`
    is rounded to 6 places (cross-engine float guard); a kept
    conversation with no trainable turns survives with zeros (it still
    occupies context as input-only material).

    `extra_docs` (doc_id, text) is unioned into the DEDUP INPUT only —
    the cross-source duplicate surface (e.g. an earlier run's docs): a
    conversation byte-identical or near-identical to an extra doc gets
    deduped by the same verdict, while extra docs themselves never
    reach the output (the stats join is on this corpus's turns).

    Scale: assembly is the one text-carrying shuffle; the assembled
    docs are materialized ONCE and feed dedup + the stats join
    (keep_set alone traverses its input three times); the split is
    scan-local codegen; the span stats shuffle ints keyed by
    conversation.  Every stage's deeper story is at its definition.
    """
    from batukh_spark.operators.conversations import (
        assemble_conversations, loss_mask_spans)
    from batukh_spark.operators.sampling import split_assign

    docs = materialize(assemble_conversations(turns, id_col, order_col,
                                              role_col, text_col, sep),
                       "mix.sft_mix:docs")
    dd_in = docs.select(F.col(id_col).alias("doc_id"),
                        F.col("doc_text").alias("text"))
    if extra_docs is not None:
        dd_in = dd_in.unionByName(
            extra_docs.select("doc_id", "text"))
    ks = dedup.keep_set(dd_in)
    kept = (ks.filter(F.col("keep"))
            .select(F.col("doc_id").alias(id_col)))
    assigned = split_assign(kept, weights, key_col=id_col, salt=salt)
    spans = loss_mask_spans(turns, train_roles, id_col, order_col,
                            role_col, text_col, sep)
    tstats = spans.groupBy(F.col(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_trainable_turns"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("long").alias("trainable_bytes"))
    out = (assigned
           .join(docs.select(F.col(id_col), "n_turns",
                             F.col("n_bytes").alias("doc_bytes")),
                 id_col)
           .join(tstats, id_col, "left"))
    tb = F.coalesce("trainable_bytes", F.lit(0)).cast("long")
    frac = F.when(F.col("doc_bytes") > 0,
                  F.round(tb / F.col("doc_bytes"), 6)) \
        .otherwise(F.lit(0.0))
    return out.select(
        F.col(id_col), F.col("split"), F.col("n_turns"),
        F.col("doc_bytes"),
        F.coalesce("n_trainable_turns", F.lit(0)).cast("long")
        .alias("n_trainable_turns"),
        tb.alias("trainable_bytes"),
        frac.alias("trainable_frac"))
