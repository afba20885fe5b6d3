"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a documents
table.  Everything runs as Catalyst expressions (md5, transform,
array_min, aggregate) so it stays JVM-side and is reproducible by the
DuckDB oracle; the only shuffles are the semantically required groupBys /
self-joins, which scale by key.

At 100 TB: exact dedup shuffles one 32-byte hash + doc_id per row;
MinHash signatures are computed scan-local (no shuffle), LSH banding
shuffles (band_id, band_hash) pairs — both orders of magnitude smaller
than the text.  AQE handles banding skew (a hot bucket = near-dup
cluster); pair emission per bucket is quadratic in bucket size, which is
bounded by band width choice, and candidate verification happens on the
signature (already tiny), not the text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from batukh_spark.operators.text import tokens_col, word_shingles
from batukh_spark.session import materialize, named_jobs
from batukh_spark.worker import prepare_worker

N_HASHES = 16          # minhash signature length
N_BANDS = 4            # LSH bands (4 rows/band): ~Jaccard>0.5 candidates
SIMHASH_BITS = 64      # simhash width (two md5s per token: 64 hex chars)
SIMHASH_BANDS = 4      # 4 x 16-bit bands (Charikar/Manku-style buckets)


def canonical_text(c: Column) -> Column:
    """Whitespace-collapsed lowercase — the dedup normalization."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup by md5 of canonical text; keeps min id per group.

    Returns (text_hash, keep_id, n_dups).  Shuffles only (hash, id).
    """
    return (docs
            .select(F.md5(canonical_text(F.col(text_col)))
                    .alias("text_hash"), F.col(id_col))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))


def minhash_signature(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      n_hashes: int = N_HASHES) -> DataFrame:
    """(id, sig: array<string>) — sig[s] = min over shingles of
    md5('s:' || shingle).  Lexicographic min over hex == uniform min-hash;
    identical in DuckDB.

    Implemented as explode -> n_hashes codegen'd md5 columns -> groupBy
    min.  Nested higher-order lambdas (transform-of-transform) would be
    INTERPRETED per element (~100x slower); this shape keeps every md5
    inside whole-stage codegen, and the groupBy gets map-side partial
    mins, so the shuffle carries only n_hashes * 32 bytes per doc.
    Docs with < k tokens have no shingles and drop out (explode).
    The token array is projected to a column BEFORE shingling — the
    shingle lambda re-evaluates free subexpressions per element, so an
    inlined split would re-tokenize the doc once per shingle slot
    (O(n^2); measured ~5x on the whole chain)."""
    toked = docs.select(F.col(id_col),
                        tokens_col(text_col).alias("__tk"))
    # distinct BEFORE the explode: min over the distinct shingle SET
    # equals min over the multiset, so dropping repeats is exact — and
    # every dropped repeat saves n_hashes md5 evaluations.  Templated/
    # repetitive corpora (e.g. assembled conversation docs whose turns
    # share the same source words) measure 2-3x fewer exploded rows.
    sh = F.array_distinct(word_shingles(F.col("__tk")))
    exploded = toked.select(F.col(id_col), F.explode(sh).alias("g"))
    aggs = [F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("g"))))
            .alias(f"h{s}") for s in range(n_hashes)]
    return (exploded.groupBy(id_col).agg(*aggs)
            .select(F.col(id_col),
                    F.array(*[F.col(f"h{s}")
                              for s in range(n_hashes)]).alias("sig")))


def _md5_band_keys(sig: Column, n_hashes: int = N_HASHES,
                   n_bands: int = N_BANDS) -> list[Column]:
    """Minhash band keys: band b's key is md5 of its n_hashes/n_bands
    signature rows joined by '|'.  The batch LSH self-join, the
    signature store and its streaming twin all bucket on these keys,
    so run N+1 buckets against run N's stored bands exactly."""
    rows = n_hashes // n_bands
    return [F.md5(F.concat_ws("|", *[sig.getItem(b * rows + r)
                                     for r in range(rows)]))
            for b in range(n_bands)]


def _bit_band_keys(sig: Column, n_bits: int,
                   n_bands: int) -> list[Column]:
    """Band keys of a '0'/'1' signature string (simhash, SRP): band b's
    key is its n_bits/n_bands-character substring."""
    rows = n_bits // n_bands
    return [F.substring(sig, b * rows + 1, rows) for b in range(n_bands)]


def _explode_bands(sigs: DataFrame, id_col: str, keys: list[Column],
                   key: str, *carry: Column) -> DataFrame:
    """(id, *carry, band_id, key): one row per band bucket."""
    return sigs.select(F.col(id_col), *carry,
                       F.posexplode(F.array(*keys)).alias("band_id", key))


def _band_pairs(bands: DataFrame, id_col: str, key: str,
                *aggs: Column) -> DataFrame:
    """The LSH bucket self-join: ids sharing any (band_id, key) bucket
    become a candidate pair (id_a < id_b, n_shared_bands, *aggs), where
    `aggs` read the two sides as `a.` and `b.`.  It shuffles only the
    band rows — bucketed, never all-pairs."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col(f"a.{key}") == F.col(f"b.{key}"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_bands"), *aggs))


def _verdict(exact: Column, near: Column) -> list[Column]:
    """[keep, reason] of a dedup verdict: reason is exact_dup, else
    near_dup, else unique, and only unique rows are kept."""
    reason = (F.when(exact, "exact_dup")
              .when(near, "near_dup")
              .otherwise("unique"))
    return [(reason == "unique").alias("keep"), reason.alias("reason")]


def _cluster_verdict(with_exact: DataFrame, pairs: DataFrame,
                     id_col: str) -> DataFrame:
    """(id, keep, reason) of a whole-corpus keep set.  `with_exact` is
    (id, keep_id: the min id of its exact group) and `pairs` the
    verified near-dup edges between exact-group representatives; a row
    is near_dup when it is in a component but is not its min id."""
    clusters = resolve_clusters(pairs) \
        .select(F.col("doc_id").alias("__cid"), F.col("cluster_id"))
    return (with_exact
            .join(clusters, F.col(id_col) == F.col("__cid"), "left")
            .select(F.col(id_col), *_verdict(
                F.col(id_col) != F.col("keep_id"),
                F.col("cluster_id").isNotNull()
                & (F.col(id_col) != F.col("cluster_id")))))


def lsh_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        n_hashes: int = N_HASHES,
                        n_bands: int = N_BANDS) -> DataFrame:
    """MinHash-LSH near-dup candidates: (id_a, id_b, n_shared_bands).

    band_hash = md5(concat of the band's signature rows); docs sharing any
    band bucket become a candidate pair.  The self-join shuffles only
    (band_id, band_hash, id).
    """
    # materialize the signature table ONCE: the band self-join consumes
    # it on both sides, and the round-7 plan sweep showed BOTH shingle-
    # explode subtrees in the physical plan (no ReusedExchange fired,
    # contrary to the earlier assumption here).  Interleaved A/B at
    # sf0.1: pairs 1.13 -> 1.03 s, full keep_set 2.93 -> 2.69 s median.
    # The checkpoint is n_hashes x 32 B + id per doc — metadata-sized.
    sigs = materialize(minhash_signature(docs, id_col, text_col, n_hashes),
                       "dedup.lsh_candidate_pairs:sigs")
    bands = _explode_bands(
        sigs, id_col, _md5_band_keys(F.col("sig"), n_hashes, n_bands),
        "band_hash")
    return _band_pairs(bands, id_col, "band_hash")


def resolve_clusters(pairs: DataFrame) -> DataFrame:
    """Candidate pairs (id_a, id_b) -> duplicate clusters: connected
    components by min-label hooking with pointer jumping, over pure
    DataFrame joins.

    Returns (doc_id, cluster_id, is_keeper): cluster_id is the minimum
    doc id in the component, is_keeper marks the one row per cluster a
    dedup keep-set retains.  This is the last mile LSH needs — real
    corpus dedup drops *clusters*, not pairs.

    One loop, one plan shape for cliques and chains.  Each pass first
    checks whether any edge still joins two different labels; if none
    does, the labels are the components.  Otherwise one round hooks
    every node to the least of its own and its neighbours' labels, then
    jumps it to that label's label (Liu & Tarjan, SOSA 2019; Kiveris et
    al., SoCC 2014), materialized so plans do not grow.  Every label
    names a member of its node's component and is <= the node's id, and
    a round after a failed check strictly lowers some label, so the
    loop ends, with each component carrying its own minimum id.  The
    jump shortens chains geometrically, so a path of n nodes takes
    about log2(n) rounds; near-dup cliques are done at the seed and run
    no round.  An empty pair frame passes the first check.
    """
    # symmetrize via ONE explode pass, not a two-arm union: the union
    # form re-executed the whole upstream candidate-generation DAG
    # (e.g. the LSH band self-join) once PER ARM during edge
    # materialization — no subtree reuse fires across union branches
    # (round-7 plan sweep; interleaved A/B on keep_set 2.87 -> 2.77 s
    # at sf0.1; at scale the candidate join is the dominant stage, so
    # running it once instead of twice is the real win).  Materialized
    # ONCE: every check and round joins edges, and would otherwise
    # re-execute the whole upstream candidate-generation DAG
    edges = materialize(pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))))
        .alias("__e")).select("__e.src", "__e.dst").distinct(),
        "dedup.resolve_clusters:edges")
    # seed = the first hook fused into initialization: label(v) = min(v,
    # all neighbours of v) comes straight off the edge list as ONE
    # groupBy.  Every node is a src (the edges are symmetric), so the
    # inner joins below drop none.
    labels = materialize(edges.groupBy("src").agg(F.min("dst").alias("__m"))
                         .select(F.col("src").alias("id"),
                                 F.least("__m", "src").alias("label")),
                         "dedup.resolve_clusters:seed")
    while True:
        with named_jobs(edges.sparkSession, "dedup.resolve_clusters:check"):
            split = (edges.join(labels.toDF("src", "ls"), "src")
                     .join(labels.toDF("dst", "ld"), "dst")
                     .filter(F.col("ls") != F.col("ld"))
                     .limit(1).count())
        if not split:
            return labels.select(
                F.col("id").alias("doc_id"),
                F.col("label").alias("cluster_id"),
                (F.col("id") == F.col("label")).alias("is_keeper"))
        hooked = (edges.join(labels.toDF("dst", "ld"), "dst")
                  .groupBy("src").agg(F.min("ld").alias("__n"))
                  .join(labels.toDF("src", "ls"), "src")
                  .select("src", F.least("ls", "__n").alias("hook")))
        labels = materialize(
            hooked.join(labels.toDF("hook", "lh"), "hook")
            .select(F.col("src").alias("id"),
                    F.least("hook", "lh").alias("label")),
            "dedup.resolve_clusters:round")


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash: string of '0'/'1') — bit j votes +1 when the j-th
    hex char of the token's 64-char hash (md5(t) || md5('x:' || t)) is
    >= '8'.  Two md5s per token yield the full 64-bit Charikar width;
    scan-local (zero shuffle).

    The md5s stay in JVM codegen (staged as a column — an inlined tree
    would recompute every token's two md5s PER BIT); the bit VOTING is
    one vectorized Arrow batch op instead of bits x tokens interpreted
    fold evaluations per doc.  Votes are integer sums — order-
    independent — so the Arrow tally is EXACTLY the expression form's
    (the differential twin in tests/reference_twins.py); hex chars
    voting +1 are '8','9','a'-'f', i.e. byte >= 0x38 ('8') among md5's
    [0-9a-f] alphabet.  A NULL text / empty token array yields the
    all-'0' signature in both forms (NULL votes land in the '0'
    branch)."""

    @pandas_udf(T.StringType())
    def _vote(hs: pd.Series) -> pd.Series:
        prepare_worker()
        out = []
        for v in hs:
            if v is None or len(v) == 0:
                out.append("0" * bits)
                continue
            m = len(v)
            arr = np.frombuffer("".join(v).encode("ascii"),
                                dtype=np.uint8).reshape(m, 64)[:, :bits]
            votes = 2 * (arr >= 56).sum(axis=0) - m
            out.append("".join(np.where(votes > 0, "1", "0")))
        return pd.Series(out)

    pre = docs.select(F.col(id_col), tokens_col(text_col).alias("__tk"))
    hashed = pre.select(
        F.col(id_col),
        F.transform(F.col("__tk"),
                    lambda t: F.concat(F.md5(t),
                                       F.md5(F.concat(F.lit("x:"), t))))
        .alias("__hs"))
    return hashed.select(F.col(id_col),
                         _vote(F.col("__hs")).alias("simhash"))


def simhash_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            bits: int = SIMHASH_BITS,
                            n_bands: int = SIMHASH_BANDS) -> DataFrame:
    """Banded simhash near-dup candidates: split the 64-bit signature
    into 4 x 16-bit bands and bucket on each (Manku-style: any pair
    within hamming distance n_bands - 1 is GUARANTEED a candidate by
    pigeonhole; pairs further out collide only if their differing bits
    cluster outside one band).  Returns (id_a, id_b, n_shared_bands,
    hamming) with the exact 64-bit hamming as the verify column.

    Scale: bucketed self-join on (band_id, band_sig) — never all-pairs;
    the hamming verify joins signatures (64 chars) for candidates only.
    Zero-token docs (empty/whitespace text) are dropped BEFORE banding:
    they all share the identical all-zero signature, so m of them would
    collide in every band and emit O(m^2) candidate pairs — the hot
    bucket the minhash path avoids by dropping shingle-less docs at the
    explode.
    """
    # materialize the signature table ONCE: the band self-join consumes
    # it on both sides, and no ReusedExchange fires across the Arrow
    # vote projection (plan-verified: two ArrowEvalPython nodes before,
    # one signature job after) — each side would re-tokenize and
    # re-hash the corpus.  The checkpoint is (id, 64-char sig) rows,
    # metadata-sized at any corpus scale.
    sigs = materialize(simhash(docs.filter(F.size(tokens_col(text_col)) > 0),
                               id_col, text_col, bits),
                       "dedup.simhash_candidate_pairs:sigs")
    # the full signature rides through the explode (64 bytes/row) so
    # the hamming verify needs NO re-join back to the corpus — the
    # expensive token-vote signature is computed exactly once per side
    # of the band self-join, never a third/fourth time
    bands = _explode_bands(
        sigs, id_col, _bit_band_keys(F.col("simhash"), bits, n_bands),
        "band_sig", F.col("simhash"))
    ham = hamming(F.col("a.simhash"), F.col("b.simhash"), bits)
    return _band_pairs(bands, id_col, "band_sig",
                       F.min(ham).cast("long").alias("hamming"))


def hamming(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    """Hamming distance between two '0'/'1' signature strings.

    Flat codegen sum of per-position compares — integer addition is
    order-independent, so this is exactly the interpreted
    `aggregate(sequence(...))` fold it replaced, without evaluating
    2*bits lambda closures per candidate pair."""
    acc: Column = F.lit(0)
    for j in range(1, bits + 1):
        acc = acc + F.when(F.substring(a, j, 1) != F.substring(b, j, 1),
                           1).otherwise(0)
    return acc


def keep_set(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """End-to-end per-document corpus verdict — the artifact a
    pretraining pipeline actually consumes.  Returns (doc_id, keep,
    reason) with reason in {unique, exact_dup, near_dup}:

      exact_dup  a byte-identical canonical twin with a smaller id
                 exists (dropped);
      near_dup   member of a MinHash-LSH connected component and not
                 its min-id keeper (dropped);
      unique     kept (including the one keeper per near-dup cluster).

    Precedence: exact_dup > near_dup (an exact twin is always also an
    LSH pair, so the cluster keeper is never itself an exact dup).

    Scale: composes exact_dedup (hash+id shuffle), lsh_candidate_pairs
    (bucketed), resolve_clusters (edge-keyed joins, log rounds on
    chains, none on cliques) — no stage is all-pairs; the final
    assembly is two key joins on doc id.

    Exact-dup groups are collapsed to their min-id REPRESENTATIVE
    before the LSH chain: exact copies have byte-identical signatures,
    so (a) every band-collision path through a copy reroutes through
    its rep (components over reps == components over all docs,
    restricted), and (b) each copy collides with its own smaller-id
    rep, so a component's min id is always a rep — the (keep, reason)
    verdicts are IDENTICAL to running LSH over the full corpus, while
    the expensive stages (shingle explode, signature groupBy, band
    join, cluster resolution) see only one doc per distinct text.  On
    real crawl corpora (30-50% exact dup; templated transcript turns
    measured ~2.4x here) that factor comes straight off the dominant
    cost; the price is one key semi-join of the corpus against the rep
    ids."""
    # materialize the (id, 32B hash) table ONCE: the verdict assembly
    # consumes it on two subplans (the exact groupBy and the keep_id
    # join), and without the barrier each consumer re-runs the corpus
    # scan + canonicalization + md5 — the checkpoint is metadata-sized
    # at any corpus scale
    hashes = materialize(docs.select(
        F.col(id_col),
        F.md5(canonical_text(F.col(text_col))).alias("text_hash")),
        "dedup.keep_set:hashes")
    exact = hashes.groupBy("text_hash").agg(F.min(id_col).alias("keep_id"))
    with_exact = hashes.join(exact, "text_hash") \
        .select(F.col(id_col), F.col("keep_id"))
    reps = docs.join(exact.select(F.col("keep_id").alias(id_col)),
                     id_col, "left_semi")
    return _cluster_verdict(
        with_exact, lsh_candidate_pairs(reps, id_col, text_col), id_col)


def build_signature_store(docs: DataFrame, store_dir: str,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> None:
    """Persist run N's dedup SIGNATURES (never its text) so a later run
    can dedup against it incrementally — the production-crawler shape:
    new data arrives continuously and must be checked against the whole
    history without rescanning it.

    Store layout (all parquet, all tiny relative to the corpus):
      {store_dir}/exact  (text_hash, keep_id)        32B hash + id/doc
      {store_dir}/sigs   (doc_id, sig[16])           16 x 32B minhashes
      {store_dir}/bands  (doc_id, band_id, band_hash) 4 rows/doc

    At 10^12 docs the store is ~0.1% the corpus size; `incremental_
    keep_set` touches ONLY these tables for the historical side."""
    hashes = docs.select(
        F.col(id_col),
        F.md5(canonical_text(F.col(text_col))).alias("text_hash"))
    (hashes.groupBy("text_hash").agg(F.min(id_col).alias("keep_id"))
     .write.mode("overwrite").parquet(f"{store_dir}/exact"))
    sigs = minhash_signature(docs, id_col, text_col)
    sigs.write.mode("overwrite").parquet(f"{store_dir}/sigs")
    (_explode_bands(sigs, id_col, _md5_band_keys(F.col("sig")),
                    "band_hash")
     .write.mode("overwrite").parquet(f"{store_dir}/bands"))


def incremental_keep_set(spark, new_docs: DataFrame, store_dir: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         min_sig_agree: int = 8) -> DataFrame:
    """Cross-run incremental dedup verdict for NEW docs against the
    persisted `build_signature_store` output — same (doc_id, keep,
    reason) shape as the whole-corpus `keep_set`:

      exact_dup  the doc's canonical-text md5 exists in the store;
      near_dup   it shares >= 1 minhash band bucket with a stored doc
                 AND the full 16-position signature agreement with that
                 doc is >= min_sig_agree (the verify step — a band
                 collision alone is a candidate, not a verdict);
      unique     neither (precedence exact_dup > near_dup).

    Scale: run N's text is NEVER read — the historical side touches
    only the hash/sig/band store (tests pin the plan: no store `text`
    column, no run-N data path).  The joins are key joins on
    (text_hash) and (band_id, band_hash); signature arrays ship only
    for band-colliding candidates."""
    exact_store = spark.read.parquet(f"{store_dir}/exact") \
        .select("text_hash")
    sig_store = spark.read.parquet(f"{store_dir}/sigs") \
        .select(F.col(id_col).alias("__store_id"),
                F.col("sig").alias("__ssig"))
    band_store = spark.read.parquet(f"{store_dir}/bands") \
        .select(F.col(id_col).alias("__store_id"), "band_id", "band_hash")
    new_hashes = new_docs.select(
        F.col(id_col),
        F.md5(canonical_text(F.col(text_col))).alias("text_hash"))
    exact_hit = (new_hashes
                 .join(exact_store, "text_hash", "left_semi")
                 .select(F.col(id_col), F.lit(True).alias("__exact")))
    new_sigs = minhash_signature(new_docs, id_col, text_col)
    new_bands = _explode_bands(new_sigs, id_col,
                               _md5_band_keys(F.col("sig")), "band_hash")
    cand = (new_bands.join(band_store, ["band_id", "band_hash"])
            .select(F.col(id_col), "__store_id").distinct())
    agree = F.size(F.filter(
        F.zip_with(F.col("sig"), F.col("__ssig"), lambda x, y: x == y),
        lambda m: m))
    near_hit = (cand
                .join(new_sigs, id_col)
                .join(sig_store, "__store_id")
                .filter(agree >= min_sig_agree)
                .select(F.col(id_col), F.lit(True).alias("__near"))
                .distinct())
    return (new_docs.select(F.col(id_col))
            .join(exact_hit, id_col, "left")
            .join(near_hit, id_col, "left")
            .select(F.col(id_col),
                    *_verdict(F.col("__exact"), F.col("__near"))))


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3) -> DataFrame:
    """Jaccard similarity over distinct k-word shingles for given
    (id_a, id_b) pairs.  Join ships only the shingle arrays."""
    sh = docs.select(F.col(id_col),
                     tokens_col(text_col).alias("__tk")) \
        .select(F.col(id_col),
                F.array_distinct(word_shingles(F.col("__tk"), k))
                .alias("sh"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
    return (pairs
            .join(a, pairs.id_a == F.col(f"sa.{id_col}"))
            .join(b, pairs.id_b == F.col(f"sb.{id_col}"))
            .select("id_a", "id_b",
                    F.when(union > 0, inter / union).otherwise(0.0)
                    .alias("jaccard")))
