"""Deterministic stratified sampling for training-mix construction.

A pretraining pipeline rarely trains on the raw corpus mix: it
up/down-samples strata (language, source, quality band) to a target
mixture.  `stratified_sample` implements hash-gated Bernoulli sampling:
a row is kept when the first 4 hex chars of md5(salt || id) fall below
its stratum's threshold.  Properties that matter at 100 TB:

- deterministic: same corpus + salt -> the same sample on any cluster,
  any partitioning, any retry (no RNG state, no seed-per-partition
  coupling like `df.sample`);
- scan-local: a codegen'd filter, no shuffle — Catalyst pushes the
  stratum column read into the scan;
- SQL-reproducible: the DuckDB oracle computes the identical keep set.

Rate granularity is 1/65536.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batukh_spark.operators.text import _prefix_before, apply_token_scale

# interleave_domains builds 2*|domains| codegen terms and collects
# partitions x |domains| planning rows — both fine for mixture keys
# (tens of domains), both unbounded hazards for id-like columns.
# Documented bound; the operator fails loudly past it.
MAX_INTERLEAVE_DOMAINS = 64


def _thr_hex(frac: float) -> str:
    """4-hex-char threshold; 'zzzz' sorts above every hex string, so
    rate >= 1.0 keeps everything."""
    n = round(max(0.0, frac) * 65536)
    return "zzzz" if n >= 65536 else format(n, "04x")


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0,
                      strata_col: str = "lang",
                      id_col: str = "doc_id",
                      salt: str = "mix1") -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    `rates` maps stratum value -> keep fraction; unlisted strata use
    `default_rate`.  Change `salt` to draw an independent sample."""
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1, 4)
    thr = None
    for value, frac in sorted(rates.items()):
        cond = F.col(strata_col) == value
        thr = (F.when(cond, _thr_hex(frac)) if thr is None
               else thr.when(cond, _thr_hex(frac)))
    thr = (thr.otherwise(_thr_hex(default_rate)) if thr is not None
           else F.lit(_thr_hex(default_rate)))
    return docs.filter(h < thr)


def token_budget_sample(docs: DataFrame, budget: int,
                        strata_col: str = "lang",
                        tokens_col: str = "n_tokens",
                        id_col: str = "doc_id",
                        salt: str = "budget1",
                        token_scale: int | None = None) -> DataFrame:
    """Exact per-stratum token-budget sampling: walk each stratum's
    documents in deterministic hash order and keep them until the
    stratum's cumulative token count reaches `budget` (the document
    that crosses the line is kept, so every non-exhausted stratum ends
    with >= budget tokens; a stratum smaller than the budget is kept
    whole).  This is the "N tokens of code, M tokens of wiki" mixture
    spec a pretraining run actually states — rate-based Bernoulli
    (`stratified_sample`) can only hit a token budget in expectation,
    and needs the per-stratum totals up front to even set the rates.

    Returns (id_col, strata_col, tokens_col, tokens_before) where
    tokens_before is the stratum's token count ahead of this document
    in the walk order — the caller can trim the boundary document to
    exactly `budget - tokens_before` tokens if a hard cap matters.

    Deterministic: the walk order is md5(salt || id), so the same
    corpus + salt keeps the same documents on any cluster, any
    partitioning, any retry.

    Scale: only (stratum, id, n_tokens, hash) tuples flow through the
    math — tokens_before is a per-stratum `text._prefix_before` sum
    (NULL stratum included), never a per-stratum SinglePartition
    window.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    # optional ppm calibration (text.apply_token_scale): with
    # token_scale set, per-doc counts — and therefore `budget` and the
    # returned tokens/tokens_before — are in calibrated units
    slim = docs.select(F.col(strata_col).alias("__s"), F.col(id_col),
                       apply_token_scale(
                           F.col(tokens_col).cast("long"), token_scale)
                       .alias("__n"),
                       h.alias("__h"))
    joined, _ = _prefix_before(slim, ["__h", id_col], group_col="__s",
                               weight="__n")
    before = F.col("__before")
    return (joined.filter(before < F.lit(int(budget)))
            .select(F.col(id_col), F.col("__s").alias(strata_col),
                    F.col("__n").alias(tokens_col),
                    before.alias("tokens_before")))


def split_assign(rows: DataFrame, weights: dict[str, float],
                 key_col: str = "conv_id",
                 salt: str = "split1") -> DataFrame:
    """Deterministic, leakage-free train/val/test assignment: every
    row gains a `split` column chosen by where the first 8 hex chars
    of md5(salt || key) fall among the cumulative weight cut points.

    Keyed on the GROUP (conversation/document id), not the row: all
    of a conversation's turns, chunks, and packed pieces land in the
    SAME split, which is the property that prevents train->val
    leakage — splitting downstream rows independently would put half
    a conversation in train and its near-identical other half in val.

    Deterministic: same keys + salt + weights -> the same assignment
    on any cluster, any partitioning, any retry (growing a corpus
    never reassigns an existing key, unlike ntile/row_number schemes
    that reshuffle everything when n changes).

    Granularity is 1/16^8 (~6e-10); weights are normalized to sum 1
    (the last-named split absorbs the remainder, so every key gets a
    split).  Scale: a codegen'd scan-local expression — no shuffle,
    no state.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative, got {weights}")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
        1, 8)
    names = sorted(weights)
    expr, cum = None, 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        thr = format(min(round(cum * 16 ** 8), 16 ** 8 - 1), "08x")
        expr = (F.when(h < thr, name) if expr is None
                else expr.when(h < thr, name))
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    return rows.withColumn("split", split)


def best_of_n(cands, group_col: str = "group_id",
              score_col: str = "score", id_col: str = "cand_id"):
    """Best-of-n selection: keep the highest-scoring candidate per
    group — the RLHF-style rejection-sampling step (n sampled
    responses per prompt, a scorer ranks them, the winner enters the
    training set).  The scorer is whatever produced `score_col`
    (quality_score, a logprob, a reward model's output); this operator
    is only the deterministic argmax.

    Returns (group_col, id_col, score_col), one row per group.
    Tie-break is total and deterministic: highest score, then highest
    `id_col` (struct ordering), so retries and repartitions never
    flip a winner.

    Scale: ONE groupBy over max(struct(score, id)) — a codegen'd
    aggregate with map-side partials, so each group's candidates
    collapse before the shuffle (a window row_number would shuffle
    every candidate row and support no partial aggregation).
    """
    best = cands.groupBy(F.col(group_col)).agg(
        F.max(F.struct(F.col(score_col).alias("s"),
                       F.col(id_col).alias("i"))).alias("__b"))
    return best.select(F.col(group_col),
                       F.col("__b.i").alias(id_col),
                       F.col("__b.s").alias(score_col))


def preference_pairs(cands, group_col: str = "group_id",
                     score_col: str = "score", id_col: str = "cand_id",
                     min_margin: float = 0.0):
    """Preference-pair construction for DPO/RLHF reward training: per
    group, pair the best-scoring candidate (chosen) with the
    worst-scoring one (rejected).  The scorer is whatever produced
    `score_col`; this operator is only the deterministic extremes.

    Tie-breaks mirror `best_of_n` exactly: chosen = max by
    (score, id), rejected = min by (score, id) — struct ordering, so
    the winner best_of_n picks is always this pair's chosen side.
    Groups whose margin (chosen - rejected score) is not strictly
    above `min_margin` are dropped: an all-tied group carries no
    preference signal, and the strict inequality also guarantees
    chosen_id != rejected_id.

    Returns (group_col, chosen_id, rejected_id, chosen_score,
    rejected_score, margin), at most one row per group.

    Scale: ONE groupBy computing max(struct) and min(struct) in the
    same aggregate — codegen'd, map-side partials, so candidates
    collapse to two structs per group before the shuffle; the margin
    filter is a post-aggregate projection, no extra pass.
    """
    agg = cands.groupBy(F.col(group_col)).agg(
        F.max(F.struct(F.col(score_col).alias("s"),
                       F.col(id_col).alias("i"))).alias("__hi"),
        F.min(F.struct(F.col(score_col).alias("s"),
                       F.col(id_col).alias("i"))).alias("__lo"))
    out = agg.select(
        F.col(group_col),
        F.col("__hi.i").alias("chosen_id"),
        F.col("__lo.i").alias("rejected_id"),
        F.col("__hi.s").alias("chosen_score"),
        F.col("__lo.s").alias("rejected_score"),
        (F.col("__hi.s") - F.col("__lo.s")).alias("margin"))
    return out.filter(F.col("margin") > F.lit(float(min_margin)))


def temperature_rates(docs, target: int, alpha: float = 0.5,
                      domain_col: str = "lang",
                      id_col: str = "doc_id"):
    """Temperature-scaled domain mixing rates (the multilingual-
    pretraining scheme: sampling probability p_d proportional to
    n_d^alpha, alpha < 1 up-weighting small domains).  Given a target
    corpus size, each domain's per-doc keep rate is

        rate_d = min(1, target * p_d / n_d),   p_d = w_d / sum(w)

    Returns one row per domain: (domain_col, n_docs, weight, rate).

    Cross-engine determinism: the alpha-power weight is quantized to
    an integer (floor(n^alpha * 1e6)) BEFORE the normalizing sum, so
    the sum is order-independent — float sums are not, and a last-ULP
    difference in `sum(w)` would flip hash-gate thresholds between
    engines/retries.

    Scale: one count aggregate (map-side partials, k domain rows),
    then arithmetic on the k-row table.  No corpus bytes move.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha!r}")
    if target <= 0:
        raise ValueError(f"target must be positive, got {target!r}")
    counts = docs.groupBy(F.col(domain_col)).agg(
        F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.pow(F.col("n_docs").cast("double"),
                      F.lit(float(alpha))) * 1e6).cast("long")
    wtab = counts.select(F.col(domain_col), F.col("n_docs"),
                         w.alias("weight"))
    tot = wtab.agg(F.sum("weight").alias("__tot"))
    rate = F.least(
        F.lit(1.0),
        (F.lit(float(target)) * F.col("weight")) /
        (F.col("__tot").cast("double") * F.col("n_docs").cast("double")))
    return (wtab.crossJoin(F.broadcast(tot))
            .select(F.col(domain_col), F.col("n_docs").cast("long")
                    .alias("n_docs"), F.col("weight"),
                    rate.alias("rate")))


def temperature_sample(docs, target: int, alpha: float = 0.5,
                       domain_col: str = "lang",
                       id_col: str = "doc_id",
                       salt: str = "temp1"):
    """Hash-gated Bernoulli draw at each domain's temperature rate:
    ~target docs kept in expectation, small domains up-weighted by
    alpha.  Deterministic under any partitioning (same corpus + salt
    -> same sample); change `salt` for an independent draw.

    Scale: the k-row rate table broadcasts onto the scan; the gate is
    a codegen'd expression — no corpus shuffle at all.
    """
    rates = temperature_rates(docs, target, alpha, domain_col, id_col)
    thrn = F.floor(F.col("rate") * 65536).cast("long")
    thr = (F.when(thrn >= 65536, F.lit("zzzz"))
           .otherwise(F.lpad(F.lower(F.hex(thrn)), 4, "0")))
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1, 4)
    return (docs.join(F.broadcast(rates.select(F.col(domain_col), "rate")),
                      domain_col)
            .filter(h < thr)
            .select(F.col(id_col), F.col(domain_col)))


def interleave_domains(rows, domain_col: str = "lang",
                       id_col: str = "doc_id", epoch: int = 0,
                       salt: str = "ilv"):
    """Domain-interleaved global training order: every document takes
    a deterministic per-domain rank (md5(salt || epoch || id) order,
    like `epoch_order`), and the global position orders by
    (domain_rank, domain) — a strict round-robin across domains in
    which exhausted domains simply drop out of the cycle.  This is
    the mixing step that keeps consecutive training examples
    heterogeneous (no thousand-doc single-domain stretches, which
    spike gradient correlation), while staying resumable and
    cluster/retry-independent like every ordering in this engine.

    Returns (id_col, domain_col, domain_rank, global_pos) with both
    ranks dense from 0.

    A NULL domain is a domain of its own and takes the last slot of
    each round (the SQL default NULLS LAST).

    Scale: the per-domain rank is a `text._prefix_before` count keyed
    on the domain; the k collected domain sizes (k = |domains|) then
    turn the global position into a CLOSED FORM —
        global_pos = sum_d' min(rank, n_d') + #{d' precedes d : n_d' > rank}
    where d' precedes d when d' is non-NULL and (d is NULL or d' < d)
    — built as 2*|domains| codegen terms, so the interleave costs no
    second shuffle and no global sort at all.

    Cardinality contract: `domain_col` must be a MIXTURE key (a
    handful of languages/sources), never a high-cardinality id — the
    closed form's codegen tree and the planning collect both grow
    linearly in |domains| (a ~1500-node expression tree is where
    Catalyst/Janino compile time blows up, measured on the unrolled
    cosine).  The operator counts distinct domains first (a
    limit-capped probe, so the check itself stays cheap at any
    cardinality) and FAILS LOUDLY past MAX_INTERLEAVE_DOMAINS=64
    instead of silently building an unbounded plan."""
    h = F.md5(F.concat(F.lit(f"{salt}{int(epoch)}:"),
                       F.col(id_col).cast("string")))
    slim = rows.select(F.col(id_col), F.col(domain_col).alias("__d"),
                       h.alias("__h"))
    n_dom = (slim.select("__d").distinct()
             .limit(MAX_INTERLEAVE_DOMAINS + 1).count())
    if n_dom > MAX_INTERLEAVE_DOMAINS:
        raise ValueError(
            f"interleave_domains: domain column {domain_col!r} has "
            f"more than MAX_INTERLEAVE_DOMAINS="
            f"{MAX_INTERLEAVE_DOMAINS} distinct values — this "
            f"operator round-robins a MIXTURE key, not a "
            f"high-cardinality id; bucket the domains upstream")
    joined, sizes = _prefix_before(slim, ["__h", id_col], group_col="__d")
    rank = F.col("__before")
    d = F.col("__d")
    # closed-form interleave position from the k collected sizes
    pos = F.lit(0).cast("long")
    for dp, n in sizes.items():
        n_dp = F.lit(n).cast("long")
        pos = pos + F.least(rank, n_dp)
        if dp is not None:
            precedes = d.isNull() | (F.lit(dp) < d)
            pos = pos + F.when(precedes & (n_dp > rank),
                               F.lit(1).cast("long")).otherwise(F.lit(0))
    return joined.select(F.col(id_col), d.alias(domain_col),
                         rank.alias("domain_rank"),
                         pos.alias("global_pos"))


def fixed_size_sample(docs: DataFrame, k: int,
                      strata_col: str = "source", salt: str = "",
                      id_col: str = "doc_id") -> DataFrame:
    """EXACTLY min(k, n) documents per stratum, deterministically —
    the reservoir-sample equivalent for fixed-budget eval sets and
    per-domain golden samples, where `stratified_sample`'s Bernoulli
    rate gives only an EXPECTED size.  Selection order is
    md5(salt, stratum, id): stable under any partitioning, and
    changing the salt draws an independent sample.

    Returns (id_col, strata_col, rank) with rank in [1, min(k, n)].

    Scale: a naive per-stratum sort ships every row to one reducer per
    stratum (a mega-stratum kills that at corpus scale).  Instead the
    k-th smallest hash is BOUNDED: with n rows uniform in [0, 16^15),
    the k smallest all lie under thresh = 4k/n * 16^15 except with
    probability exp(-Theta(k)), so the scan keeps only ~4k candidate
    rows per stratum (threshold broadcast from a tiny count agg) and
    the exact rank window runs on those.  A chained assert_true fails
    LOUDLY if the bound ever undershoots (rank count != min(k, n)) —
    wrong answers are impossible, not just unlikely."""
    if not (isinstance(k, int) and k >= 1):
        raise ValueError(f"k must be an int >= 1, got {k!r}")
    from pyspark.sql import Window
    HEXMAX = 16 ** 15  # md5 prefix domain, fits a long
    h = F.md5(F.concat_ws(
        "\x1f", F.lit(salt), F.col(strata_col),
        F.col(id_col).cast("string")))
    # __hs (full hex string) is the ORDER key — lexicographic order of
    # fixed-width lowercase hex == numeric order, and it is exactly
    # what a SQL oracle sorts; __h (numeric 15-hex prefix) exists only
    # for the threshold arithmetic (a prefix tie cannot misrank:
    # candidacy is a superset, the rank sorts on the full hash)
    pre = docs.select(F.col(id_col), F.col(strata_col),
                      h.alias("__hs"),
                      F.conv(F.substring(h, 1, 15), 16, 10)
                      .cast("long").alias("__h"))
    counts = pre.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("__n"))
    thresh = counts.select(
        strata_col,
        F.col("__n"),
        F.least(F.lit(float(HEXMAX - 1)),
                F.lit(float(4 * k)) / F.col("__n") * F.lit(float(HEXMAX)))
        .cast("long").alias("__t"))
    cand = (pre.join(F.broadcast(thresh.select(strata_col, "__t")),
                     strata_col)
            .where(F.col("__h") <= F.col("__t")))
    w = Window.partitionBy(strata_col).orderBy("__hs", id_col)
    ranked = (cand.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k))
    # loud undershoot guard driven from the FULL stratum set: the old
    # guard chained inner joins from `ranked`, so a stratum whose
    # hash-threshold prune yielded ZERO candidates never reached the
    # assert and silently vanished (probability ~exp(-4k) per stratum
    # — real at k=1).  Instead left-join per-stratum output counts
    # onto the count table and assert coalesce(got, 0) == min(k, n)
    # for EVERY stratum, collapsed to one broadcast row so the check
    # rides the returned plan lazily (min() over the all-NULL asserts
    # keeps the column referenced — it cannot be pruned).
    got = ranked.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("__got"))
    guard = (thresh.select(strata_col, "__n")
             .join(got, strata_col, "left")
             .select(F.assert_true(
                 F.coalesce(F.col("__got"), F.lit(0))
                 == F.least(F.lit(k), F.col("__n")),
                 F.concat(F.lit("fixed_size_sample: hash-threshold "
                                "undershoot in stratum "),
                          F.col(strata_col))).alias("__okrow"))
             .agg(F.min("__okrow").alias("__g")))
    checked = (ranked.crossJoin(F.broadcast(guard))
               .where(F.col("__g").isNull()))
    return checked.select(F.col(id_col), F.col(strata_col),
                          F.col("rank").cast("long").alias("rank"))
