"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline and an IVF-style
cluster-pruned variant as the scale path.  Dot products run as Catalyst
higher-order functions (zip_with + aggregate) — JVM-side, no Python.

At 100 TB / 10^9 vectors: brute force is a single scan + global top-k
(TakeOrderedAndProject — no full sort); IVF prunes the scan to one
centroid bucket, and the centroid assignment job is a broadcast join
(centroid table is tiny) + scan-local argmax, shuffling nothing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from batukh_spark.operators.dedup import (_band_pairs, _bit_band_keys,
                                          _cluster_verdict, _explode_bands,
                                          _verdict)
from batukh_spark.session import arrow_frame, materialize
from batukh_spark.worker import prepare_worker


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2(a) * l2(b))


def dot_flat(a: Column, b: Column, dim: int) -> Column:
    """Bit-exact UNROLLED dot product: the same left-to-right float
    additions as the `dot` HOF fold — (((0.0 + a0*b0) + a1*b1) + ...)
    — but as a flat codegen expression instead of an interpreted
    `aggregate(zip_with(...))` (higher-order functions are
    CodegenFallback in Spark; on the candidate-verify hot path the
    interpreted fold evaluates ~3*dim lambda closures per pair).

    Semantics note: the HOF zips to the actual array lengths, so two
    equally-short vectors would fold fewer terms; this form indexes
    [0, dim) and yields NULL when any index is missing — for wrong-dim
    input (which `embedding_audit` gates out) NULL is the safer
    verdict, and for dim-length input the result is bit-identical."""
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i) * b.getItem(i)
    return acc


def cosine_flat(a: Column, b: Column, dim: int) -> Column:
    """Bit-exact codegen twin of `cosine` for dim-length vectors (see
    dot_flat for the exactness argument; division/sqrt shapes match
    the HOF form term for term)."""
    return dot_flat(a, b, dim) / (F.sqrt(dot_flat(a, a, dim))
                                  * F.sqrt(dot_flat(b, b, dim)))


def cosine_topk(emb: DataFrame, query_id: int, k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k against the vector of `query_id`.

    The query vector joins in as a broadcast single-row dim table —
    no collect, no driver round-trip; Catalyst folds it into the scan.
    Returns (vec_id, cos_sim) sorted desc, ties broken by id asc.
    """
    q = emb.filter(F.col(id_col) == query_id) \
        .select(F.col(vec_col).cast("array<double>").alias("qvec"))
    sim = (emb.filter(F.col(id_col) != query_id)
           .crossJoin(F.broadcast(q))
           .select(F.col(id_col),
                   F.round(cosine(F.col(vec_col).cast("array<double>"),
                                  F.col("qvec")), 6).alias("cos_sim")))
    return sim.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def quantized(vec: Column) -> Column:
    """Micro-unit integer quantization: round(x * 1e6) per component.

    K-means centroid updates average float sums, and distributed float
    summation is ORDER-DEPENDENT in the low bits — the trained codebook
    would differ run to run (and engine to engine).  Integer sums are
    exact and order-independent, so quantizing once makes the whole
    training deterministic and bit-reproducible by the DuckDB oracle."""
    return F.transform(vec.cast("array<double>"),
                       lambda x: F.round(x * 1e6).cast("long"))


def kmeans_centroids(emb: DataFrame, k: int = 8, iters: int = 2,
                     dim: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Deterministic k-means codebook: init = the k lowest-id vectors,
    then `iters` Lloyd rounds (assign by cosine argmax, recenter by
    exact integer mean).  Returns (c_id, c_vec: array<double>).

    All stages are DataFrame ops: assignment is a broadcast join +
    scan-local argmax (nothing shuffles but the k x dim sums), recenter
    is one groupBy with per-dimension sum columns (map-side partial
    aggregation; no explode).  At 10^9 vectors each round is one scan +
    one k-row shuffle — the standard scalable Lloyd shape."""
    q = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("q"))
    cents = (q.filter(F.col(id_col) < k)
             .select(F.col(id_col).cast("int").alias("c_id"),
                     F.transform("q", lambda x: x.cast("double"))
                     .alias("c_vec")))
    for _ in range(iters):
        assigned = _assign(q, cents, id_col, keep_q=True, dim=dim, k=k)
        dims = [F.sum(F.col("q").getItem(i)).alias(f"s{i}")
                for i in range(dim)]
        # materialize the k-row codebook: without this every downstream
        # action re-executes ALL previous Lloyd rounds (the plan nests
        # per round) — at 10^9 vectors that re-scans the corpus once
        # per round per action
        cents = materialize(
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"), *dims)
            .select(F.col("cluster").alias("c_id"),
                    F.array(*[(F.col(f"s{i}") / F.col("n"))
                              .alias(f"d{i}")
                              for i in range(dim)]).alias("c_vec")),
            "similarity.kmeans_centroids:round")
    return cents


def _assign(q: DataFrame, cents: DataFrame, id_col: str = "vec_id",
            keep_q: bool = False, dim: int = 64, k: int = 8) -> DataFrame:
    """(id, q:quantized vec) x centroid table -> (id, cluster) by cosine
    argmax, first-max tie-break.  keep_q carries the vector through so
    a Lloyd recenter needs no re-join back to the source.

    ORACLE-EXACT Arrow form: the k-row codebook collects to the driver
    (the same planning-collect class as ivf_topk's probe ranking) and
    each Arrow batch scores all k cosines with STRICTLY left-to-right
    accumulation over the dim axis — numpy ops vectorize across rows
    while the per-row float addition chain is the identical IEEE
    sequence as the HOF fold / DuckDB's list_sum, so assignments are
    bit-equal to the expression form (its differential twin lives in
    tests/reference_twins.py).  The expression form interprets k x dim
    lambda evals per vector; this removes that while keeping the
    bit-exactness a matmul (pairwise summation) cannot guarantee.

    Degenerate rows: a zero-norm vector gets a NULL cluster here where
    the expression form RAISES under ANSI (double division by zero) —
    the graceful verdict for input `embedding_audit` flags anyway; a
    zero-norm CENTROID is masked out of the argmax."""
    rows = sorted(cents.collect(), key=lambda r: r.c_id)  # k rows (tiny)
    cvecs = [[float(v) for v in r.c_vec] for r in rows]

    def _py_l2sq(c):
        s = 0.0
        for x in c:
            s = s + x * x
        return s

    cnorm2 = [_py_l2sq(c) for c in cvecs]  # exact LTR, like l2(c_vec)

    @pandas_udf(T.IntegerType())
    def _best(qs: pd.Series) -> pd.Series:
        prepare_worker()
        n = len(qs)
        if n == 0:
            return pd.Series([], dtype="Int32")
        mat = np.empty((n, dim), dtype="f8")
        bad = np.zeros(n, dtype=bool)
        for r, v in enumerate(qs):
            if v is None or len(v) != dim:
                bad[r] = True
                mat[r] = 0.0
                continue
            mat[r] = np.asarray(v, dtype="f8")
        qn2 = np.zeros(n)
        for i in range(dim):
            col = mat[:, i]
            qn2 = qn2 + col * col          # LTR over dim, as the fold
        qn = np.sqrt(qn2)
        best = np.full(n, -1, dtype="i8")
        bestsim = np.full(n, -np.inf)
        for j, c in enumerate(cvecs):
            if cnorm2[j] == 0.0:
                continue                   # NULL sims: skipped by max
            acc = np.zeros(n)
            for i in range(dim):
                acc = acc + mat[:, i] * c[i]   # LTR over dim
            sims = acc / (qn * np.sqrt(cnorm2[j]))
            with np.errstate(invalid="ignore"):
                upd = sims > bestsim       # strict >: first-max wins
            upd &= ~np.isnan(sims)
            best[upd] = j
            bestsim[upd] = sims[upd]
        out = pd.array(best.astype("int32"), dtype="Int32")
        out[bad | (best < 0)] = None
        return pd.Series(out)

    qd = F.transform(F.col("q"), lambda x: x.cast("double"))
    cols = [F.col(id_col), _best(qd).alias("cluster")]
    if keep_q:
        cols.append(F.col("q"))
    return q.select(*cols)


def assign_ivf_clusters(emb: DataFrame, n_centroids: int = 8,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        iters: int = 2, dim: int = 64) -> DataFrame:
    """IVF assignment against a TRAINED codebook (deterministic k-means,
    see kmeans_centroids).  Returns (vec_id, cluster)."""
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters, dim=dim,
                             id_col=id_col, vec_col=vec_col)
    q = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("q"))
    return _assign(q, cents, id_col, dim=dim, k=n_centroids)


def _srp_sign(j: int, i: int) -> int:
    """Deterministic Rademacher (+1/-1) hyperplane entry for SRP bit j,
    dimension i — derived from md5 so the DuckDB oracle reproduces the
    exact same hyperplanes (the same md5-seeding trick the minhash
    oracle uses)."""
    import hashlib
    h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
    return 1 if h[0] in "89abcdef" else -1


def _srp_sign_rows(n_bits: int, dim: int) -> list:
    """+1/-1 hyperplane rows for srp_signature (md5-derived, cached)."""
    key = (n_bits, dim)
    cache = _srp_sign_rows.__dict__.setdefault("_cache", {})
    if key not in cache:
        cache[key] = [[_srp_sign(j, i) for i in range(dim)]
                      for j in range(n_bits)]
    return cache[key]


def srp_signature(emb: DataFrame, n_bits: int = 16, dim: int = 64,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(id, sig): the SRP signature of every vector (srp_signature_col).
    Scan-local: computes with zero shuffle."""
    return emb.select(F.col(id_col),
                      srp_signature_col(F.col(vec_col), n_bits, dim)
                      .alias("sig"))


def srp_signature_col(vec: Column, n_bits: int = 16,
                      dim: int = 64) -> Column:
    """Sign-random-projection LSH signature: bit j = [dot(v, h_j) > 0]
    with Rademacher hyperplanes h_j (see _srp_sign).  Collision
    probability per bit is 1 - theta/pi, so equal signatures <=> small
    angle — the standard cosine-LSH family.

    Computed as ONE vectorized Arrow batch op: the accumulation loops
    over the dim axis with numpy (vectorized across rows), so each
    row's per-bit sum is the IDENTICAL left-to-right float addition
    chain as the expression form / the oracle's list_sum — IEEE adds
    in the same order, bit-for-bit equal (the differential twin lives
    in tests/reference_twins.py).  The expression form was measured at
    ~7.5s of driver-side Catalyst analysis per fresh 32x64 plan — a
    per-query planning tax this removes entirely.  As a Column it runs
    unchanged in batch and streaming plans, so the streaming twin's
    buckets are the batch buckets by construction.

    Degenerate rows mirror the expression form exactly (pinned by a
    differential test incl. NULL/NaN/zero fixtures): a NULL vector or
    one containing a NULL element yields the all-'0' signature (NULL
    sums fail the `> 0` gate into the '0' branch); NaN sums yield '1'
    bits (Spark orders NaN above every numeric, so `NaN > 0` is
    true).  One deliberate divergence: a vector SHORTER than `dim`
    also degrades to the all-'0' signature here, where the expression
    form's out-of-range getItem raises an ANSI index error — audit
    dims with `embedding_audit` if wrong-dim input should fail
    loudly."""
    sign_rows = _srp_sign_rows(n_bits, dim)

    @pandas_udf(T.StringType())
    def _sig(vs: pd.Series, is_bad: pd.Series) -> pd.Series:
        prepare_worker()
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype=object)
        mat = np.zeros((n, dim), dtype="f8")
        bad = is_bad.to_numpy(dtype=bool, na_value=True)
        for r, v in enumerate(vs):
            if bad[r]:
                continue
            mat[r] = np.asarray(v[:dim] if len(v) > dim else v,
                                dtype="f8")
        bits = np.empty((n, n_bits), dtype=bool)
        for j in range(n_bits):
            acc = np.zeros(n)
            row = sign_rows[j]
            for i in range(dim):
                col = mat[:, i]
                acc = acc + (col if row[i] > 0 else -col)
            # NaN > 0 is TRUE under Spark/DuckDB NaN-greatest ordering
            bits[:, j] = (acc > 0) | np.isnan(acc)
        bits[bad, :] = False
        chars = np.where(bits, "1", "0")
        return pd.Series(["".join(r) for r in chars])

    v = vec.cast("array<double>")
    # a NULL vector, short vector, or NULL element nulls the whole sum
    # in the expression form, landing every bit in the '0' branch —
    # the flag reproduces that exactly (Arrow would otherwise fold
    # element-NULLs into NaN, which sits in the '1' branch instead)
    bad = (v.isNull() | (F.size(v) < dim)
           | F.coalesce(F.exists(F.slice(v, 1, dim),
                                 lambda x: x.isNull()), F.lit(False)))
    return _sig(v, bad)


def srp_candidate_pairs(emb: DataFrame, n_bits: int = 32,
                        n_bands: int = 4, dim: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_bucket: int | None = None) -> DataFrame:
    """Banded SRP-LSH candidates: (id_a, id_b, n_shared_bands).

    The signature splits into `n_bands` bands of n_bits/n_bands bits
    with OR semantics — a pair is a candidate when ANY band matches
    (the same band/bucket shape as the minhash `lsh_candidate_pairs`).
    A single full-signature gate has recall 0.899^32 ~ 3% at cos=0.95;
    4 OR'd 8-bit bands give 1-(1-0.899^8)^4 ~ 0.91, and the verify step
    keeps precision.  The self-join shuffles only (band_id, band_sig,
    id) — bucketed, never all-pairs; pairs colliding in several bands
    collapse in the groupBy.

    DENSITY CONTRACT (the knob that keeps "bucketed" true as the
    corpus grows): a b-bit band has 2^b buckets, so the expected
    bucket occupancy is n / 2^b and the candidate volume grows as
    n^2 / 2^b — with the 8-bit default the verify stage degrades
    toward all-pairs beyond ~10^5 vectors (measured: 55k vectors ->
    ~860 candidates per probe).  Two levers: scale n_bits with
    log2(n) (wider bands = fewer random collisions, recall paid at
    the threshold cosine), and/or set `max_bucket` — the standard
    LSH hot-bucket guard (the fingerprint df-gate's twin): buckets
    with more than `max_bucket` members are EXCLUDED from candidate
    generation (a hot bucket is low-information by construction —
    its members agree on b bits because the region is dense, not
    because they are near-dups; a true near-dup pair in a dropped
    bucket usually still collides in one of the other OR'd bands).
    The cap bounds per-probe work to n_bands * max_bucket candidates
    regardless of corpus size."""
    sigs = srp_signature(emb, n_bits, dim, id_col, vec_col)
    # materialize the band table ONCE: the self-join below references
    # it on BOTH sides, and the n_bits x dim flat-sum signature subtree
    # is opaque enough that the planner re-executes it per side (no
    # ReusedExchange fires — measured as ~2x the signature cost inside
    # candidate generation).  The checkpoint holds (id, band_id,
    # band_sig) — n_bands short rows per vector, a tiny fraction of
    # the corpus bytes, exactly what build_embedding_store persists
    # for the same reason.
    bands = materialize(_explode_bands(
        sigs, id_col, _bit_band_keys(F.col("sig"), n_bits, n_bands),
        "band_sig"), "similarity.srp_candidate_pairs:bands")
    if max_bucket is not None:
        if not (isinstance(max_bucket, int) and max_bucket >= 2):
            raise ValueError(f"max_bucket must be an int >= 2 or None, "
                             f"got {max_bucket!r}")
        sizes = bands.groupBy("band_id", "band_sig").agg(
            F.count(F.lit(1)).alias("__bn"))
        bands = (bands.join(sizes, ["band_id", "band_sig"])
                 .where(F.col("__bn") <= max_bucket)
                 .drop("__bn"))
    return _band_pairs(bands, id_col, "band_sig")


def srp_near_dup_pairs(emb: DataFrame, n_bits: int = 32,
                       n_bands: int = 4, dim: int = 64,
                       threshold: float = 0.9, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       max_bucket: int | None = None) -> DataFrame:
    """Embedding near-dup: multi-band SRP-LSH candidates verified by
    exact cosine.  Returns (id_a, id_b, n_shared_bands, cos_sim,
    is_near_dup).  Candidate generation is bucketed (see
    srp_candidate_pairs); the verify join ships vectors for candidates
    only, so the quadratic term is bounded by bucket sizes, not corpus
    size."""
    cand = srp_candidate_pairs(emb, n_bits, n_bands, dim, id_col,
                               vec_col, max_bucket=max_bucket)
    vecs = emb.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("e"))
    a = vecs.alias("va")
    b = vecs.alias("vb")
    # the verify is the UNROLLED codegen cosine — bit-exact to the
    # interpreted HOF fold (see cosine_flat) with no lambda
    # interpretation per pair
    cos = F.round(cosine_flat(F.col("va.e"), F.col("vb.e"), dim), 6)
    # cos_sim materializes in its own projection before the flag reads
    # it: referencing the cosine expression twice in one select would
    # evaluate the whole unrolled sum twice per candidate
    return (cand
            .join(a, cand.id_a == F.col(f"va.{id_col}"))
            .join(b, cand.id_b == F.col(f"vb.{id_col}"))
            .select("id_a", "id_b", "n_shared_bands",
                    cos.alias("cos_sim"))
            .withColumn("is_near_dup", F.col("cos_sim") > threshold))


def train_ivf(emb: DataFrame, index_dir: str, n_centroids: int = 8,
              iters: int = 2, dim: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> None:
    """Train ONCE -> persist the IVF index: (a) the k-row codebook at
    `{index_dir}/codebook`, (b) the corpus with its cluster assignment
    at `{index_dir}/vectors`, PARTITIONED BY cluster.  Serving
    (`ivf_topk`) then runs zero Lloyd rounds and partition-prunes the
    scan to the probed clusters — at 10^9 vectors an ANN query touches
    nprobe/n_centroids of the data instead of re-training per query."""
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters, dim=dim,
                             id_col=id_col, vec_col=vec_col)
    cents.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    q = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("q"))
    assign = _assign(q, cents, id_col, dim=dim, k=n_centroids)
    (emb.join(assign, id_col)
     .write.mode("overwrite").partitionBy("cluster")
     .parquet(f"{index_dir}/vectors"))


def _py_dot(u: list, v: list) -> float:
    """Strict left-to-right dot product — the exact summation order of
    Spark's aggregate(zip_with(...)) HOF and DuckDB's list_sum, so
    driver-side probe ranking is bit-identical to the SQL oracle."""
    s = 0.0
    for x, y in zip(u, v):
        s = s + x * y
    return s


def _py_quantized(v: list) -> list:
    """Python mirror of `quantized`: round-half-AWAY(x * 1e6) as double
    (Spark's F.round is HALF_UP; Python's round() is half-to-even and
    must not be used here)."""
    import math
    out = []
    for x in v:
        s = float(x) * 1e6
        out.append(math.floor(abs(s) + 0.5) * (1.0 if s >= 0 else -1.0))
    return out


def ivf_topk(spark, index_dir: str, query_id: int, k: int = 10,
             nprobe: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Cluster-pruned ANN SERVING against a persisted `train_ivf` index:
    multi-probe (single-probe recall degrades when true neighbours
    straddle cluster boundaries, the norm for near-uniform embeddings).

    The query path runs ZERO Lloyd rounds and contains no aggregation
    over the corpus: probe choice is a k-row driver computation over
    the persisted codebook (same collect class as the codebook itself,
    in the oracle's exact left-to-right arithmetic), and the probe
    filter is a LITERAL `IN`, so the parquet scan partition-prunes to
    nprobe/n_centroids of the data.  The query's own cluster is always
    its top-ranked probe (assignment and probe ranking share the same
    argmax and tie-break), so the query row survives the pruning."""
    import math
    cents = sorted(spark.read.parquet(f"{index_dir}/codebook").collect(),
                   key=lambda r: r.c_id)
    vectors = spark.read.parquet(f"{index_dir}/vectors")
    qrow = (vectors.filter(F.col(id_col) == query_id)
            .select(vec_col).collect())  # 1 row; filter pushed to scan
    if not qrow:
        raise ValueError(
            f"ivf_topk: {id_col}={query_id!r} not found in the "
            f"persisted index at {index_dir} — the index was trained "
            f"on a different corpus than the caller expects, or the "
            f"id is wrong")
    qd = _py_quantized(list(qrow[0][0]))
    if not any(qd):
        # train_ivf assigns zero-norm vectors a NULL cluster (cosine
        # undefined), so such a query would not survive the probe
        # pruning — fail loudly instead of returning an empty top-k
        raise ValueError(
            f"ivf_topk: query vector {id_col}={query_id!r} has zero "
            f"norm; cosine similarity is undefined for it")
    sims = [(_py_dot(qd, list(c.c_vec))
             / (math.sqrt(_py_dot(qd, qd))
                * math.sqrt(_py_dot(list(c.c_vec), list(c.c_vec)))),
             c.c_id) for c in cents]
    probes = [c for _, c in sorted(sims, key=lambda t: (-t[0], t[1]))
              [:nprobe]]
    pruned = vectors.filter(F.col("cluster").isin(probes)).drop("cluster")
    return cosine_topk(pruned, query_id, k, id_col, vec_col)


def hard_negatives(emb: DataFrame, anchors: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor,
    the k corpus vectors MOST similar to it that carry a DIFFERENT
    label — the negatives that actually move an embedding model,
    versus random negatives the model already separates.

    `anchors` is a (id_col, vec_col, label_col) table, small relative
    to the corpus (a training batch / sampled probe set) -> BROADCAST;
    the corpus side scores scan-local against every anchor.  Returns
    (anchor_id, vec_id, cos_sim) — k rows per anchor, cos rounded to
    6 decimals, ties broken by vec_id asc (total, deterministic).

    Scale: two-phase top-k.  Phase 1 takes the per-anchor top-k
    WITHIN each physical input partition (window keyed on
    (anchor, partition id) — many keys, no skew), collapsing
    |corpus| x |anchors| scored rows to n_partitions x |anchors| x k;
    phase 2's per-anchor window then sees k rows per partition, so no
    anchor ever concentrates the corpus on one task.  Only
    (anchor_id, id, double) triples ever shuffle — vectors die at the
    scan.  At 100 TB the same shape composes with IVF probe pruning
    (`ivf_topk`) to cut the scanned corpus per anchor."""
    if not (isinstance(k, int) and k >= 1):
        raise ValueError(f"k must be an int >= 1, got {k!r}")
    from pyspark.sql import Window
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).cast("array<double>").alias("__avec"),
        F.col(label_col).alias("__albl"))
    scored = (emb
              .select(F.col(id_col), F.col(label_col),
                      F.col(vec_col).cast("array<double>").alias("__e"))
              .crossJoin(F.broadcast(a))
              .filter((F.col(label_col) != F.col("__albl"))
                      & (F.col(id_col) != F.col("anchor_id")))
              .select(F.col("anchor_id"), F.col(id_col),
                      F.round(cosine(F.col("__e"), F.col("__avec")), 6)
                      .alias("cos_sim"))
              .withColumn("__part", F.spark_partition_id()))
    w1 = Window.partitionBy("anchor_id", "__part") \
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
    local = (scored
             .withColumn("__rn", F.row_number().over(w1))
             .filter(F.col("__rn") <= k).drop("__rn", "__part"))
    w2 = Window.partitionBy("anchor_id") \
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (local.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= k).drop("__rn"))


def embedding_audit(emb: DataFrame, expected_dim: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Pre-flight contract audit for an embedding table — run BEFORE
    committing an ANN/dedup job at scale, because every failure class
    here silently corrupts downstream math: NULL vectors drop rows in
    joins, wrong-dim vectors break dot products, NaNs poison every
    aggregate they touch, and zero vectors make cosine undefined
    (the serving guards in ivf_topk/cosine_topk then skip or misrank
    them).

    Returns ONE row:
      (n_rows, n_null_vec, n_wrong_dim, n_null_elem, n_nan, n_zero, ok)
    where n_wrong_dim counts non-NULL vectors with size != expected_dim,
    n_null_elem counts vectors containing any NULL element (these
    poison dot products exactly like NaN, and under three-valued logic
    they would otherwise slip PAST the NaN and zero checks — isnan(NULL)
    and NULL != 0.0 are both NULL), n_nan counts vectors containing any
    NaN, n_zero counts all-zero vectors (exact comparison, no float
    arithmetic — engine-safe; a vector with NULL elements is never
    counted zero), and ok = every count but n_rows is 0.

    Scale: scan-local conditional aggregates folded map-side; the
    exchange carries ONE row of longs.  Lambdas reference only their
    bound element."""
    v = F.col(vec_col)
    is_null = v.isNull()
    wrong_dim = ~is_null & (F.size(v) != expected_dim)
    has_null_elem = ~is_null & F.exists(v, lambda x: x.isNull())
    # per-element null guards keep every exists() a clean two-valued
    # boolean — no NULL verdicts to mis-count
    has_nan = ~is_null & F.exists(v, lambda x: x.isNotNull()
                                  & F.isnan(x))
    all_zero = (~is_null & ~has_null_elem
                & ~F.exists(v, lambda x: x != 0.0))

    def cnt(c, name):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(name)

    out = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        cnt(is_null, "n_null_vec"),
        cnt(wrong_dim, "n_wrong_dim"),
        cnt(has_null_elem, "n_null_elem"),
        cnt(has_nan, "n_nan"),
        cnt(all_zero, "n_zero"))
    ok = ((F.col("n_null_vec") == 0) & (F.col("n_wrong_dim") == 0)
          & (F.col("n_null_elem") == 0)
          & (F.col("n_nan") == 0) & (F.col("n_zero") == 0))
    return out.select("n_rows", "n_null_vec", "n_wrong_dim",
                      "n_null_elem", "n_nan",
                      "n_zero", ok.alias("ok"))


def embedding_keep_set(emb: DataFrame, n_bits: int = 32,
                       n_bands: int = 4, dim: int = 64,
                       threshold: float = 0.9, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       max_bucket: int | None = None) -> DataFrame:
    """SemDeDup-style per-vector corpus verdict — the embedding-
    granularity twin of the text `dedup.keep_set`, the artifact a
    semantic-dedup pass actually consumes.  Returns (vec_id, keep,
    reason) with reason in {unique, exact_dup, near_dup}:

      exact_dup  a vector identical at micro-unit resolution
                 (round(x * 1e6) per component — the same integer
                 quantization the deterministic k-means trains on)
                 with a smaller id exists (dropped);
      near_dup   member of a cosine-verified SRP-LSH connected
                 component (cos > threshold) and not its min-id
                 keeper (dropped);
      unique     kept (including the one keeper per near-dup cluster).

    Precedence: exact_dup > near_dup (an exact twin has a byte-
    identical SRP signature and cosine 1.0 with its rep, so it is
    always also a near-dup pair; the cluster keeper is never itself
    an exact dup).

    Like the reference's duplicate-line suppression this keeps ONE
    representative per equivalence class rather than dropping the
    whole class (/root/reference/batukh/torch/utils/ocr.py — CTC
    merge-repeated keeps the first of each run).

    Scale (the SemDeDup shape at 10^9 vectors): exact grouping is one
    hash+id shuffle; exact-dup groups collapse to their min-id
    REPRESENTATIVE before the LSH chain (identical vectors have
    identical signatures, so components over reps == components over
    all vectors restricted, and a component's min id is always a
    rep — verdicts equal running LSH over the full corpus while the
    band self-join and cluster resolution see one vector per distinct
    embedding.  Caveat: "identical" is defined at the 1e-6 quantized
    resolution of vec_hash, while signatures/cosines use the raw
    floats — two vectors equal at 1e-6 but unequal in the last float
    bits could in principle sign-flip a near-boundary SRP bit or a
    cosine rounding and diverge from a full-corpus run; no checked
    corpus exhibits this); candidate generation is bucketed
    (srp_candidate_pairs — never all-pairs); the verify join ships
    vectors for candidates only; cluster resolution (log rounds on
    chains, none on cliques) shuffles only the candidate-graph edges.  Degenerate vectors (NULL / NaN / zero)
    should be audited out first via `embedding_audit` — a zero vector
    has undefined cosine and never verifies as near_dup."""
    # ONE corpus scan: (id, vector, identity hash) materializes once
    # and feeds every consumer below — the un-checkpointed form
    # re-executed the input lineage four times (hash pass, rep
    # semi-join, and both sides of the candidate verify), i.e. four
    # full corpus scans at production scale.  Executor-local storage
    # holds id + dim doubles + 32B hash per vector — the same budget
    # build_embedding_store commits to disk for the incremental path.
    vecsh = materialize(emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__e"),
        vec_hash(F.col(vec_col)).alias("__vh")),
        "similarity.embedding_keep_set:vecsh")
    hashes = vecsh.select(F.col(id_col), F.col("__vh"))
    exact = hashes.groupBy("__vh").agg(F.min(id_col).alias("keep_id"))
    with_exact = hashes.join(exact, "__vh") \
        .select(F.col(id_col), F.col("keep_id"))
    # materialize reps ONCE: the verify join inside srp_near_dup_pairs
    # consumes the rep vectors on BOTH sides, and each side would
    # re-run the exact groupBy + vector-carrying semi-join (round-7
    # interleaved A/B: 6.65 -> 6.21 s median on the sf0.1 registry
    # corpus; at scale this trades one rep-vector materialization for
    # two full vector shuffles).
    reps = materialize(vecsh.select(F.col(id_col), F.col("__e")).join(
        exact.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"),
        "similarity.embedding_keep_set:reps")
    pairs = (srp_near_dup_pairs(reps, n_bits=n_bits, n_bands=n_bands,
                                dim=dim, threshold=threshold,
                                id_col=id_col, vec_col="__e",
                                max_bucket=max_bucket)
             .where(F.col("is_near_dup"))
             .select("id_a", "id_b"))
    return _cluster_verdict(with_exact, pairs, id_col)


def vec_hash(v: Column) -> Column:
    """Canonical identity hash of a vector: md5 over the comma-joined
    micro-unit-quantized components (the k-means quantization) — so
    "identical" is defined at 1e-6 resolution, is immune to float32
    vs float64 round-tripping of the same values, and is reproducible
    by the SQL oracle (`md5(array_to_string(...round(x*1e6)::bigint
    ::varchar, ','))`)."""
    return F.md5(F.array_join(
        F.transform(quantized(v), lambda x: x.cast("string")), ","))


def _round_half_away(x: float) -> int:
    """Python mirror of DuckDB round()::bigint / Spark F.round on
    doubles: half-AWAY-from-zero (Python's round() is half-to-even
    and must not be used for oracle-parity arithmetic)."""
    import math
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def train_ivf_pq(emb: DataFrame, index_dir: str, n_centroids: int = 8,
                 m: int = 8, ks: int = 16, iters: int = 2,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> None:
    """Train ONCE -> persist an IVF-PQ index: the coarse codebook +
    cluster-partitioned corpus of `train_ivf`, plus a PRODUCT
    QUANTIZER — the vector splits into `m` sub-spaces of dim/m
    components, each sub-space gets its own `ks`-entry codebook
    (trained with the same deterministic integer-quantized k-means as
    the coarse stage), and every corpus vector is stored as its m
    sub-space code bytes.  Serving (`ivf_pq_topk`) then ranks by
    integer distance-table lookup over the codes and never touches a
    raw corpus vector.

    Layout: {index_dir}/codebook      coarse (c_id, c_vec)
            {index_dir}/pq_codebook   (sub_id, c_id, c_vec[dim/m])
            {index_dir}/vectors       (vec_id, emb, code[m]) BY cluster

    Scale: sub-codebook training is m k-means jobs over dim/m-wide
    slices (each the scalable Lloyd shape — broadcast assign, k-row
    recenter shuffle); code assignment is ONE scan-local select per
    corpus row — the m codebooks are baked in as literals (m*ks*dim/m
    = dim*ks doubles, trivially broadcastable), each sub-space's sim
    array staged into its own projection so nothing re-evaluates per
    element.  At 10^9 x 64 floats the stored codes are 8 bytes/vector
    — a 32x scan-volume cut for the serving path."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters, dim=dim,
                             id_col=id_col, vec_col=vec_col)
    cents.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    sub_books = []
    for j in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("__sv"))
        sc = kmeans_centroids(sub, k=ks, iters=iters, dim=dsub,
                              id_col=id_col, vec_col="__sv")
        sub_books.append(sorted(sc.collect(), key=lambda r: r.c_id))
    arrow_frame(emb.sparkSession, pa.Table.from_pylist(
        [{"sub_id": j, "c_id": r.c_id,
          "c_vec": [float(v) for v in r.c_vec]}
         for j, book in enumerate(sub_books) for r in book],
        pa.schema([("sub_id", pa.int32()), ("c_id", pa.int32()),
                   ("c_vec", pa.list_(pa.float64()))]))) \
        .write.mode("overwrite").parquet(f"{index_dir}/pq_codebook")
    # one scan-local pass: quantized sub-slices staged as columns, then
    # per-sub-space sims over the literal codebooks, then the argmax
    # codes (array_position/array_max — the _assign tie-break)
    q = emb.select(F.col(id_col), F.col(vec_col).alias("__emb"),
                   quantized(F.col(vec_col)).alias("__q"))
    staged = q.select(
        F.col(id_col), F.col("__emb"), F.col("__q"),
        *[F.transform(F.slice("__q", j * dsub + 1, dsub),
                      lambda x: x.cast("double")).alias(f"__s{j}")
          for j in range(m)])
    sims_cols = []
    for j, book in enumerate(sub_books):
        clit = F.array(*[
            F.array(*[F.lit(float(v)) for v in r.c_vec]) for r in book])
        sv = F.col(f"__s{j}")
        sims_cols.append(
            F.transform(clit, lambda c: cosine(sv, c)).alias(f"__sim{j}"))
    simmed = staged.select(F.col(id_col), F.col("__emb"), F.col("__q"),
                           *sims_cols)
    code = F.array(*[
        (F.array_position(F.col(f"__sim{j}"),
                          F.array_max(F.col(f"__sim{j}"))) - 1)
        .cast("int") for j in range(m)])
    coded = simmed.select(F.col(id_col),
                          F.col("__emb").alias(vec_col),
                          code.alias("code"),
                          F.col("__q"))
    assign = _assign(coded.select(F.col(id_col), F.col("__q").alias("q")),
                     cents, id_col, dim=dim, k=n_centroids)
    (coded.drop("__q").join(assign, id_col)
     .write.mode("overwrite").partitionBy("cluster")
     .parquet(f"{index_dir}/vectors"))


def ivf_pq_topk(spark, index_dir: str, query_id: int, k: int = 10,
                nprobe: int = 3, refine: int = 0,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ ANN SERVING against a persisted `train_ivf_pq` index:
    asymmetric distance computation by INTEGER table lookup.

    Query time builds m distance tables of ks entries each — the
    exact integer dot product of the micro-unit-quantized query
    sub-vector with each rounded sub-centroid (Python bigints; bit-
    identical to the SQL oracle's arithmetic) — and bakes them in as
    literal arrays.  The corpus side then scores each candidate as
    the sum of m element_at lookups on its stored code: pure codegen,
    no join, no aggregation, no vector ever read or shuffled.  The
    scan partition-prunes to the `nprobe` probed clusters (literal
    IN on the partition column) and reads ONLY (vec_id, code) — the
    stored raw vectors are column-pruned away.  Top-k is
    TakeOrderedAndProject on the exact integer score, ties broken by
    id asc (total order, engine-reproducible).

    Approximation contract: ranking is by quantized inner product in
    micro-units (~1e12 x the float dot) — recall vs brute-force
    cosine is measured by the `ivf_pq_topk` registry query, with the
    codebook resolution (m x ks) and nprobe as the knobs.

    `refine` (FAISS-style refinement): when > 0, the integer ADC
    ranking produces a top-`refine` SHORTLIST instead of the final
    answer, the shortlist's RAW vectors join back in (a key join of
    `refine` ids against the probed partitions — the only vector read
    on the serve path, bounded by the literal shortlist size), and
    exact cosine re-ranks them into the final top-k.  This converts
    the quantization error into a recall knob: the coarse ADC only
    has to land true neighbours in the top-`refine`, not the top-k —
    measured on the near-uniform synthetic corpus at refine=50,
    recall@10 goes 0.2 -> 0.9 at sf0.01 (0.9 = exactly what the
    exact-cosine IVF achieves at nprobe=3, i.e. refinement recovers
    everything quantization lost) and 0.4 -> 0.8 at sf0.001."""
    import math
    cents = sorted(spark.read.parquet(f"{index_dir}/codebook").collect(),
                   key=lambda r: r.c_id)
    books: dict[int, list] = {}
    for r in spark.read.parquet(f"{index_dir}/pq_codebook").collect():
        books.setdefault(r.sub_id, []).append(r)
    m = len(books)
    vectors = spark.read.parquet(f"{index_dir}/vectors")
    qrow = (vectors.filter(F.col(id_col) == query_id)
            .select(vec_col).collect())
    if not qrow:
        raise ValueError(
            f"ivf_pq_topk: {id_col}={query_id!r} not found in the "
            f"persisted index at {index_dir}")
    qd = _py_quantized(list(qrow[0][0]))
    if not any(qd):
        raise ValueError(
            f"ivf_pq_topk: query vector {id_col}={query_id!r} has "
            f"zero norm; cosine probe ranking is undefined for it")
    sims = [(_py_dot(qd, list(c.c_vec))
             / (math.sqrt(_py_dot(qd, qd))
                * math.sqrt(_py_dot(list(c.c_vec), list(c.c_vec)))),
             c.c_id) for c in cents]
    probes = [c for _, c in sorted(sims, key=lambda t: (-t[0], t[1]))
              [:nprobe]]
    dsub = len(qd) // m
    tables = []
    for j in range(m):
        qsub = [int(v) for v in qd[j * dsub:(j + 1) * dsub]]
        book = sorted(books[j], key=lambda r: r.c_id)
        tables.append([
            sum(a * _round_half_away(b) for a, b in zip(qsub, r.c_vec))
            for r in book])
    score = None
    for j, dt in enumerate(tables):
        term = F.element_at(F.array(*[F.lit(v) for v in dt]),
                            F.col("code").getItem(j) + 1)
        score = term if score is None else score + term
    pruned = vectors.filter(F.col("cluster").isin(probes))
    adc = (pruned
           .filter(F.col(id_col) != query_id)
           .select(F.col(id_col), score.cast("long").alias("score"))
           .orderBy(F.desc("score"), F.asc(id_col))
           .limit(refine if refine > 0 else k))
    if not refine:
        return adc
    qvec = F.array(*[F.lit(float(v)) for v in qrow[0][0]]) \
        .cast("array<double>")
    cos = F.round(cosine(F.col(vec_col).cast("array<double>"), qvec), 6)
    return (adc.select(id_col)
            .join(pruned.select(F.col(id_col), F.col(vec_col)), id_col)
            .select(F.col(id_col), cos.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k))


def build_embedding_store(emb: DataFrame, store_dir: str,
                          n_bits: int = 32, n_bands: int = 4,
                          dim: int = 64, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> None:
    """Persist run N's embedding-dedup signatures so a later run can
    semantic-dedup against it incrementally — the embedding twin of
    `dedup.build_signature_store`.  Layout (all parquet):

      {store_dir}/exact  (vec_hash, keep_id)        identity hashes
      {store_dir}/sigs   (vec_id, sig[n_bits chars]) SRP signatures
      {store_dir}/bands  (vec_id, band_id, band_sig) band buckets
      {store_dir}/vecs   (vec_id, e: array<double>)  verify vectors

    Unlike the text store (which never carries text — signatures
    suffice for Jaccard-style verification), the embedding store DOES
    carry the vectors: cosine verification of a candidate needs both
    endpoints, and the historical corpus is exactly what incremental
    dedup must not rescan.  That is still the cheap side of the trade:
    the vector table is a fixed ~dim*8 bytes/row regardless of how
    much text each embedding represents."""
    hashes = emb.select(F.col(id_col),
                        vec_hash(F.col(vec_col)).alias("vec_hash"))
    (hashes.groupBy("vec_hash").agg(F.min(id_col).alias("keep_id"))
     .write.mode("overwrite").parquet(f"{store_dir}/exact"))
    sigs = srp_signature(emb, n_bits, dim, id_col, vec_col)
    sigs.write.mode("overwrite").parquet(f"{store_dir}/sigs")
    (_explode_bands(sigs, id_col,
                    _bit_band_keys(F.col("sig"), n_bits, n_bands),
                    "band_sig")
     .write.mode("overwrite").parquet(f"{store_dir}/bands"))
    (emb.select(F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("e"))
     .write.mode("overwrite").parquet(f"{store_dir}/vecs"))


def incremental_embedding_keep_set(spark, new_emb: DataFrame,
                                   store_dir: str,
                                   threshold: float = 0.9,
                                   n_bits: int = 32, n_bands: int = 4,
                                   dim: int = 64,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> DataFrame:
    """Cross-run incremental SemDeDup verdict for NEW vectors against
    a persisted `build_embedding_store` — same (vec_id, keep, reason)
    shape as the whole-corpus `embedding_keep_set`:

      exact_dup  the vector's quantized identity hash exists in the
                 store;
      near_dup   shares an SRP band bucket with a stored vector AND
                 exact cosine > threshold (rounded to 6, like every
                 cosine verdict in this engine);
      unique     neither.

    Precedence exact_dup > near_dup.  NEW-vs-NEW duplicates are *not*
    flagged (per-run semantics, identical to the text
    `incremental_keep_set` — run `embedding_keep_set` within the
    batch first if intra-batch dedup matters).

    Scale: the new side computes signatures scan-local (codegen flat
    sums); band matching joins only (band_id, band_sig, id) against
    the store's band table; vectors ship for COLLIDING candidates
    only (a key join against the store's vector table, bounded by
    bucket sizes, never |new| x |store|)."""
    # materialize the NEW batch's (id, vector) ONCE: three subplans
    # consume it (signatures, identity hashes, cosine verify), and the
    # arrival-construction lineage would otherwise re-execute per
    # consumer — three scans of the new batch instead of one.  The
    # checkpoint is the batch itself (the small side of incremental
    # dedup by design), never the store.  The double-cast is a no-op
    # for already-double input, so signature/hash bits are unchanged.
    nvecs = materialize(
        new_emb.select(F.col(id_col),
                       F.col(vec_col).cast("array<double>").alias("__ne")),
        "similarity.incremental_embedding_keep_set:nvecs")
    sigs = srp_signature(nvecs, n_bits, dim, id_col, "__ne")
    nbands = _explode_bands(sigs, id_col,
                            _bit_band_keys(F.col("sig"), n_bits, n_bands),
                            "band_sig")
    hbands = (spark.read.parquet(f"{store_dir}/bands")
              .select(F.col("vec_id").alias("__hid"),
                      "band_id", "band_sig"))
    cand = (nbands.join(hbands, ["band_id", "band_sig"])
            .select(F.col(id_col), F.col("__hid")).distinct())
    hvecs = (spark.read.parquet(f"{store_dir}/vecs")
             .select(F.col("vec_id").alias("__hid"),
                     F.col("e").alias("__he")))
    # unrolled codegen cosine — bit-exact to the HOF fold (cosine_flat)
    cos = F.round(cosine_flat(F.col("__ne"), F.col("__he"), dim), 6)
    near = (cand.join(hvecs, "__hid").join(nvecs, id_col)
            .select(F.col(id_col), cos.alias("__cos"))
            .where(F.col("__cos") > threshold)
            .select(F.col(id_col)).distinct()
            .withColumn("__near", F.lit(True)))
    exact_store = (spark.read.parquet(f"{store_dir}/exact")
                   .select(F.col("vec_hash").alias("__vh"))
                   .withColumn("__exact", F.lit(True)))
    hashes = nvecs.select(F.col(id_col),
                          vec_hash(F.col("__ne")).alias("__vh"))
    return (hashes.join(exact_store, "__vh", "left")
            .join(near, id_col, "left")
            .select(F.col(id_col),
                    *_verdict(F.col("__exact"), F.col("__near"))))
