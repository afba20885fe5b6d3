"""Operator unit tests (dedup / similarity / textstats / multimodal).

Cross-engine equality with DuckDB is exercised exhaustively by
tools/check_queries.py (mirrors the driver gate); these tests pin the
operator SEMANTICS on small hand-built inputs.
"""

import math
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from batukh_spark.operators import dedup, multimodal, similarity, textstats
from batukh_spark.session import arrow_frame
from reference_twins import assign_expr, simhash_expr, srp_signature_expr


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (2, "THE  Quick   brown fox jumps over the lazy dog"),  # canon dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different words about spark engines here"),
        (5, "ab"),  # too short for shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.text_hash: r for r in dedup.exact_dedup(docs).collect()}
    assert len(out) == 4  # 0/1/2 collapse, 3, 4, 5
    groups = sorted((r.n_dups, r.keep_id) for r in out.values())
    assert groups == [(1, 3), (1, 4), (1, 5), (3, 0)]


def test_minhash_identical_docs_share_all_bands(docs):
    pairs = {(r.id_a, r.id_b): r.n_shared_bands
             for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert pairs[(0, 1)] == dedup.N_BANDS           # identical text
    assert pairs[(0, 2)] == dedup.N_BANDS           # canonical-equal tokens
    assert (4, 5) not in pairs and (0, 4) not in pairs


def test_simhash_and_hamming(spark, docs):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == dedup.SIMHASH_BITS
    assert set(sigs[0]) <= {"0", "1"}
    # near-dup hamming < far hamming
    df = spark.createDataFrame(
        [(sigs[0], sigs[3], "near"), (sigs[0], sigs[4], "far")],
        "a string, b string, tag string")
    d = {r.tag: r.h for r in df.select(
        "tag", dedup.hamming(F.col("a"), F.col("b")).alias("h")).collect()}
    assert d["near"] < d["far"]


def test_ngram_jaccard(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 3), (0, 4)],
                                  "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.ngram_jaccard_pairs(docs, pairs).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.0 < out[(0, 3)] < 1.0
    assert out[(0, 4)] == 0.0


def test_stratified_sample_determinism_and_rates(spark):
    from batukh_spark.operators.sampling import stratified_sample
    rows = [(i, "en" if i % 2 == 0 else "de", "x") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = stratified_sample(docs, rates={"en": 1.0, "de": 0.5})
    kept = out.groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in kept}
    assert by_lang["en"] == 1000          # rate 1.0 keeps everything
    assert 400 <= by_lang.get("de", 0) <= 600   # ~50%
    # deterministic: identical sample on a different partitioning
    again = stratified_sample(docs.repartition(7),
                              rates={"en": 1.0, "de": 0.5})
    assert sorted(r.doc_id for r in out.collect()) \
        == sorted(r.doc_id for r in again.collect())
    # default_rate=0 drops unlisted strata
    none_kept = stratified_sample(docs, rates={}, default_rate=0.0)
    assert none_kept.count() == 0


def test_chunk_documents_boundaries(spark):
    from batukh_spark.operators.text import chunk_documents
    w140 = " ".join(f"w{i}" for i in range(140))
    docs = spark.createDataFrame(
        [(1, w140),          # 140 tokens -> chunks at 0/56/112 (stride 56)
         (2, "only three tokens"),
         (3, "   ")],        # no tokens -> no chunks
        "doc_id long, text string")
    out = chunk_documents(docs, max_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    assert [r.n_tokens for r in sorted(by_doc[2],
                                       key=lambda r: r.chunk_idx)] == [3]
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in c1] == [0, 1, 2]
    assert [r.n_tokens for r in c1] == [64, 64, 28]  # 140 - 2*56 = 28
    # overlap: last 8 tokens of chunk 0 == first 8 tokens of chunk 1
    assert c1[0].chunk_text.split()[-8:] == c1[1].chunk_text.split()[:8]
    assert c1[0].chunk_text.split()[0] == "w0"
    assert c1[2].chunk_text.split()[-1] == "w139"


def test_keep_set_verdicts(spark):
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again today")
    docs = spark.createDataFrame(
        [(0, base),
         (1, base),              # exact dup of 0 (also an LSH pair)
         (2, base + " extra"),   # near dup of 0 (shares most shingles)
         (3, "completely different text about spark engines and "
             "parquet files and nothing else shared")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.keep_set(docs).collect()}
    assert out[0].keep and out[0].reason == "unique"
    assert not out[1].keep and out[1].reason == "exact_dup"
    assert not out[2].keep and out[2].reason == "near_dup"
    assert out[3].keep and out[3].reason == "unique"


def test_simhash_banded_candidates(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [(1, a), (2, a),  # identical -> hamming 0, all 4 bands match
         (3, "totally unrelated words nothing shared here at all")],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r
             for r in dedup.simhash_candidate_pairs(docs).collect()}
    assert pairs[(1, 2)].hamming == 0
    assert pairs[(1, 2)].n_shared_bands == 4
    for (ia, ib), r in pairs.items():
        if 3 in (ia, ib):
            assert r.hamming > 0  # unrelated doc never at distance 0


@pytest.fixture(scope="module")
def emb(spark):
    import random
    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, v))
    # vec 30 = exact copy of vec 9 -> must be 9's top neighbour
    rows[30] = (30, rows[9][1][:])
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_vs_numpy(emb):
    import numpy as np
    rows = {r.vec_id: np.array(r.embedding, dtype="float32").astype("f8")
            for r in emb.collect()}
    q = rows[9]
    want = sorted(
        ((float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q))), i)
         for i, v in rows.items() if i != 9),
        key=lambda t: (-round(t[0], 6), t[1]))[:5]
    got = similarity.cosine_topk(emb, query_id=9, k=5).collect()
    assert [r.vec_id for r in got] == [i for _, i in want]
    assert got[0].vec_id == 30 and got[0].cos_sim == 1.0
    for r, (w, _) in zip(got, want):
        assert math.isclose(r.cos_sim, round(w, 6), abs_tol=1e-6)


def test_ivf_assignment_and_pruned_search(emb, tmp_path):
    assign = {r.vec_id: r.cluster
              for r in similarity.assign_ivf_clusters(emb, dim=8).collect()}
    assert set(assign) == set(range(40))
    assert set(assign.values()) <= set(range(8))
    assert assign[30] == assign[9]  # identical vectors, same cluster
    idx = str(tmp_path / "ivf_index")
    similarity.train_ivf(emb, idx, dim=8)
    got = similarity.ivf_topk(emb.sparkSession, idx,
                              query_id=9, k=3).collect()
    assert got[0].vec_id == 30  # exact copy found within probed clusters


def test_ivf_serving_plan_has_no_training(emb, tmp_path):
    """The serving path must do ZERO Lloyd rounds: no aggregation over
    the corpus anywhere in the plan (top-k is TakeOrderedAndProject,
    not an Aggregate), and the probe filter must reach the scan as a
    partition filter on the cluster directory column."""
    idx = str(tmp_path / "ivf_index")
    similarity.train_ivf(emb, idx, dim=8)
    df = similarity.ivf_topk(emb.sparkSession, idx, query_id=9, k=3)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in optimized
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in physical
    assert "cluster" in physical.split("PartitionFilters", 1)[1][:200]


def test_kmeans_training_moves_and_is_deterministic(emb):
    """Trained centroids must differ from the raw init vectors (Lloyd
    actually ran) and be bit-identical across runs (integer-quantized
    sums are order-independent)."""
    c1 = {r.c_id: r.c_vec for r in
          similarity.kmeans_centroids(emb, dim=8).collect()}
    c2 = {r.c_id: r.c_vec for r in
          similarity.kmeans_centroids(
              emb.repartition(5), dim=8).collect()}
    assert c1 == c2  # deterministic under different partitioning
    init = {r.vec_id: [round(x * 1e6) * 1.0 for x in r.embedding]
            for r in emb.filter("vec_id < 8").collect()}
    moved = sum(1 for c in c1 if c1[c] != init[c])
    assert moved >= 6  # training moved (nearly) every centroid


def test_srp_signature_buckets_identical_vectors(emb):
    sigs = {r.vec_id: r.sig
            for r in similarity.srp_signature(emb, dim=8).collect()}
    assert sigs[30] == sigs[9]  # identical vectors share the bucket
    assert len(sigs[9]) == 16 and set(sigs[9]) <= {"0", "1"}
    pairs = similarity.srp_near_dup_pairs(emb, dim=8).collect()
    hit = [p for p in pairs if (p.id_a, p.id_b) == (9, 30)]
    assert len(hit) == 1 and hit[0].cos_sim == 1.0 and hit[0].is_near_dup


def test_srp_signature_arrow_equals_expression_form(spark):
    """The vectorized Arrow srp_signature (round-7: removes the
    ~seconds-per-plan Catalyst analysis tax of the n_bits x dim
    expression tree) must be BIT-IDENTICAL to the expression form —
    same left-to-right float accumulation per bit — including the
    degenerate rows: NULL vector and NULL-element vectors land every
    bit in the '0' branch, all-NaN sums land in the '1' branch
    (Spark orders NaN above every numeric), subnormal magnitudes keep
    their sign."""
    rows = [(1, [0.5] * 64), (2, None),
            (4, [0.5] * 63 + [None]), (5, [float("nan")] * 64),
            (6, [0.0] * 64), (7, [-1.0] + [0.0] * 63),
            (8, [0.5] * 70),
            (9, [1e-300] * 64), (10, [-1e-300] * 64)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    new = {r.vec_id: r.sig
           for r in similarity.srp_signature(df, 32, 64).collect()}
    old = {r.vec_id: r.sig
           for r in srp_signature_expr(df, 32, 64).collect()}
    assert new == old
    assert new[2] == "0" * 32 and new[4] == "0" * 32
    assert new[5] == "1" * 32
    # real-corpus differential: every signature bit-equal
    emb8 = spark.createDataFrame(
        [(i, [((i * 31 + j * 7) % 13 - 6) / 5.0 for j in range(64)])
         for i in range(80)], "vec_id int, embedding array<double>")
    n2 = {r.vec_id: r.sig
          for r in similarity.srp_signature(emb8, 32, 64).collect()}
    o2 = {r.vec_id: r.sig
          for r in srp_signature_expr(emb8, 32, 64).collect()}
    assert n2 == o2
    # short vectors: documented divergence — the Arrow form degrades
    # to the all-'0' signature where the expression form's
    # out-of-range getItem raises an ANSI index error
    short = spark.createDataFrame([(3, [0.5] * 10)],
                                  "vec_id int, embedding array<double>")
    assert similarity.srp_signature(short, 32, 64) \
        .collect()[0].sig == "0" * 32


def test_assign_arrow_equals_expression_form(spark, emb):
    """The Arrow `_assign` (round-7: replaces k x dim interpreted HOF
    cosine evals per vector) must be BIT-IDENTICAL to the expression
    form — same left-to-right accumulation per (vector, centroid),
    same first-max tie-break, NULL cluster for zero-norm vectors."""
    from pyspark.sql import functions as F
    cents = similarity.kmeans_centroids(emb, k=4, iters=1, dim=8)
    q = emb.select("vec_id", similarity.quantized(
        F.col("embedding")).alias("q"))
    new = {r.vec_id: r.cluster
           for r in similarity._assign(q, cents, dim=8, k=4).collect()}
    old = {r.vec_id: r.cluster
           for r in assign_expr(q, cents, dim=8, k=4).collect()}
    assert new == old and len(new) == 40
    assert new[30] == new[9]       # identical vectors co-assign
    # zero-norm vector: the expression form RAISES under ANSI (double
    # division by zero); the Arrow form degrades to a NULL cluster
    zq = spark.createDataFrame([(999, [0] * 8)],
                               "vec_id long, q array<long>")
    z = similarity._assign(zq, cents, dim=8, k=4).collect()
    assert z[0].cluster is None


def test_tokens_col_codegen_equals_filter_form(spark):
    """The codegen tokens_col (strip-then-split, round-7) must equal
    the historical filter-form semantics on every boundary case:
    interior runs, tab/newline boundaries, whitespace-only, empty,
    NULL, and non-\\s unicode spaces (NBSP is NOT Java \\s — it must
    survive as a token character)."""
    from batukh_spark.operators.text import tokens_col
    rows = [(1, "a  b\tc\nd"), (2, "  lead"), (3, "trail   "),
            (4, "\t\n  "), (5, ""), (6, None),
            (7, " "), (8, "A B"), (9, " Mixed CASE  x "),
            (10, "a\u00a0b"), (11, "\u00a0")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    legacy = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                      lambda x: x != "")
    got = {r.doc_id: (r.new, r.old) for r in df.select(
        "doc_id", tokens_col("text").alias("new"),
        legacy.alias("old")).collect()}
    for k, (new, old) in got.items():
        assert new == old, (k, new, old)


def test_simhash_arrow_equals_expression_form(spark):
    """The Arrow simhash bit-voting (round-7) must equal the
    expression form exactly — integer votes are order-independent, so
    any divergence is a bug, including empty/NULL/whitespace docs
    (all-'0' signature) and multi-token unicode."""
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, ""), (4, None), (5, "   "),
            (6, "unicode tökens über straße élève"),
            (7, "x"), (8, "a b c d e f g h i j k l m n o p")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    old = {r.doc_id: r.simhash for r in simhash_expr(df).collect()}
    assert new == old
    assert new[1] == new[2] and new[3] == "0" * 64 and new[4] == "0" * 64


def test_token_counts_pieces(spark):
    """token_counts: whitespace tokens, BPE-style pieces and chars."""
    df = spark.createDataFrame([(1, "Hello world, 42 times!")],
                               "doc_id long, text string")
    r = textstats.token_counts(df).collect()[0]
    assert r.n_ws_tokens == 4
    # Hello world , 42 times !  -> 6 BPE-ish pieces
    assert r.n_bpe_tokens == 6
    assert r.n_chars == 22


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog went to the house in the garden"),
         (2, "der hund und die katze ist nicht ein problem"),
         (3, "xx")],
        "doc_id long, text string")
    q = {r.doc_id: r for r in textstats.quality_score(df).collect()}
    assert q[1].stopword_ratio > 0.3
    assert q[1].quality > q[3].quality
    langs = {r.doc_id: r.pred_lang for r in textstats.lang_id(df).collect()}
    assert langs[1] == "en"
    assert langs[2] == "de"


def test_quality_repetition_rules(spark):
    """Gopher repetition gates: dup-line fraction and top-2-gram share
    penalize repetitive documents."""
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "alpha beta\nalpha beta\nalpha beta\ngamma delta"),
         (3, "the quick brown fox jumps over a lazy dog today and "
             "is that not nice")],
        "doc_id long, text string")
    q = {r.doc_id: r for r in textstats.quality_score(df).collect()}
    assert q[1].top_bigram_frac == 1.0          # all bigrams identical
    assert q[2].dup_line_frac == 0.5            # 4 lines, 2 duplicates
    assert q[3].dup_line_frac == 0.0
    assert q[3].top_bigram_frac < 0.2
    assert q[1].quality < q[3].quality
    assert q[2].quality < q[3].quality


def test_lang_id_wide_profiles(spark):
    df = spark.createDataFrame(
        [(1, "il problema non è che sono più alla come un altro"),
         (2, "o problema não é que para com uma os mais"),
         (3, "и в не на что это по как он же"),
         (4, "de het een en van op te met voor niet")],
        "doc_id long, text string")
    langs = {r.doc_id: r.pred_lang for r in textstats.lang_id(df).collect()}
    assert langs[1] == "it"
    assert langs[2] == "pt"
    assert langs[3] == "ru"
    assert langs[4] == "nl"


def test_fingerprint_winnow(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "abcdefghijklmnop"), (3, "short")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.fingerprint(df).collect()}
    assert out[1].n_grams == 9
    assert out[1].fp_min == out[2].fp_min  # identical docs, same sketch
    assert out[1].n_fingerprints <= out[1].n_grams  # winnowing compresses
    assert out[3].n_grams == 0


def test_multimodal_plumbing(spark, docs):
    media = multimodal.synthesize_media(spark, docs)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == docs.count()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id[0].feat) == 8
    assert all(0.0 <= v <= 1.0 for v in by_id[0].feat)
    # identical payloads -> identical checksum + features (deterministic)
    assert by_id[0].checksum == by_id[1].checksum
    assert by_id[0].feat == by_id[1].feat
    assert by_id[0].n_bytes == len(
        "the quick brown fox jumps over the lazy dog".encode())


def _union_find_clusters(pairs):
    """{id: (min id of its component, id is that min)} — the plain
    driver union-find resolve_clusters must agree with."""
    parent = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: (root(x), root(x) == x) for x in parent}


def _mixed_cliques(n, seed=7):
    rng = random.Random(seed)
    pairs, base = [], 0
    for _ in range(n):
        ids = list(range(base, base + rng.randint(2, 12)))
        pairs += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        base = ids[-1] + 5
    return pairs


CLUSTER_GRAPHS = {
    "chain_clique_pair": [(1, 2), (2, 3), (3, 4),        # chain
                          (10, 11), (10, 12), (11, 12),  # clique
                          (20, 21)],                     # pair
    "path_41": [(i, i + 1) for i in range(40)],
    "path_4096_asc": [(i, i + 1) for i in range(4095)],
    "path_4096_desc": [(i + 1, i) for i in reversed(range(4095))],
    "star_4096": [(0, i) for i in range(1, 4096)],
    "mixed_cliques_200": _mixed_cliques(200),
    "empty": [],
    "string_ids": [("c12", "c12_x"), ("c12_x", "c3"), ("c3", "c30"),
                   ("c7_x", "c7"), ("b", "a_1"), ("a_1", "a")],
}


@pytest.mark.parametrize("graph", list(CLUSTER_GRAPHS))
def test_resolve_clusters_matches_union_find(spark, graph):
    """Connected components equal a driver union-find on every graph
    shape — paths far longer than a fixed round budget, in either id
    order, stars, cliques, no edges and string ids — with cluster_id
    the component's min id and one keeper per cluster."""
    pairs = CLUSTER_GRAPHS[graph]
    kind = pa.string() if graph == "string_ids" else pa.int64()
    frame = arrow_frame(spark, pa.table({
        "id_a": pa.array([a for a, _ in pairs], kind),
        "id_b": pa.array([b for _, b in pairs], kind)}))
    out = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in dedup.resolve_clusters(frame).collect()}
    assert out == _union_find_clusters(pairs)


def test_resolve_clusters_symmetrize_dedups(spark):
    """The one-pass explode symmetrization (round 7: replaces the
    two-arm union that re-ran the candidate DAG per arm) must still
    dedupe repeated and reversed input pairs and be direction-
    insensitive — (1,2) given twice plus (2,1) is ONE edge both ways,
    and a pair given only in descending order still clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1),   # repeated + reversed -> cluster 1
         (6, 5)],                  # descending only -> cluster 5
        "id_a long, id_b long")
    out = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in dedup.resolve_clusters(pairs).collect()}
    assert out == {1: (1, True), 2: (1, False),
                   5: (5, True), 6: (5, False)}


def test_resize_images_plumbing(spark, docs):
    media = multimodal.synthesize_media(spark, docs)
    out = {r.media_id: r
           for r in multimodal.resize_images(media, 8, 6).collect()}
    assert len(out) == docs.count()
    r = out[0]
    assert len(r.payload) == 8 * 6 * 3 and (r.width, r.height) == (8, 6)
    # deterministic: identical payloads resize identically
    assert out[0].checksum == out[1].checksum
    assert out[0].checksum != out[4].checksum


def test_sample_frames_fan_out(spark, docs):
    import math
    media = multimodal.synthesize_video(spark, docs)
    metas = {r.media_id: r.meta.n_frames for r in media.collect()}
    rows = multimodal.sample_frames(media, every_n=4).collect()
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, n in metas.items():
        want = list(range(0, n, 4))
        assert sorted(per[mid]) == want, mid
    # 1 -> N fan-out total
    assert len(rows) == sum(math.ceil(n / 4) for n in metas.values())


def test_hard_negatives_planted_geometry(spark):
    """Hand-built vectors: the most-similar different-label vector
    wins; same-label vectors are excluded no matter how close."""
    from batukh_spark.operators.similarity import hard_negatives
    rows = [
        (0, [1.0, 0.0, 0.0], 0),     # anchor
        (1, [0.99, 0.14, 0.0], 0),   # same label: excluded
        (2, [0.9, 0.43, 0.0], 1),    # best different-label
        (3, [0.0, 1.0, 0.0], 1),
        (4, [-1.0, 0.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    anchors = emb.filter("vec_id = 0")
    got = [(r.vec_id, r.cos_sim)
           for r in hard_negatives(emb, anchors, k=2)
           .orderBy("cos_sim", ascending=False).collect()]
    assert [v for v, _ in got] == [2, 3]
    assert got[0][1] > 0.89 and 1 not in [v for v, _ in got]


def test_hard_negatives_k_rows_and_determinism(spark):
    """Exactly k rows per anchor (when enough negatives exist), and
    the result is identical under different input partitioning —
    the two-phase local top-k cannot change the answer."""
    from batukh_spark.operators.similarity import hard_negatives
    import math
    rows = [(i, [math.cos(i * 0.1), math.sin(i * 0.1), 0.5], i % 3)
            for i in range(60)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    anchors = emb.filter("vec_id % 20 = 0")
    a = sorted((r.anchor_id, r.vec_id)
               for r in hard_negatives(emb, anchors, k=4).collect())
    b = sorted((r.anchor_id, r.vec_id)
               for r in hard_negatives(emb.repartition(13), anchors, k=4)
               .collect())
    assert a == b
    from collections import Counter
    per_anchor = Counter(x for x, _ in a)
    assert set(per_anchor.values()) == {4}
    assert len(per_anchor) == 3


def test_hard_negatives_plan_broadcasts_anchors(spark):
    from batukh_spark.operators.similarity import hard_negatives
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(50)],
        "vec_id long, embedding array<double>, label int")
    anchors = emb.filter("vec_id < 3")
    plan = (hard_negatives(emb, anchors, k=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_pq_exact_copy_found(emb, tmp_path):
    """The planted exact copy (vec 30 == vec 9) has identical codes in
    every sub-space, so its integer ADC score is the maximum possible
    — it must rank first within the probed clusters."""
    idx = str(tmp_path / "pq_index")
    similarity.train_ivf_pq(emb, idx, m=4, ks=8, dim=8)
    got = similarity.ivf_pq_topk(emb.sparkSession, idx,
                                 query_id=9, k=3).collect()
    assert got[0].vec_id == 30


def test_ivf_pq_serving_plan_is_lookup_only(emb, tmp_path):
    """IVF-PQ serving must be pure integer table lookup: no Lloyd
    rounds, no aggregation, no join anywhere in the plan; top-k is
    TakeOrderedAndProject; the scan partition-prunes on cluster and
    column-prunes the stored raw vectors away (only vec_id + code are
    read)."""
    idx = str(tmp_path / "pq_index2")
    similarity.train_ivf_pq(emb, idx, m=4, ks=8, dim=8)
    df = similarity.ivf_pq_topk(emb.sparkSession, idx, query_id=9, k=3)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in optimized
    assert "Join" not in optimized
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in physical
    assert "PartitionFilters" in physical
    assert "cluster" in physical.split("PartitionFilters", 1)[1][:200]
    read_schema = physical.split("ReadSchema", 1)[1][:200]
    assert "code" in read_schema and "embedding" not in read_schema


def test_incremental_embedding_keep_set_plan_is_bucketed(emb, tmp_path):
    """Incremental SemDeDup must never go all-pairs: band matching is
    a key join against the store's band table, vectors join in for
    colliding candidates only — no cartesian product or nested-loop
    join anywhere."""
    store = str(tmp_path / "embstore")
    similarity.build_embedding_store(emb, store, dim=8)
    new = emb.sparkSession.createDataFrame(
        [(100 + i, [float(i), 1.0, 2.0, 3.0, 0.5, 0.1, 0.2, 0.3])
         for i in range(5)],
        "vec_id long, embedding array<float>")
    df = similarity.incremental_embedding_keep_set(
        emb.sparkSession, new, store, dim=8)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_pq_refine_finds_exact_copy_first(emb, tmp_path):
    """Refinement re-ranks by exact cosine: the planted copy (vec 30
    == vec 9) must come back first with cos_sim 1.0."""
    idx = str(tmp_path / "pq_index3")
    similarity.train_ivf_pq(emb, idx, m=4, ks=8, dim=8)
    got = similarity.ivf_pq_topk(emb.sparkSession, idx, query_id=9,
                                 k=3, refine=10).collect()
    assert got[0].vec_id == 30 and got[0].cos_sim == 1.0
    # the refined path still must not aggregate over the corpus
    df = similarity.ivf_pq_topk(emb.sparkSession, idx, query_id=9,
                                k=3, refine=10)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in optimized


def test_srp_hot_bucket_guard_bounds_candidates(spark):
    """max_bucket drops dense buckets from candidate generation (a
    hot bucket is low-information — members agree on b bits because
    the region is dense, not because they are near-dups) while cold
    buckets keep pairing: 50 same-direction vectors produce ZERO
    candidates under the cap, the isolated twin pair still collides."""
    base1 = [1.0, 0.2, -0.3, 0.4, 0.1, -0.2, 0.3, 0.5]
    base2 = [-x for x in base1]          # complement signature
    rows = [(i, [x * (1 + i * 1e-4) for x in base1]) for i in range(50)]
    rows += [(100, base2), (101, [x * 1.1 for x in base2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = similarity.srp_candidate_pairs(
        df, n_bits=8, n_bands=2, dim=8, max_bucket=10).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}
    # without the cap the dense family goes quadratic: C(50,2)+1 pairs
    uncapped = similarity.srp_candidate_pairs(
        df, n_bits=8, n_bands=2, dim=8).count()
    assert uncapped == 50 * 49 // 2 + 1
    with pytest.raises(ValueError):
        similarity.srp_candidate_pairs(df, max_bucket=1)
