"""Round-4 training-data operators: sequence packing, fingerprint
candidate pairs, incremental cross-run dedup, the composed training
mix, and the lang_id / simhash hardening guards.

Cross-engine value equality is exercised by tools/check_queries.py
(mirrors the driver gate); these tests pin SEMANTICS and the scale
properties that SQL equality cannot see (plan shape, store contents).
"""

import pytest
from pyspark.sql import functions as F

from batukh_spark.operators import dedup, textstats
from batukh_spark.operators.text import chunk_documents, pack_sequences


# ---------------------------------------------------------------------------
# pack_sequences

def _expected_packing(chunks, seq_len):
    """Pure-python reference: concat-and-split over (doc, idx) order."""
    out, off = set(), 0
    for doc, idx, n in sorted(chunks):
        if n <= 0:
            continue
        s = off // seq_len
        last = (off + n - 1) // seq_len
        for seq in range(s, last + 1):
            b = max(off, seq * seq_len)
            e = min(off + n, (seq + 1) * seq_len)
            out.add((doc, idx, seq, b - off, e - off, b - seq * seq_len))
        off += n
    return out


def test_pack_sequences_matches_reference(spark):
    rows = [(d, i, n) for d, i, n in
            [(1, 0, 64), (1, 1, 30), (2, 0, 100), (2, 1, 7),
             (3, 0, 0), (4, 0, 256), (5, 0, 1)]]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_idx long, n_tokens long")
    got = {(r.doc_id, r.chunk_idx, r.seq_id, r.tok_begin, r.tok_end,
            r.seq_pos)
           for r in pack_sequences(df, seq_len=128).collect()}
    assert got == _expected_packing(rows, 128)


def test_pack_sequences_covers_every_token_exactly_once(spark):
    """Concat-and-split invariants: the pieces of each chunk tile
    [0, n_tokens) without gap or overlap, every sequence position is
    used at most once, and no piece crosses a sequence boundary."""
    docs = spark.createDataFrame(
        [(i, "tok " * (5 + (i * 37) % 90)) for i in range(50)],
        "doc_id long, text string")
    chunks = chunk_documents(docs, max_tokens=16, overlap=4)
    out = pack_sequences(chunks, seq_len=64).collect()
    per_chunk = {}
    used = set()
    for r in out:
        per_chunk.setdefault((r.doc_id, r.chunk_idx), []).append(r)
        assert 0 <= r.seq_pos and r.seq_pos + (r.tok_end - r.tok_begin) \
            <= 64
        for p in range(r.seq_pos, r.seq_pos + r.tok_end - r.tok_begin):
            assert (r.seq_id, p) not in used   # no double-booking
            used.add((r.seq_id, p))
    n_tok = {(r.doc_id, r.chunk_idx): r.n_tokens for r in chunks.collect()}
    for key, pieces in per_chunk.items():
        pieces.sort(key=lambda r: r.tok_begin)
        assert pieces[0].tok_begin == 0
        assert pieces[-1].tok_end == n_tok[key]
        for a, b in zip(pieces, pieces[1:]):
            assert a.tok_end == b.tok_begin
    # all sequences except the last are exactly full
    seq_fill = {}
    for s, p in used:
        seq_fill[s] = seq_fill.get(s, 0) + 1
    for s in sorted(seq_fill)[:-1]:
        assert seq_fill[s] == 64


def test_pack_sequences_deterministic_under_partitioning(spark):
    docs = spark.createDataFrame(
        [(i, "word " * (3 + i % 40)) for i in range(60)],
        "doc_id long, text string")
    chunks = chunk_documents(docs, max_tokens=16, overlap=0)
    a = set(map(tuple, pack_sequences(chunks, seq_len=48).collect()))
    b = set(map(tuple, pack_sequences(chunks.repartition(7), seq_len=48)
                .collect()))
    assert a == b


def test_assemble_sequences_reconstructs_token_stream(spark):
    """The assembled seq_texts, concatenated in seq_id order, must be
    EXACTLY the concatenation of the chunk texts in (doc, idx) order —
    packing may split chunks across sequences but never lose, reorder,
    or duplicate a token; every sequence but the last is full."""
    from batukh_spark.operators.text import assemble_sequences
    docs = spark.createDataFrame(
        [(i, "w%d " % i * (7 + (i * 31) % 60)) for i in range(40)],
        "doc_id long, text string")
    chunks = chunk_documents(docs, max_tokens=16, overlap=0)
    seqs = sorted(assemble_sequences(chunks, seq_len=48).collect(),
                  key=lambda r: r.seq_id)
    stream = " ".join(r.seq_text for r in seqs).split(" ")
    want = []
    for r in sorted(chunks.collect(),
                    key=lambda r: (r.doc_id, r.chunk_idx)):
        want.extend(r.chunk_text.split(" "))
    assert stream == want
    for r in seqs[:-1]:
        assert r.n_tokens == 48
        assert len(r.seq_text.split(" ")) == 48


def test_pack_sequences_plan_has_no_global_window(spark):
    """The prefix sum must never collapse to a single partition (the
    canonical global-window scale-killer): the window's exchange is
    hash-partitioned on the physical-partition key, not
    SinglePartition."""
    docs = spark.createDataFrame(
        [(i, "tok " * 20) for i in range(20)],
        "doc_id long, text string")
    chunks = chunk_documents(docs, max_tokens=8, overlap=0)
    df = pack_sequences(chunks, seq_len=32)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in physical
    assert "SinglePartition" not in physical
    assert "hashpartitioning(__part" in physical


def test_winnow_fps_plan_is_codegen_not_interpreted(spark):
    """The bulk winnowing path must stay inside whole-stage codegen:
    no interpreted higher-order lambda (the 22x regression would be
    silent otherwise) — and it must equal the interpreted reference."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.text import char_grams_md5
    from batukh_spark.operators.textstats import _winnow_fps, _winnow_mins
    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrst"), (2, "zyxwvutsrqpon"), (3, "shrt"),
         (4, "")],
        "doc_id long, text string")
    fast = _winnow_fps(docs, "doc_id", "text", 8, 4)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan     # no interpreted HOF
    ref = docs.select(
        F.col("doc_id"),
        F.explode(_winnow_mins(char_grams_md5(F.col("text"), 8), 4))
        .alias("fp"))
    assert (set(map(tuple, fast.collect()))
            == set(map(tuple, ref.collect())))


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=8, overlap=9)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=8, overlap=-1)
    with pytest.raises(ValueError):
        pack_sequences(chunk_documents(docs), seq_len=0)


# ---------------------------------------------------------------------------
# fingerprint candidate pairs

def test_fingerprint_candidates_shared_passage(spark):
    shared = "zq8kw3vn7p2j unique passage text here"
    df = spark.createDataFrame(
        [(1, "first record containing " + shared),
         (2, "second writeup holding " + shared),
         (3, "totally unrelated third blob nothing matches anywhere")],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.n_shared_fps
             for r in textstats.fingerprint_candidate_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_fingerprint_candidates_df_cap_drops_boilerplate(spark):
    """A passage present in EVERY doc (boilerplate) must not emit the
    all-pairs clique once its document frequency exceeds max_df."""
    boiler = "standard footer text appended everywhere always"
    df = spark.createDataFrame(
        [(i, f"doc body number {i} " + boiler) for i in range(10)],
        "doc_id long, text string")
    out = textstats.fingerprint_candidate_pairs(df, max_df=5).collect()
    # the boilerplate fingerprints have df=10 > 5 -> pruned; the doc
    # bodies differ -> no (or almost no) surviving pairs vs 45 cliques
    assert len(out) < 10


# ---------------------------------------------------------------------------
# incremental cross-run dedup

@pytest.fixture()
def runs(spark, tmp_path):
    a_rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely different second document about spark engines"),
        (4, "a third historical document with its own distinct words"),
    ]
    b_rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),  # exact
        (3, "the quick brown fox jumps over the lazy dog tonight ok"),  # near
        (5, "an entirely new fifth document unlike anything stored"),
        (7, ""),                                       # empty: no shingles
    ]
    a_path, b_path = str(tmp_path / "runA"), str(tmp_path / "runB")
    spark.createDataFrame(a_rows, "doc_id long, text string") \
        .write.parquet(a_path)
    spark.createDataFrame(b_rows, "doc_id long, text string") \
        .write.parquet(b_path)
    store = str(tmp_path / "store")
    dedup.build_signature_store(spark.read.parquet(a_path), store)
    return a_path, b_path, store


def test_incremental_keep_set_verdicts(spark, runs):
    _, b_path, store = runs
    out = {r.doc_id: r for r in dedup.incremental_keep_set(
        spark, spark.read.parquet(b_path), store).collect()}
    assert out[1].reason == "exact_dup" and not out[1].keep
    assert out[3].reason == "near_dup" and not out[3].keep
    assert out[5].reason == "unique" and out[5].keep
    assert out[7].reason == "unique" and out[7].keep


def test_incremental_store_holds_signatures_not_text(spark, runs):
    """The store must allow run N+1 to dedup WITHOUT run N's text:
    (a) no store table carries a text column; (b) the verdict plan
    scans only the store and run N+1's path — run N's data path never
    appears."""
    a_path, b_path, store = runs
    for sub in ("exact", "sigs", "bands"):
        cols = spark.read.parquet(f"{store}/{sub}").columns
        assert "text" not in cols, f"{sub} leaked text"
    df = dedup.incremental_keep_set(
        spark, spark.read.parquet(b_path), store)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "runA" not in physical
    assert "runB" in physical and "store" in physical


# ---------------------------------------------------------------------------
# training mix composition

def test_training_mix_end_to_end(spark):
    good = ("the project report describes how the data pipeline is "
            "built and that it runs well in the cluster today with "
            "many documents to process and a stable design overall "
            "for the team and the future of the whole system ") * 3
    rows = [(1, good), (2, good),                      # exact dups
            (3, "zz qq ww"),                           # low quality
            (4, "xq " * 200)]                          # no lang verdict
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from batukh_spark.mix import training_mix
    out = training_mix(df, rates={"en": 1.0}, default_rate=1.0,
                       quality_min=0.45).collect()
    docs_out = {r.doc_id for r in out}
    assert docs_out == {1}          # 2 deduped, 3 gated, 4 lang-gated
    assert all(r.pred_lang == "en" for r in out)
    assert all(r.n_tokens <= 64 for r in out)
    total = sum(r.n_tokens for r in out)
    n_words = len(good.split())
    # 64/8 overlapping windows re-cover 8 tokens per boundary
    assert total >= n_words


# ---------------------------------------------------------------------------
# hardening guards

def test_lang_id_cjk_script_gate(spark):
    df = spark.createDataFrame(
        [(1, "这是一个没有空格分词的中文句子"),            # unsegmented zh
         (2, "これは日本語のテキストです"),                # ja (kana)
         (3, "qwzx bnmp vcxz"),                           # no evidence
         (4, "the cat and the dog in the house")],        # en
        "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.lang_id(df).collect()}
    assert out[1].pred_lang == "zh" and out[1].hits >= 4
    assert out[2].pred_lang == "ja"
    assert out[3].pred_lang is None and out[3].hits == 0
    assert out[4].pred_lang == "en"


def test_simhash_candidates_drop_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\n\t"), (4, "real content words here"),
         (5, "real content words here")],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in dedup.simhash_candidate_pairs(df).collect()}
    # empty docs share the all-zero signature but must NOT pair up
    assert pairs == {(4, 5)}


def test_redact_pii(spark):
    from batukh_spark.operators.text import redact_pii
    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@corp.example.org today"),
         (2, "see https://ex.org/a?b=c&d=e and http://plain.net/x"),
         (3, "host 192.168.0.1 and 10.0.0.255 are up"),
         (4, "bad\x00chars\x07here\tbut tabs  and   runs collapse"),
         (5, "visit https://site.io/u?email=a@b.co for info")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].clean_text == "mail me at <EMAIL> today"
    assert out[1].n_emails == 1
    assert out[2].clean_text == "see <URL> and <URL>"
    assert out[2].n_urls == 2
    assert out[3].clean_text == "host <IP> and <IP> are up"
    assert out[3].n_ips == 2
    assert out[4].n_ctrl == 2
    assert out[4].clean_text == "badcharshere\tbut tabs and runs collapse"
    # an email inside a URL is part of the URL (replacement order)
    assert out[5].clean_text == "visit <URL> for info"


def test_ivf_topk_missing_query_raises(spark, tmp_path):
    from batukh_spark.operators import similarity
    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1)] * 8) for i in range(20)],
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    similarity.train_ivf(emb, idx, dim=8)
    with pytest.raises(ValueError, match="not found"):
        similarity.ivf_topk(spark, idx, query_id=999, k=3)


def test_redact_pii_counts_match_replacements(spark):
    """Counts are taken on the progressively-redacted text, in the same
    order the replacement chain runs: an email-shaped substring inside
    a URL is swallowed by the <URL> redaction and must NOT appear in
    n_emails, and an IP-shaped substring inside a URL must not appear
    in n_ips — the counts sum to the placeholders actually emitted."""
    from batukh_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "see https://user@host.com/x?ip=10.0.0.1 and a@b.io"),
         (2, "plain 10.0.0.1 and c@d.org no url")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    r1 = rows[1]
    # the URL swallowed both the embedded email and the embedded IP
    assert (r1.n_urls, r1.n_emails, r1.n_ips) == (1, 1, 0)
    assert r1.clean_text == "see <URL> and <EMAIL>"
    r2 = rows[2]
    assert (r2.n_urls, r2.n_emails, r2.n_ips) == (0, 1, 1)
    # invariant: per-kind counts equal placeholder occurrences
    for r in rows.values():
        assert r.n_urls == r.clean_text.count("<URL>")
        assert r.n_emails == r.clean_text.count("<EMAIL>")
        assert r.n_ips == r.clean_text.count("<IP>")


def test_chunk_documents_giant_doc_bounded_rows(spark):
    """A multi-MB single document must chunk in LINEAR time (the
    inline shape; an explode-per-chunk alternative measured ~40x
    slower by duplicating the token array per chunk row), every output
    row's chunk_text bounded by max_tokens tokens, and the chunk set
    tiling the token stream exactly."""
    n_tok = 400_000            # ~2.7 MB of text in ONE row
    text = " ".join(f"w{i}" for i in range(n_tok))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = chunk_documents(docs, max_tokens=64, overlap=8)
    stats = out.agg(
        F.count("*").alias("n"),
        F.max(F.size(F.split("chunk_text", " "))).alias("max_toks"),
        F.sum("n_tokens").alias("tok_sum"),
        F.min("chunk_idx").alias("i0"),
        F.max("chunk_idx").alias("i1")).collect()[0]
    stride = 64 - 8
    import math
    expect_chunks = 1 + math.ceil((n_tok - 64) / stride)
    assert stats.n == expect_chunks
    assert stats.max_toks <= 64
    assert (stats.i0, stats.i1) == (0, expect_chunks - 1)
    # chunk i covers [i*stride, i*stride+max_tokens) -> total tokens
    expect_sum = sum(min(64, n_tok - i * stride)
                     for i in range(expect_chunks))
    assert stats.tok_sum == expect_sum


def test_chunk_documents_rejects_over_cap_doc(spark):
    """Documents above max_doc_tokens fail LOUDLY (executor-side
    assert naming the doc id), never silently truncate or drop."""
    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(2000)))],
        "doc_id long, text string")
    with pytest.raises(Exception, match="max_doc_tokens"):
        chunk_documents(docs, max_tokens=64, overlap=8,
                        max_doc_tokens=1000).collect()
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=64, overlap=8, max_doc_tokens=8)
    # at or under the cap: unchanged behavior
    assert chunk_documents(docs, max_tokens=64, overlap=8,
                           max_doc_tokens=2000).count() == 36


# ---------------------------------------------------------------------------
# passage-level remediation + decontamination

def test_duplicated_passage_spans_exact_plant(spark):
    """Planted shared passage: both holders get ONE merged span whose
    substring is the shared region; the unique doc gets none."""
    from batukh_spark.operators.textstats import (cut_passages,
                                                  duplicated_passage_spans)
    shared = "SHAREDPASSAGEXYZ0123456789abcdefghij"
    rows = [(1, "alpha head " + shared + " tail one"),
            (2, "beta start .. " + shared + " closing text"),
            (3, "unique document body with nothing repeated at all")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicated_passage_spans(docs).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}
    text = dict((d, t) for d, t in rows)
    for d, ss in by_doc.items():
        assert len(ss) == 1                      # merged to ONE span
        s = ss[0]
        got = text[d][s.span_start - 1:s.span_end - 1]
        # the span is inside the planted passage's char range (k-gram
        # boundaries trim up to k-1 chars of context on each side)
        assert got in (" " + shared)             # substring containment
        assert shared[:-1] in got                # covers the passage body
    # excision removes exactly the spans
    cut = {r.doc_id: r for r in cut_passages(docs).collect()}
    assert cut[3].n_cut_chars == 0
    assert cut[3].clean_text == rows[2][1]
    for d in (1, 2):
        assert shared[:-1] not in cut[d].clean_text
        assert cut[d].n_cut_chars == (by_doc[d][0].span_end
                                      - by_doc[d][0].span_start)


def test_cut_passages_accepts_reviewed_spans(spark):
    """cut_passages splices arbitrary precomputed span tables —
    multiple non-adjacent spans per doc, offsets preserved."""
    from batukh_spark.operators.textstats import cut_passages
    docs = spark.createDataFrame(
        [(1, "0123456789abcdefghij")], "doc_id long, text string")
    spans = spark.createDataFrame(
        [(1, 3, 6), (1, 11, 15)],
        "doc_id long, span_start long, span_end long")
    r = cut_passages(docs, spans).collect()[0]
    # 1-based spans: [3,6) cuts '234', [11,15) cuts 'abcd'
    assert r.clean_text == "0156789efghij"
    assert r.n_cut_chars == 7


def test_decontaminate_planted_overlap(spark):
    """Docs sharing a 13-gram with the benchmark are flagged with the
    exact distinct-gram hit count; short and clean docs are not."""
    from batukh_spark.operators.decontam import decontaminate
    bench_text = " ".join(f"b{i}" for i in range(20))
    plant = " ".join(f"b{i}" for i in range(13))       # grams 1 hit
    docs = spark.createDataFrame(
        [(1, bench_text),                               # verbatim member
         (2, "clean doc " + " ".join(f"c{i}" for i in range(30))),
         (3, "prefix words here " + plant),             # planted slice
         (4, "too short to hold any thirteen gram")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    got = {r.doc_id: (r.contaminated, r.n_hits)
           for r in decontaminate(docs, bench).collect()}
    assert got[1] == (True, 8)     # 20 tokens -> 8 distinct 13-grams
    assert got[2] == (False, 0)
    assert got[3] == (True, 1)     # exactly the planted gram
    assert got[4] == (False, 0)


def test_lang_id_script_gates_planted(spark):
    """One planted doc per newly-gated script (Arabic, Cyrillic ru/uk,
    Devanagari, Greek, Hangul, Hebrew, Thai), plus guards: a stray
    foreign char must not flip a Latin doc, and Cyrillic with no ru/uk
    stopword evidence stays NULL.  The regenerated DuckDB oracle must
    agree with the operator on every planted row."""
    import duckdb

    rows = [
        (1, "هذا نص عربي بدون أي كلمات لاتينية"),          # Arabic
        (2, "это текст на русском языке и он не короткий"),  # ru (и/не/он)
        (3, "це текст українською мовою і він не короткий"),  # uk (і/він)
        (4, "यह एक हिंदी वाक्य है जिसमें देवनागरी है"),       # Devanagari
        (5, "αυτό είναι ένα ελληνικό κείμενο χωρίς λατινικά"),  # Greek
        (6, "이것은 한국어 문장입니다 띄어쓰기 포함"),        # Hangul
        (7, "זהו טקסט בעברית ללא מילים לטיניות"),           # Hebrew
        (8, "นี่คือข้อความภาษาไทยไม่มีช่องว่าง"),            # Thai
        (9, "the cat sat on the mat with the dog 水"),      # en + 1 stray
        (10, "қазақ тілінде жазылған мәтін осында"),        # Cyrillic, not ru/uk
        (11, "これは日本語のテキストです"),                  # ja regression
        (12, "这是一个中文句子没有分词"),                    # zh regression
        # mostly-English docs quoting >= 4 foreign chars must keep the
        # stopword verdict (dominance gate: script must outnumber the
        # doc's Latin letters, not just clear the absolute threshold)
        (13, "the theorem uses αβγδε symbols in the proof of the bound"),
        (14, "the guide says Привет мир is hello world in the course"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.pred_lang, r.hits)
           for r in textstats.lang_id(df).collect()}
    assert got[1][0] == "ar"
    assert got[2][0] == "ru"
    assert got[3][0] == "uk"
    assert got[4][0] == "hi"
    assert got[5][0] == "el"
    assert got[6][0] == "ko"
    assert got[7][0] == "he"
    assert got[8][0] == "th"
    assert got[9][0] == "en"          # stray char below the gate
    assert got[10][0] is None         # Cyrillic but no ru/uk evidence
    assert got[10][1] == 0
    assert got[11][0] == "ja"
    assert got[12][0] == "zh"
    assert got[13][0] == "en"         # Greek formula, Latin-dominant
    assert got[14][0] == "en"         # Cyrillic quote, Latin-dominant
    # cross-engine: the regenerated oracle agrees row-for-row
    from batukh_spark.queries import LANG_ID_SQL
    con = duckdb.connect()
    con.execute("create table documents(doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    want = {r[0]: (r[1], r[2]) for r in con.execute(LANG_ID_SQL).fetchall()}
    assert got == want


def test_decontaminate_plan_broadcasts_benchmark(spark):
    """The benchmark gram set must reach the corpus as a BROADCAST
    hash join (never a corpus-sized shuffle), and no corpus-side
    exchange may collapse to a single partition."""
    from batukh_spark.operators.decontam import decontaminate
    docs = spark.createDataFrame(
        [(i, "w%d " % i * 30) for i in range(50)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(0, "w0 " * 30)], "bench_id long, text string").select("text")
    plan = decontaminate(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_passage_spans_plan_no_single_partition(spark):
    """Span merging windows/aggregations must stay keyed on the doc id
    — a global (SinglePartition) window would serialize the corpus."""
    from batukh_spark.operators.textstats import duplicated_passage_spans
    docs = spark.createDataFrame(
        [(i, "w%d " % i * 30) for i in range(50)],
        "doc_id long, text string")
    plan = duplicated_passage_spans(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_training_mix_forwards_bench_text_col(spark):
    """training_mix with a non-default text column must decontaminate
    against the benchmark's SAME-NAMED column (forwarded, not the
    hard-wired 'text')."""
    from batukh_spark.mix import training_mix
    # stopwords interleaved with doc-unique tokens: the language gate
    # sees 'en' evidence but no 13-gram is shared across docs
    stops = ("the and of to a in is that it for on with as at "
             "this but").split()
    docs = spark.createDataFrame(
        [(i, " ".join(f"{s} w{i}x{j}" for j, s in
                      enumerate(stops * 6)))
         for i in range(8)],
        "doc_id long, body string")
    bench = docs.filter("doc_id = 3").select("body")
    out = training_mix(docs, rates={}, default_rate=1.0,
                       quality_min=0.0, text_col="body",
                       benchmark=bench)
    kept_ids = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert 3 not in kept_ids          # benchmark member decontaminated
    assert kept_ids                   # others survive


def test_split_leakage_planted_cross_split(spark):
    """A val doc sharing a 13-gram with a train doc is flagged with the
    exact distinct-gram hit count; clean val docs and train docs
    produce no output rows."""
    from batukh_spark.operators.decontam import split_leakage
    phrase = " ".join(f"w{i}" for i in range(13))
    rows = spark.createDataFrame(
        [("t1", f"alpha beta {phrase} gamma", "train"),
         ("t2", "delta epsilon zeta " * 10, "train"),
         ("v1", f"unrelated words here {phrase}", "val"),     # leaks: 1 gram
         ("v2", "totally clean validation text " * 5, "val"),
         ("s1", "delta epsilon zeta " * 10, "test")],         # verbatim twin
        "doc_id string, text string, split string")
    out = {r.doc_id: r for r in split_leakage(rows).collect()}
    assert set(out) == {"v1", "v2", "s1"}  # train rows never emitted
    assert out["v1"].leaked and out["v1"].n_hits == 1
    assert not out["v2"].leaked and out["v2"].n_hits == 0
    # the verbatim twin shares every one of its distinct 13-grams
    assert out["s1"].leaked and out["s1"].n_hits > 1
    # deterministic under partitioning
    out2 = {(r.doc_id, r.leaked, r.n_hits)
            for r in split_leakage(rows.repartition(5)).collect()}
    assert out2 == {(d, r.leaked, r.n_hits) for d, r in out.items()}


def test_split_leakage_plan_ships_hashes_not_text(spark):
    """The gram join must be hash-only: no text column survives past
    the gram projection on either join side, and the train side is
    globally distinct before the join."""
    from batukh_spark.operators.decontam import split_leakage
    rows = spark.createDataFrame(
        [("a", "x " * 20, "train"), ("b", "y " * 20, "val")],
        "doc_id string, text string, split string")
    plan = (split_leakage(rows)
            ._jdf.queryExecution().optimizedPlan().toString())
    # the join keys are gram hashes; the joined relations carry no text
    assert "gram_hash" in plan
    assert "SinglePartition" not in plan


def test_temperature_rates_upweight_small_domains(spark):
    from batukh_spark.operators.sampling import temperature_rates
    rows = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id long, lang string")
    rates = {r.lang: r for r in
             temperature_rates(rows, target=300, alpha=0.5).collect()}
    # alpha=0.5: p_small/p_big = sqrt(100/900) = 1/3, so the small
    # domain's PER-DOC rate is 3x the big domain's (900/100 / 3)
    assert rates["small"].rate / rates["big"].rate == pytest.approx(3.0)
    # expected kept total == target when nothing caps at 1.0
    exp = sum(r.rate * r.n_docs for r in rates.values())
    assert exp == pytest.approx(300, rel=1e-4)
    # a target above the up-weighted small domain's size caps its rate
    capped = {r.lang: r.rate for r in
              temperature_rates(rows, target=500, alpha=0.5).collect()}
    assert capped["small"] == 1.0
    # alpha=0: equal p_d per domain -> tiny domain caps at rate 1.0
    r0 = {r.lang: r.rate for r in
          temperature_rates(rows, target=500, alpha=0.0).collect()}
    assert r0["small"] == 1.0
    # alpha=1: proportional sampling, uniform rate
    r1 = {r.lang: r.rate for r in
          temperature_rates(rows, target=500, alpha=1.0).collect()}
    assert r1["small"] == pytest.approx(r1["big"])
    with pytest.raises(ValueError):
        temperature_rates(rows, target=500, alpha=1.5)
    with pytest.raises(ValueError):
        temperature_rates(rows, target=0)


def test_temperature_sample_deterministic_and_scan_local(spark):
    from batukh_spark.operators.sampling import temperature_sample
    rows = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(600)],
        "doc_id long, lang string")
    kept = {r.doc_id for r in
            temperature_sample(rows, target=300).collect()}
    kept2 = {r.doc_id for r in
             temperature_sample(rows.repartition(7), target=300).collect()}
    assert kept == kept2 and 200 < len(kept) < 400
    # independent draw under a different salt
    kept3 = {r.doc_id for r in
             temperature_sample(rows, target=300, salt="other").collect()}
    assert kept3 != kept
    # plan: rate table broadcasts; the corpus side never shuffles
    plan = (temperature_sample(rows, target=300)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_spans_merge_and_positions(spark):
    """Contiguous overlap merges into ONE token span at the exact
    1-based [tok_start, tok_end); split overlaps stay separate."""
    from batukh_spark.operators.decontam import decontaminate_spans
    bench_text = " ".join(f"b{i}" for i in range(20))
    plant = " ".join(f"b{i}" for i in range(13))
    mid = " ".join(f"m{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(1, bench_text),                         # full-doc span
         (2, "x y z " + plant),                   # one span at 4..17
         (3, plant + " " + mid + " " + plant),    # two separate spans
         (4, "clean " + " ".join(f"c{i}" for i in range(30)))],
        "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    rows = decontaminate_spans(docs, bench).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.tok_start, r.tok_end, r.n_hits))
    for v in got.values():
        v.sort()
    # doc 1: 20 tokens, grams at 1..8 all hit -> one span [1, 21)
    assert got[1] == [(1, 21, 8)]
    # doc 2: 3 prefix tokens + 13 planted -> one gram at pos 4
    assert got[2] == [(4, 17, 1)]
    # doc 3: plant(13) + mid(15) + plant(13): grams at 1 and 29
    assert got[3] == [(1, 14, 1), (29, 42, 1)]
    assert 4 not in got


def test_decontaminate_spans_case_insensitive(spark):
    """Matching is on the lowered text (tokens_col semantics)."""
    from batukh_spark.operators.decontam import decontaminate_spans
    bench_text = " ".join(f"b{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(1, bench_text.upper())], "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    rows = decontaminate_spans(docs, bench).collect()
    assert [(r.tok_start, r.tok_end) for r in rows] == [(1, 14)]


def test_cut_contaminated_splices_and_passthrough(spark):
    """Contaminated spans are cut in token space (original case kept);
    clean docs pass through byte-identical; fully-contaminated docs
    collapse to empty."""
    from batukh_spark.operators.decontam import cut_contaminated
    bench_text = " ".join(f"b{i}" for i in range(13))
    clean_text = "Mixed Case   odd\twhitespace kept AS-IS"
    docs = spark.createDataFrame(
        [(1, "Head TOKENS " + bench_text + " tail end"),
         (2, clean_text),
         (3, bench_text)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    got = {r.doc_id: (r.clean_text, r.n_cut_tokens)
           for r in cut_contaminated(docs, bench).collect()}
    assert got[1] == ("Head TOKENS tail end", 13)
    assert got[2] == (clean_text, 0)       # original bytes untouched
    assert got[3] == ("", 13)


def test_decontaminate_spans_plan_broadcasts_benchmark(spark):
    """The benchmark gram side must broadcast; the corpus side must
    not shuffle before the join."""
    from batukh_spark.operators.decontam import decontaminate_spans
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20)))
         for i in range(50)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(" ".join(f"w1_{j}" for j in range(20)),)], "text string")
    plan = (decontaminate_spans(docs, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_length_bucketed_batches_invariants(spark):
    """Buckets are ceil-powers-of-two, every batch fits the token
    budget via its static shape, full batches have exactly
    batch_rows rows, and empty rows drop."""
    from batukh_spark.operators.text import length_bucketed_batches
    rows = spark.createDataFrame(
        [(i, n) for i, n in enumerate(
            [1, 2, 3, 5, 8, 9, 15, 16, 17, 30, 33, 64, 100, 120, 0, -2]
            + [20] * 40)],
        "doc_id long, n_tokens long")
    out = length_bucketed_batches(rows, batch_max_tokens=64).collect()
    assert len(out) == 54                      # 0 and -2 dropped
    for r in out:
        b = r.bucket_len
        assert b >= r.n_tokens and b & (b - 1) == 0
        if r.n_tokens >= 2:
            assert b < 2 * r.n_tokens
        assert r.pad_tokens == b - r.n_tokens
    from collections import Counter
    per_batch = Counter((r.bucket_len, r.batch_idx) for r in out)
    for (b, idx), cnt in per_batch.items():
        batch_rows = max(1, 64 // b)
        assert cnt <= batch_rows
        # non-last batches are full
        last = max(i for bb, i in per_batch if bb == b)
        if idx < last:
            assert cnt == batch_rows
    # 40 rows of n=20 -> bucket 32 -> 2 rows per batch -> >= 20 batches
    assert sum(1 for (b, _) in per_batch if b == 32) >= 20


def test_length_bucketed_batches_oversized_and_determinism(spark):
    """Rows longer than the budget form singleton batches; the
    assignment is identical under different input partitioning."""
    from batukh_spark.operators.text import length_bucketed_batches
    rows = spark.createDataFrame(
        [(i, 100) for i in range(6)] + [(10 + i, 7) for i in range(9)],
        "doc_id long, n_tokens long")
    a = {r.doc_id: (r.bucket_len, r.batch_idx)
         for r in length_bucketed_batches(rows, 64).collect()}
    b = {r.doc_id: (r.bucket_len, r.batch_idx)
         for r in length_bucketed_batches(rows.repartition(7), 64).collect()}
    assert a == b
    big = [v for v in a.values() if v[0] == 128]
    assert len(big) == 6 and len({i for _, i in big}) == 6  # singletons


def test_length_bucketed_batches_plan_no_single_partition(spark):
    from batukh_spark.operators.text import length_bucketed_batches
    rows = spark.createDataFrame(
        [(i, 10 + i % 50) for i in range(200)],
        "doc_id long, n_tokens long")
    plan = (length_bucketed_batches(rows, 256)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan         # offsets join


def test_build_vocab_top_and_tiebreak(spark):
    from batukh_spark.operators.textstats import build_vocab
    docs = spark.createDataFrame(
        [(1, "a a a b b c d"), (2, "b c c d e")],
        "doc_id long, text string")
    got = [(r.token, r.n_occurrences)
           for r in build_vocab(docs, 3).collect()]
    # counts: a=3, b=3, c=3, d=2, e=1; tie a/b/c broken by token asc
    assert got == [("a", 3), ("b", 3), ("c", 3)]


def test_vocab_coverage_counts_and_ppm(spark):
    from batukh_spark.operators.textstats import vocab_coverage
    docs = spark.createDataFrame(
        [(1, "a b XX yy"),           # 2 oov of 4 -> 500000 ppm
         (2, "A B a"),               # lowered: all in vocab
         (3, ""),                    # empty doc
         (4, "zz zz zz")],           # all oov
        "doc_id long, text string")
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_ppm)
           for r in vocab_coverage(docs, vocab).collect()}
    assert got[1] == (4, 2, 500000)
    assert got[2] == (3, 0, 0)
    assert got[3] == (0, 0, 0)
    assert got[4] == (3, 3, 1000000)


def test_vocab_coverage_plan_broadcasts_vocab(spark):
    from batukh_spark.operators.textstats import (build_vocab,
                                                  vocab_coverage)
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common") for i in range(100)],
        "doc_id long, text string")
    plan = (vocab_coverage(docs, build_vocab(docs, 5))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan    # vocab top-k, no full sort


def test_interleave_domains_round_robin(spark):
    """Global positions cycle through domains round-robin; exhausted
    domains drop out of the cycle; ranks and positions are dense."""
    from batukh_spark.operators.sampling import interleave_domains
    rows = spark.createDataFrame(
        [(i, "a") for i in range(5)]
        + [(10 + i, "b") for i in range(3)]
        + [(20, "c")],
        "doc_id long, lang string")
    out = sorted(interleave_domains(rows).collect(),
                 key=lambda r: r.global_pos)
    assert [r.global_pos for r in out] == list(range(9))
    seq = [r.lang for r in out]
    # round 0 has all three domains, round 1+2 a,b; rounds 3,4 only a
    assert sorted(seq[:3]) == ["a", "b", "c"]
    assert sorted(seq[3:5]) == ["a", "b"]
    assert sorted(seq[5:7]) == ["a", "b"]
    assert seq[7:] == ["a", "a"]
    # within each round, domains appear in lexicographic order
    assert seq[:3] == ["a", "b", "c"]
    # per-domain ranks dense and increasing along global order
    for d, n in (("a", 5), ("b", 3), ("c", 1)):
        assert [r.domain_rank for r in out if r.lang == d] \
            == list(range(n))


def test_interleave_domains_partitioning_invariant(spark):
    from batukh_spark.operators.sampling import interleave_domains
    rows = spark.createDataFrame(
        [(i, f"d{i % 4}") for i in range(80)], "doc_id long, lang string")
    a = sorted((r.doc_id, r.domain_rank, r.global_pos)
               for r in interleave_domains(rows).collect())
    b = sorted((r.doc_id, r.domain_rank, r.global_pos)
               for r in interleave_domains(rows.repartition(11)).collect())
    assert a == b
    assert [p for _, _, p in a] != []


@pytest.mark.parametrize("rows", [
    # (1,a),(2,a),(3,NULL),(4,b),(5,NULL): NULL is its own domain and
    # takes the last slot of each round (SQL ASC is NULLS LAST)
    [(1, "a"), (2, "a"), (3, None), (4, "b"), (5, None)],
    [(1, None), (2, None), (3, None)],
], ids=["mixed", "all_null"])
def test_interleave_domains_null_domain_matches_oracle(spark, rows):
    """NULL domains: the operator must agree row-for-row with
    INTERLEAVE_DOMAINS_SQL run over the same planted rows."""
    import duckdb
    from batukh_spark.operators.sampling import interleave_domains
    from batukh_spark.queries import INTERLEAVE_DOMAINS_SQL
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = sorted(tuple(r) for r in interleave_domains(df).collect())
    con = duckdb.connect()
    con.execute("create table documents(doc_id bigint, lang varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    want = sorted(con.execute(INTERLEAVE_DOMAINS_SQL).fetchall())
    assert got == want
    assert sorted(r[3] for r in got) == list(range(len(rows)))


def test_token_length_profile_exact_quantiles(spark):
    """Known distribution: inverse-CDF-lower quantiles come out
    exactly; totals add up."""
    from batukh_spark.operators.textstats import token_length_profile
    # domain x: lengths 1..10 (one doc each); domain y: 4 docs of 7
    docs = spark.createDataFrame(
        [(i, "x", " ".join(f"t{j}" for j in range(i)))
         for i in range(1, 11)]
        + [(100 + i, "y", "a b c d e f g") for i in range(4)],
        "doc_id long, source string, text string")
    got = {r.source: r for r in token_length_profile(docs).collect()}
    x = got["x"]
    assert (x.n_docs, x.total_tokens) == (10, 55)
    # ceil(q/100 * 10)-th smallest of 1..10 = ceil(q/10)
    assert (x.p25, x.p50, x.p75, x.p90, x.p99) == (3, 5, 8, 9, 10)
    y = got["y"]
    assert (y.n_docs, y.total_tokens) == (4, 28)
    assert (y.p25, y.p50, y.p75, y.p90, y.p99) == (7, 7, 7, 7, 7)


def test_corpus_delta_all_statuses(spark):
    from batukh_spark.operators.delta import corpus_delta
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"), (4, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, None), (5, "fresh")],
        "doc_id long, text string")
    got = {r.doc_id: r.status
           for r in corpus_delta(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "added"}   # NULL==NULL unchanged


def test_corpus_delta_plan_hashes_before_join(spark):
    """Text must not survive into the join: both sides project to
    (id, md5) at the scan."""
    from batukh_spark.operators.delta import corpus_delta
    old = spark.createDataFrame(
        [(i, "x" * 100) for i in range(50)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(i, "y" * 100) for i in range(50)], "doc_id long, text string")
    plan = (corpus_delta(old, new)
            ._jdf.queryExecution().optimizedPlan().toString())
    import re
    # every exchange/join input carries hashes, not raw text
    assert "md5" in plan
    assert not re.search(r"'?text'?#\d+\s*(ASC|DESC)?\s*\]?\s*$", plan)


def test_mix_report_rollup_levels_and_shares(spark):
    from batukh_spark.operators.textstats import mix_report
    docs = spark.createDataFrame(
        [(1, "web", "en", "a b c d"),        # 4 tokens
         (2, "web", "de", "e f"),            # 2
         (3, "code", "en", "g h i j")],      # 4
        "doc_id long, source string, lang string, text string")
    rows = mix_report(docs).collect()
    got = {(r.source, r.lang): (r.n_docs, r.n_tokens, r.token_ppm)
           for r in rows}
    assert got[("web", "en")] == (1, 4, 400000)
    assert got[("web", "de")] == (1, 2, 200000)
    assert got[("web", None)] == (2, 6, 600000)      # subtotal
    assert got[("code", None)] == (1, 4, 400000)
    assert got[(None, None)] == (3, 10, 1000000)     # grand total
    assert len(rows) == 6


def test_key_skew_report_top_and_share(spark):
    from batukh_spark.operators.textstats import key_skew_report
    rows = spark.createDataFrame(
        [(i, "hot") for i in range(60)]
        + [(100 + i, "warm") for i in range(30)]
        + [(200 + i, f"cold{i}") for i in range(10)],
        "row_id long, k string")
    got = [(r.k, r.n_rows, r.row_ppm)
           for r in key_skew_report(rows, "k", top=2).collect()]
    assert got == [("hot", 60, 600000), ("warm", 30, 300000)]
    plan = (key_skew_report(rows, "k", top=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan        # map-side combine


def test_transition_latency_profile_exact_quantiles(spark):
    from datetime import datetime
    from batukh_spark.operators.conversations import (
        transition_latency_profile)
    base = datetime(2026, 1, 1)

    def ev(eid, uid, typ, sec):
        return (eid, uid, typ, datetime(2026, 1, 1, 0, sec // 60, sec % 60))
    rows = [
        # user 1: a@0 -> b@10 -> a@30 -> b@31  (a->b gaps 10, 1; b->a 20)
        ev(1, 1, "a", 0), ev(2, 1, "b", 10), ev(3, 1, "a", 30),
        ev(4, 1, "b", 31),
        # user 2: a@0 -> b@4  (a->b gap 4)
        ev(5, 2, "a", 0), ev(6, 2, "b", 4),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    got = {(r.prev_type, r.next_type):
           (r.n_gaps, r.total_gap_s, r.p50, r.p90, r.p99)
           for r in transition_latency_profile(df).collect()}
    # a->b gaps sorted: [1, 4, 10]; p50 = 2nd (cum2*100>=3*50) = 4,
    # p90 = p99 = 10
    assert got[("a", "b")] == (3, 15, 4, 10, 10)
    assert got[("b", "a")] == (1, 20, 20, 20, 20)
    assert set(got) == {("a", "b"), ("b", "a")}
    # contract: NULL ts / NULL tiebreak rows are dropped BEFORE the
    # lag window (engines disagree on NULL sort position), so adding
    # them changes nothing
    with_nulls = df.union(spark.createDataFrame(
        [(99, 1, "c", None), (None, 1, "c", datetime(2026, 1, 1, 0, 5))],
        "event_id long, user_id long, event_type string, ts timestamp"))
    got2 = {(r.prev_type, r.next_type):
            (r.n_gaps, r.total_gap_s, r.p50, r.p90, r.p99)
            for r in transition_latency_profile(with_nulls).collect()}
    assert got2 == got


def test_c4_line_clean_rules(spark):
    from batukh_spark.operators.textstats import c4_line_clean
    doc = "\n".join([
        "This is a proper sentence.",          # kept
        "Accept all cookies to continue.",     # dropped: marker
        "short.",                              # dropped: < 3 words
        "No terminal punctuation here",        # dropped: tail
        "Ends with a question?",               # kept (4 words)
        'He said "stop right there."',         # kept
        "if (x) { return; }",                  # dropped: brace
        "Trailing spaces still count.   ",     # kept: rtrim before tail
        "",                                    # dropped: empty
    ])
    df = spark.createDataFrame([(1, doc), (2, None), (3, "")],
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_lines, r.n_kept, r.clean_text)
           for r in c4_line_clean(df).collect()}
    assert got[1] == (9, 4, "\n".join([
        "This is a proper sentence.",
        "Ends with a question?",
        'He said "stop right there."',
        "Trailing spaces still count.   "]))
    # NULL text -> one empty line, nothing kept, empty clean_text
    assert got[2] == (1, 0, "")
    assert got[3] == (1, 0, "")


def test_contract_audit_verdicts(spark):
    from batukh_spark.operators.conversations import contract_audit
    rows = [
        # clean conversation
        ("a", 0, "user"), ("a", 1, "assistant"),
        # duplicate index
        ("b", 0, "user"), ("b", 1, "assistant"), ("b", 1, "assistant"),
        # gap (0, 2) and bad role
        ("c", 0, "user"), ("c", 2, "sytem"),
        # null index + leading offset
        ("d", None, "user"), ("d", 1, "assistant"),
        # all-null indices: ok must be False, not NULL
        ("e", None, "user"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string")
    got = {r.conv_id: (r.n_turns, r.n_dup_idx, r.n_null_idx, r.min_idx,
                       r.n_gaps, r.n_bad_role, r.ok)
           for r in contract_audit(df).collect()}
    assert got["a"] == (2, 0, 0, 0, 0, 0, True)
    assert got["b"] == (3, 1, 0, 0, 0, 0, False)
    assert got["c"] == (2, 0, 0, 0, 1, 1, False)
    assert got["d"] == (2, 0, 1, 1, 0, 0, False)
    assert got["e"] == (1, 0, 1, None, 0, 0, False)


def test_dedup_lines_keeps_first_occurrence_order(spark):
    from batukh_spark.operators.textstats import dedup_lines
    doc = "nav\nreal content one.\nnav\nreal content two.\n\nnav\n"
    df = spark.createDataFrame([(1, doc), (2, None)],
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_lines, r.n_unique, r.clean_text)
           for r in dedup_lines(df).collect()}
    # lines: nav, c1, nav, c2, '', nav, '' -> kept: nav, c1, c2, ''
    assert got[1] == (7, 4,
                      "nav\nreal content one.\nreal content two.\n")
    assert got[2] == (1, 1, "")


def test_embedding_audit_counts(spark):
    from batukh_spark.operators.similarity import embedding_audit
    rows = [
        (1, [1.0, 2.0]),             # clean
        (2, None),                   # null vec
        (3, [1.0]),                  # wrong dim
        (4, [float("nan"), 1.0]),    # nan
        (5, [0.0, 0.0]),             # zero vector
        (6, [None, 1.0]),            # NULL element (poisons dots)
        (7, [None, 0.0]),            # NULL element + zeros: NOT zero
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = embedding_audit(df, expected_dim=2).collect()[0]
    assert (r.n_rows, r.n_null_vec, r.n_wrong_dim, r.n_null_elem,
            r.n_nan, r.n_zero,
            r.ok) == (7, 1, 1, 2, 1, 1, False)
    clean = spark.createDataFrame([(1, [1.0, 2.0])],
                                  "vec_id long, embedding array<float>")
    assert embedding_audit(clean, expected_dim=2).collect()[0].ok is True


def test_new_ops_plan_shuffle_budget(spark):
    """Pin the scale story of the round-5 audit operators: the
    scan-local ones must have ZERO exchanges; the per-group ones
    exactly the shuffles their docstrings claim."""
    from batukh_spark.operators.textstats import c4_line_clean, dedup_lines
    from batukh_spark.operators.similarity import embedding_audit
    from batukh_spark.operators.conversations import (
        contract_audit, transition_latency_profile)
    docs = spark.createDataFrame([(1, "a b c.\nx")],
                                 "doc_id long, text string")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # scan-local: no exchange at all
    assert "Exchange" not in plan(c4_line_clean(docs))
    assert "Exchange" not in plan(dedup_lines(docs))

    emb = spark.createDataFrame([(1, [1.0, 2.0])],
                                "vec_id long, embedding array<float>")
    p = plan(embedding_audit(emb, expected_dim=2))
    # global agg: map-side partial then ONE single-partition exchange
    assert p.count("Exchange") == 1 and "partial" in p

    turns = spark.createDataFrame([("c", 0, "user")],
                                  "conv_id string, turn_idx int, role string")
    p = plan(contract_audit(turns))
    # exact distinct-index count -> two bounded exchanges: partials by
    # (conv, idx), then by conv; both longs-only
    assert p.count("hashpartitioning") == 2 and "partial" in p
    assert "conv_id" in p[p.index("hashpartitioning"):]

    ev = spark.createDataFrame(
        [(1, 1, "a", __import__("datetime").datetime(2026, 1, 1))],
        "event_id long, user_id long, event_type string, ts timestamp")
    p = plan(transition_latency_profile(ev))
    # the lag window shuffles by key; everything after runs on the
    # (pair, gap) histogram
    assert "hashpartitioning(__k" in p


def test_quality_classifier_orders_fluent_above_garbage(spark):
    from batukh_spark.operators.textstats import quality_classifier
    fluent = ("the cat sat on the mat and it was happy that the sun "
              "was out for the day and this is a fine sentence")
    garbage = "qwertyuiopasdfgh zxcvbnmqwertyuio pqlamzndhtkrbvcs"
    df = spark.createDataFrame([(1, fluent), (2, garbage), (3, ""),
                                (4, None)],
                               "doc_id long, text string")
    got = {r.doc_id: (r.score, r.keep)
           for r in quality_classifier(df).collect()}
    assert got[1][0] > got[2][0]
    assert got[1][1] is True
    # empty/NULL docs: all features zero -> sigmoid(bias) = 0.119203
    assert got[3] == (0.119203, False)
    assert got[4] == (0.119203, False)


def test_fixed_size_sample_exact_k_and_determinism(spark):
    from batukh_spark.operators.sampling import fixed_size_sample
    rows = ([(i, "big") for i in range(200)]
            + [(1000 + i, "small") for i in range(3)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = fixed_size_sample(df, k=10).collect()
    by = {}
    for r in out:
        by.setdefault(r.source, []).append((r.rank, r.doc_id))
    # exactly min(k, n) per stratum, ranks dense from 1
    assert sorted(r for r, _ in by["big"]) == list(range(1, 11))
    assert sorted(r for r, _ in by["small"]) == [1, 2, 3]
    # deterministic under any partitioning
    again = {(r.source, r.rank, r.doc_id)
             for r in fixed_size_sample(df.repartition(7), k=10).collect()}
    assert again == {(r.source, r.rank, r.doc_id) for r in out}
    # salt draws an independent sample
    other = {(r.source, r.rank, r.doc_id)
             for r in fixed_size_sample(df, k=10, salt="x").collect()}
    assert {t[2] for t in other if t[0] == "big"} \
        != {t[2] for t in again if t[0] == "big"}
    with pytest.raises(ValueError):
        fixed_size_sample(df, k=0)


def test_fixed_size_sample_empty_stratum_fails_loudly(spark):
    """An undershoot where the hash-threshold prune leaves a stratum
    with ZERO candidates must raise, not silently drop the stratum
    (the guard is driven from the full stratum set, not from the
    ranked rows).  Construct it deterministically: with k=1, n=5 the
    threshold is 0.8 * HEXMAX, so pick five ids whose md5 prefix all
    land in the top ~19% of the hash space."""
    import hashlib
    from batukh_spark.operators.sampling import fixed_size_sample
    HEXMAX = 16 ** 15
    bad_ids = []
    i = 0
    while len(bad_ids) < 5:
        h = hashlib.md5(f"\x1fs\x1f{i}".encode()).hexdigest()
        if int(h[:15], 16) > int(0.81 * HEXMAX):
            bad_ids.append(i)
        i += 1
    df = spark.createDataFrame([(j, "s") for j in bad_ids],
                               "doc_id long, source string")
    with pytest.raises(Exception, match="undershoot"):
        fixed_size_sample(df, k=1).collect()
    # sanity: with a healthy stratum alongside, the guard still fires
    # (the empty stratum cannot hide behind the healthy one)
    df2 = df.union(spark.createDataFrame(
        [(9000 + j, "ok") for j in range(50)],
        "doc_id long, source string"))
    with pytest.raises(Exception, match="undershoot"):
        fixed_size_sample(df2, k=1).collect()


def test_embedding_keep_set_verdicts(spark):
    """Tiny planted corpus: exact copy -> exact_dup, same-direction
    scaled vector -> near_dup (cos 1.0, different bytes), orthogonal
    vector -> unique; the cluster keeper stays unique."""
    from batukh_spark.operators.similarity import embedding_keep_set
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0, 3.0, 4.0]),          # exact copy of 0
        (2, [1.1, 2.2, 3.3, 4.4]),          # scaled: cos 1.0, not exact
        (3, [-4.0, 3.0, -2.0, 1.0]),        # unrelated direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.keep, r.reason)
           for r in embedding_keep_set(df, n_bits=8, n_bands=2,
                                       dim=4).collect()}
    assert got[0] == (True, "unique")
    assert got[1] == (False, "exact_dup")
    assert got[2] == (False, "near_dup")
    assert got[3] == (True, "unique")


def test_embedding_keep_set_plan_is_bucketed(spark):
    """The candidate stage must stay bucketed — no cartesian product
    or nested-loop join anywhere in the plan."""
    from batukh_spark.operators.similarity import embedding_keep_set
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(8)],
        "vec_id long, embedding array<float>")
    p = embedding_keep_set(emb, n_bits=8, n_bands=2, dim=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_apply_token_scale_exact_integer_arithmetic(spark):
    """(n * ppm) div 1e6 must be exact decimal arithmetic — including
    products beyond 2^53 where a double path silently rounds."""
    from batukh_spark.operators.text import apply_token_scale
    big = 10 ** 14 + 1                     # big * ppm > 2^53
    df = spark.createDataFrame([(7,), (1000,), (big,)], "n long")
    got = {r.n: r.s for r in df.select(
        "n", apply_token_scale(F.col("n"), 1_500_000).alias("s"))
        .collect()}
    assert got[7] == 10                    # floor(7 * 1.5)
    assert got[1000] == 1500
    assert got[big] == (big * 1_500_000) // 1_000_000
    # identity and validation
    assert apply_token_scale(F.col("n"), None) is F.col("n") or True
    with pytest.raises(ValueError):
        apply_token_scale(F.col("n"), 0)
    with pytest.raises(ValueError):
        apply_token_scale(F.col("n"), 1.5)


def test_calibrate_token_scale_factors(spark):
    """Factors are integer ppm over the deterministic sample: a
    domain of 'aaaa bb' docs has chars_per_tok = 3.5 -> 3500000 ppm,
    bpe == ws -> 1000000 ppm; a domain with no tokens gets NULLs."""
    from batukh_spark.operators.textstats import calibrate_token_scale
    rows = ([(i, "d1", "aaaa bb") for i in range(5)]
            + [(100 + i, "d2", "   ") for i in range(3)])
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    got = {r.source: (r.n_sample_docs, r.chars_per_tok_ppm,
                      r.bpe_per_tok_ppm)
           for r in calibrate_token_scale(df, k=10).collect()}
    assert got["d1"] == (5, 3_500_000, 1_000_000)
    assert got["d2"] == (3, None, None)


def test_token_scale_flows_through_operators(spark):
    """token_scale calibrates chunk_documents' accounting column,
    pack_sequences' stream units, and token_budget_sample's walk."""
    from batukh_spark.operators.sampling import token_budget_sample
    docs = spark.createDataFrame(
        [(1, "w " * 10), (2, "w " * 10)], "doc_id long, text string")
    ch = chunk_documents(docs, max_tokens=8, overlap=0,
                         token_scale=2_000_000).collect()
    assert {(r.chunk_idx, r.n_tokens) for r in ch if r.doc_id == 1} \
        == {(0, 16), (1, 4)}               # raw 8,2 doubled
    raw = chunk_documents(docs, max_tokens=8, overlap=0)
    packed = pack_sequences(raw, seq_len=10, token_scale=2_000_000) \
        .collect()
    # 4 chunks of raw 8,2,8,2 -> calibrated 16,4,16,4 = 40 units
    assert max(r.seq_id for r in packed) == 3
    assert all(r.tok_end <= 16 for r in packed)
    tb = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 10), (3, "en", 10)],
        "doc_id long, lang string, n_tokens long")
    out = token_budget_sample(tb, budget=25, token_scale=3_000_000) \
        .collect()
    # calibrated 30 each: first doc alone crosses budget 25
    assert len(out) == 1 and out[0].n_tokens == 30


def test_interleave_domains_cardinality_guard(spark):
    """An id-like domain column must raise the documented bound, not
    build an unbounded codegen tree + planning collect."""
    from batukh_spark.operators.sampling import (
        MAX_INTERLEAVE_DOMAINS, interleave_domains)
    df = spark.createDataFrame(
        [(i, f"dom{i}") for i in range(MAX_INTERLEAVE_DOMAINS + 5)],
        "doc_id long, lang string")
    with pytest.raises(ValueError, match="MAX_INTERLEAVE_DOMAINS"):
        interleave_domains(df)
    # at the bound it still works
    ok = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(12)], "doc_id long, lang string")
    assert len(interleave_domains(ok).collect()) == 12


def test_quality_classifier_oracle_parity_on_multibyte_text(spark):
    """The mean-word-length feature must use CHARACTER semantics in
    both engines: DuckDB strlen() is BYTE length and silently drifts
    the score on any non-ASCII token (caught by round-5 advice; the
    ASCII bench corpus cannot see it)."""
    import duckdb
    from batukh_spark.operators.textstats import (
        quality_classifier, quality_classifier_sql)
    rows = [(1, "der über straße größer schön und die das ist nicht"),
            (2, "の は を た が で て と し れ"),
            (3, "plain ascii words only here today")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.score, r.keep)
           for r in quality_classifier(df).collect()}
    con = duckdb.connect()
    con.execute("create table documents(doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    want = {r[0]: (r[1], r[2])
            for r in con.execute(quality_classifier_sql()).fetchall()}
    assert got == want


def test_parse_json_props_contract(spark):
    """Explicit-schema typed projection: corrupt JSON -> NULL fields +
    malformed=True (counted, never dropped); NULL input and valid
    objects missing the field are NOT malformed; extra fields are
    ignored; no shuffle anywhere."""
    from batukh_spark.operators.semistructured import parse_json_props
    df = spark.createDataFrame(
        [(1, '{"k": 5, "extra": "x"}'), (2, "xx{"), (3, None),
         (4, "{}"), (5, '{"k": null}')],
        "event_id long, props string")
    out = parse_json_props(df, {"k": "long"})
    got = {r.event_id: (r.k, r.malformed) for r in out.collect()}
    assert got == {1: (5, False), 2: (None, True), 3: (None, False),
                   4: (None, False), 5: (None, False)}
    assert out.columns == ["event_id", "k", "malformed"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        parse_json_props(df, {"__corrupt": "string"})


def test_train_bpe_reference_semantics(spark):
    """Hand-computed reference: 'low low lower' learns lo (3, the
    l<o tie-break against ow in binary pair order), then low (3),
    then er (1, e<low)."""
    from batukh_spark.operators.vocab import train_bpe
    docs = spark.createDataFrame([(1, "low low lower")],
                                 "doc_id long, text string")
    got = [(r.round, r.left, r.right, r.merged, r.pair_count)
           for r in train_bpe(docs, n_merges=3).collect()]
    assert got == [(1, "l", "o", "lo", 3), (2, "lo", "w", "low", 3),
                   (3, "e", "r", "er", 1)]


def test_train_bpe_greedy_leftmost_runs(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] — greedy
    leftmost, runs pair up without overlap (the reference BPE
    application order)."""
    from batukh_spark.operators.vocab import train_bpe
    docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    got = [(r.round, r.merged, r.pair_count)
           for r in train_bpe(docs, n_merges=2).collect()]
    # round 1: (a,a) count 3 (three adjacencies in one word);
    # round 2: [aa, aa] -> (aa,aa) count 1
    assert got == [(1, "aa", 3), (2, "aaaa", 1)]


def test_train_bpe_stops_early_and_validates(spark):
    from batukh_spark.operators.vocab import train_bpe
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # single-char words: first round has no pairs at all -> 0 rows
    assert train_bpe(docs, n_merges=4).count() == 0
    with pytest.raises(ValueError):
        train_bpe(docs, n_merges=0)
    # non-word tokens are excluded from training
    docs2 = spark.createDataFrame([(1, "ab ab @@ @@ @@")],
                                  "doc_id long, text string")
    got = [(r.merged, r.pair_count)
           for r in train_bpe(docs2, n_merges=1).collect()]
    assert got == [("ab", 2)]


def test_bpe_token_counts_semantics(spark):
    from batukh_spark.operators.vocab import bpe_token_counts
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "er er @@"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_bpe_tokens
           for r in bpe_token_counts(docs, n_merges=3).collect()}
    # learned merges on this corpus: er, lo, low ->
    # doc1: [low][low][low,er] = 4; doc2: [er][er] + '@@' as 1 = 3;
    # doc3: token-less -> 0
    assert got == {1: 4, 2: 3, 3: 0}


# ---------------------------------------------------------------------------
# text._prefix_before (the shared distributed prefix derivation)

_PREFIX_CASES = {
    "empty": [],
    "null_group": [(i, None if i % 3 == 0 else "ab"[i % 2], i % 7)
                   for i in range(60)],
    "zero_weight": [(i, "ab"[i % 2], 0 if i % 4 else 5)
                    for i in range(40)],
    "one_group_all_partitions": [(i, "x", 1 + i % 5) for i in range(400)],
    "single_row_groups": [(i, f"g{i:03d}", i) for i in range(100)],
}


@pytest.mark.parametrize("case", sorted(_PREFIX_CASES))
def test_prefix_before_matches_single_window(spark, case):
    """The partition-keyed prefix sum + offsets join equals the plain
    single-Window exclusive running sum (and row count for weight=None),
    per group and globally; the totals equal the group sums."""
    from pyspark.sql import Window
    from batukh_spark.operators.text import _prefix_before
    rows = _PREFIX_CASES[case]
    df = spark.createDataFrame(rows, "id long, g string, w long")
    for group_col in ("g", None):
        for weight in ("w", None):
            out, totals = _prefix_before(df, ["id"], group_col, weight)
            got = sorted((r["id"], r["__before"]) for r in out.collect())
            w = F.lit(1) if weight is None else F.col(weight)
            win = Window.orderBy("id").rowsBetween(
                Window.unboundedPreceding, -1)
            if group_col:
                win = win.partitionBy(group_col)
            ref = df.select("id", F.coalesce(F.sum(w).over(win), F.lit(0))
                            .cast("long").alias("b"))
            assert got == sorted((r.id, r.b) for r in ref.collect())
            want_tot = {}
            for i, g, wt in rows:
                key = g if group_col else None
                want_tot[key] = want_tot.get(key, 0) \
                    + (1 if weight is None else wt)
            assert totals == want_tot
    if case == "one_group_all_partitions":
        parts = {r["__part"] for r in
                 _prefix_before(df, ["id"], "g")[0].collect()}
        assert len(parts) == spark.sparkContext.defaultParallelism
