"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting (winnowing).

All Catalyst expressions; the DuckDB oracle reproduces every value.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from batukh_spark.operators.text import char_grams_md5, tokens_col
from batukh_spark.session import materialize

# per-language stopword profiles for the stopword-hit heuristic —
# 12 languages x 16 high-frequency function words; deterministic
# literals so the SQL oracle reproduces every hit count.  (zh/ja are
# ALSO covered by the char-script gate in lang_id, which handles
# unsegmented text; the token profiles remain for pre-segmented input.)
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that",
           "it", "for", "on", "with", "as", "at", "this", "but"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu",
           "mit", "von", "für", "auf", "dem", "den", "sie", "ich"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es",
           "los", "se", "no", "por", "con", "para", "una", "del"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une",
           "dans", "que", "pour", "qui", "sur", "pas", "au", "ce"],
    "it": ["il", "di", "che", "e", "un", "per", "con", "non",
           "una", "sono", "del", "si", "più", "nel", "alla", "come"],
    "pt": ["o", "de", "que", "e", "do", "da", "em", "um",
           "para", "com", "não", "uma", "os", "no", "se", "mais"],
    "nl": ["de", "het", "een", "en", "van", "in", "is", "dat",
           "op", "te", "met", "voor", "niet", "zijn", "aan", "er"],
    "sv": ["och", "det", "att", "i", "en", "som", "är", "av",
           "på", "för", "med", "den", "till", "inte", "om", "han"],
    "pl": ["i", "w", "nie", "na", "się", "z", "do", "że",
           "to", "jest", "jak", "po", "co", "tak", "za", "od"],
    "ru": ["и", "в", "не", "на", "что", "я", "с", "он",
           "как", "это", "по", "но", "его", "к", "у", "же"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我",
           "他", "这", "个", "们", "中", "来", "上", "大"],
    "ja": ["の", "に", "は", "を", "た", "が", "で", "て",
           "と", "し", "れ", "さ", "ある", "いる", "も", "する"],
    "uk": ["і", "в", "не", "на", "що", "я", "з", "він",
           "як", "це", "до", "але", "його", "та", "у", "же"],
}

STOPWORDS_EN = LANG_PROFILES["en"][:8]

# Pre-tokenizer word/number/symbol segmentation (shared with the SQL
# oracle).  This is NOT a trained BPE: no tokenizer library ships in
# this sandbox, so `n_bpe_tokens` counts GPT-style pre-tokenization
# pieces (letter runs / digit runs / single symbols) — an upper-bound
# proxy that correlates with real BPE counts; swap in a real tokenizer
# via mapInPandas when one is available.
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_counts(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_ws_tokens, n_bpe_tokens, n_chars).  n_bpe_tokens is the
    pre-tokenization proxy documented at BPE_REGEX, not a trained BPE."""
    return docs.select(
        F.col(id_col),
        F.size(tokens_col(text_col)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0))
        .alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars"))


def _dup_frac(parts) -> "F.Column":
    """(n - n_distinct) / n over a trimmed, non-empty string array."""
    cleaned = F.filter(F.transform(parts, lambda s: F.trim(s)),
                       lambda s: s != "")
    n = F.size(cleaned)
    return F.when(n > 0,
                  (n - F.size(F.array_distinct(cleaned))) / n) \
        .otherwise(0.0)


def _top_run(sorted_arr) -> "F.Column":
    """Longest run of equal adjacent elements in a SORTED array == the
    max element frequency — O(n log n) sort + one O(n) fold, scan-local
    (the quadratic distinct x filter form would blow up on long docs).
    """
    stepped = F.aggregate(
        sorted_arr,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(acc["best"],
                       F.when(x == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1))).alias("best")))
    return stepped["best"]


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  passthrough: tuple = ()) -> DataFrame:
    """C4/Gopher-shaped quality gate: length saturation, stopword-ratio
    and mean-word-length bands, plus the Gopher REPETITION rules —
    duplicate-line fraction, duplicate-paragraph fraction, and the
    share of the most frequent word 2-gram.

    score = 0.3*saturation(n_words/100) + 0.15*stopword-band
          + 0.15*word-length-band + 0.2*(dup_line_frac <= 0.30)
          + 0.2*(top_bigram_frac <= 0.20), rounded to 4.  Everything is
    a scan-local Catalyst expression (the top-bigram count folds over a
    sorted array instead of shuffling token frequencies)."""
    # staged projections: (1) materialize the token array ONCE (the
    # bigram lambda's element_at references would otherwise inline the
    # split tree and re-tokenize the doc PER ELEMENT — interpreted
    # HOFs re-evaluate free subexpressions per element, O(n^2)); (2)
    # materialize every expensive fold ONCE as a base column (a single
    # select referencing them from both the outputs and the score
    # bands duplicates each fold's tree per reference); (3) compute
    # the score from plain columns.  Measured ~10x end-to-end on the
    # training_mix gate stage.
    # passthrough: extra input columns carried through the staged
    # selects so a caller can enrich a frame IN PLACE — consecutive
    # narrow projections fuse into one codegen stage, where the
    # (id, metrics) form forces a join back to re-attach the metrics
    # (mix.training_mix measured one fewer corpus traversal per
    # enrichment stage this way)
    pt = [F.col(p) for p in passthrough]
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    pre = docs.select(F.col(id_col), *pt, c.alias("__text"),
                      tokens_col(text_col).alias("__toks"))
    toks = F.col("__toks")
    n_words = F.size(toks)
    sw = F.array([F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_len = F.when(n_words > 0,
                      F.aggregate(toks, F.lit(0),
                                  lambda a, t: a + F.length(t))
                      / n_words).otherwise(0.0)
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(0.0)
    dup_line = _dup_frac(F.split(F.col("__text"), "\n"))
    dup_para = _dup_frac(F.split(F.col("__text"), "\n\n"))
    bigrams = F.when(
        n_words >= 2,
        F.transform(F.sequence(F.lit(1), n_words - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i.cast("int")),
                        F.element_at(toks, (i + 1).cast("int"))))) \
        .otherwise(F.array().cast("array<string>"))
    n_bigrams = F.size(bigrams)
    top_bigram = F.when(n_bigrams > 0,
                        _top_run(F.array_sort(bigrams)) / n_bigrams) \
        .otherwise(0.0)
    base = pre.select(
        F.col(id_col), *pt,
        n_words.alias("n_words"),
        mean_len.alias("__mean_len"),
        stop_ratio.alias("__stop_ratio"),
        dup_line.alias("__dup_line"),
        dup_para.alias("__dup_para"),
        top_bigram.alias("__top_bigram"))
    score = (
        F.lit(0.3) * F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.15) * F.when((F.col("__stop_ratio") >= 0.01)
                               & (F.col("__stop_ratio") <= 0.6),
                               1.0).otherwise(0.0)
        + F.lit(0.15) * F.when((F.col("__mean_len") >= 3.0)
                               & (F.col("__mean_len") <= 12.0),
                               1.0).otherwise(0.0)
        + F.lit(0.2) * F.when(F.col("__dup_line") <= 0.30, 1.0)
        .otherwise(0.0)
        + F.lit(0.2) * F.when(F.col("__top_bigram") <= 0.20, 1.0)
        .otherwise(0.0))
    return base.select(
        F.col(id_col), *pt,
        F.col("n_words"),
        F.round("__mean_len", 4).alias("mean_word_len"),
        F.round("__stop_ratio", 4).alias("stopword_ratio"),
        F.round("__dup_line", 4).alias("dup_line_frac"),
        F.round("__dup_para", 4).alias("dup_para_frac"),
        F.round("__top_bigram", 4).alias("top_bigram_frac"),
        F.round(score, 4).alias("quality"))


# minimum count of script-decisive codepoints before the script gate
# fires — a single stray foreign char in a Latin doc must not flip the
# verdict.  The gate ALSO requires the script to outnumber the doc's
# Latin letters (see lang_id): a mostly-English document quoting a few
# foreign words stays with the stopword verdict.
CJK_MIN_CHARS = 4

# non-Latin script gates beyond CJK/kana: codepoint range (hex, both
# inclusive) -> verdict.  A None verdict means the script does not
# determine the language and a script-local stopword argmax decides
# (Cyrillic: ru vs uk).  The single-language verdicts are the dominant
# web-text language of each script — a documented approximation (e.g.
# Devanagari also writes Marathi/Nepali), the same trade the CJK gate
# already makes for zh.
SCRIPT_GATES = {
    "arab": ("0600", "06ff", "ar"),
    "cyrl": ("0400", "04ff", None),
    "deva": ("0900", "097f", "hi"),
    "grek": ("0370", "03ff", "el"),
    "hang": ("ac00", "d7a3", "ko"),
    "hebr": ("0590", "05ff", "he"),
    "thai": ("0e00", "0e7f", "th"),
}
CYRILLIC_LANGS = ("ru", "uk")


def _profile_argmax(toks, langs):
    """max-by-(hits, lang asc) over stopword profiles as one fold."""
    scores = []
    for lang in sorted(langs):
        prof = F.array([F.lit(w) for w in LANG_PROFILES[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(prof, t)))
        scores.append(F.struct(hits.alias("hits"),
                               F.lit(lang).alias("lang")))
    return F.aggregate(
        F.array(*scores),
        F.struct(F.lit(-1).alias("hits"), F.lit("zz").alias("lang")),
        lambda acc, s: F.when(
            (s["hits"] > acc["hits"])
            | ((s["hits"] == acc["hits"]) & (s["lang"] < acc["lang"])),
            s).otherwise(acc))


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            passthrough: tuple = ()) -> DataFrame:
    """Two-stage language ID.  Returns (id, pred_lang, hits).

    1. Script gate: count codepoints per non-Latin script (CJK
       ideographs U+4E00-9FFF + kana U+3040-30FF as one "cjk" family,
       plus SCRIPT_GATES: Arabic, Cyrillic, Devanagari, Greek, Hangul,
       Hebrew, Thai).  The gate fires only when the dominant script
       (ties break by script key asc) has >= CJK_MIN_CHARS codepoints
       AND outnumbers the doc's Latin letters — a mostly-English paper
       quoting a Greek formula or a Cyrillic phrase keeps its stopword
       verdict instead of being flipped (or NULL-dropped) by a handful
       of foreign chars; counting is one regexp_count scan per script
       class, no stripped-string materialization.  When it fires:
       cjk => ja when kana present else zh; Cyrillic => stopword argmax
       between ru/uk (NULL when neither profile hits — script evidence
       alone cannot pick the language); other scripts => their
       SCRIPT_GATES verdict.  This classifies UNSEGMENTED text, which
       whitespace tokenization can never match against token profiles.
       hits = the script codepoint count (Cyrillic: the winning
       profile's stopword hits, since that is what decided).
    2. Otherwise stopword-profile argmax over LANG_PROFILES (ties broken
       by language code asc) — and pred_lang is NULL when no profile
       word hits at all, so a consumer never mistakes an arbitrary
       tie-break for a real verdict."""
    # staged projections (same rationale as quality_score): text and
    # tokens materialized once (each profile filter would re-split the
    # text), then the argmax folds and script counts materialized once
    # as base columns, then pred/hits computed from plain columns
    pt = [F.col(p) for p in passthrough]  # see quality_score
    c0 = F.col(text_col) if isinstance(text_col, str) else text_col
    pre = docs.select(F.col(id_col), *pt, c0.alias("__text"),
                      tokens_col(text_col).alias("__toks"))
    c = F.col("__text")
    toks = F.col("__toks")
    n_cjk = F.regexp_count(c, F.lit("[\u4e00-\u9fff]"))
    n_kana = F.regexp_count(c, F.lit("[\u3040-\u30ff]"))
    n_latin = F.regexp_count(c, F.lit("[A-Za-z]"))
    script_counts = {"cjk": n_cjk + n_kana}
    for key, (lo, hi, _v) in SCRIPT_GATES.items():
        cls = f"[{chr(int(lo, 16))}-{chr(int(hi, 16))}]"
        script_counts[key] = F.regexp_count(c, F.lit(cls))
    sarr = F.array(*[
        F.struct(script_counts[k].alias("cnt"), F.lit(k).alias("skey"))
        for k in sorted(script_counts)])
    sbest = F.aggregate(
        sarr,
        F.struct(F.lit(-1).alias("cnt"), F.lit("zz").alias("skey")),
        lambda acc, s: F.when(
            (s["cnt"] > acc["cnt"])
            | ((s["cnt"] == acc["cnt"]) & (s["skey"] < acc["skey"])),
            s).otherwise(acc))
    base = pre.select(
        F.col(id_col), *pt,
        n_kana.alias("__kana"),
        n_latin.alias("__latin"),
        sbest.alias("__sb"),
        _profile_argmax(toks, LANG_PROFILES).alias("__best"),
        _profile_argmax(toks, CYRILLIC_LANGS).alias("__cyr"))
    sb, best, cyr = F.col("__sb"), F.col("__best"), F.col("__cyr")
    script_verdict = F.when(
        sb["skey"] == "cjk",
        F.when(F.col("__kana") > 0, F.lit("ja")).otherwise(F.lit("zh")))
    for key, (_lo, _hi, v) in sorted(SCRIPT_GATES.items()):
        if v is None:
            script_verdict = script_verdict.when(
                sb["skey"] == key,
                F.when(cyr["hits"] > 0, cyr["lang"])
                .otherwise(F.lit(None).cast("string")))
        else:
            script_verdict = script_verdict.when(
                sb["skey"] == key, F.lit(v))
    gated = (sb["cnt"] >= CJK_MIN_CHARS) & (sb["cnt"] > F.col("__latin"))
    pred = (F.when(gated, script_verdict)
            .when(best["hits"] > 0, best["lang"])
            .otherwise(F.lit(None).cast("string")))
    hits = (F.when(gated & (sb["skey"] == "cyrl"), cyr["hits"])
            .when(gated, sb["cnt"])
            .otherwise(best["hits"]))
    return base.select(F.col(id_col), *pt,
                       pred.alias("pred_lang"),
                       hits.alias("hits"))


def _winnow_mins(grams, w: int):
    """Distinct window-of-w minima over a gram-hash array (the
    winnowing selection); all grams when there are fewer than w.
    Scan-local (zero shuffle) but interpreted per element — use
    `_winnow_fps` for the bulk cross-doc path."""
    n_grams = F.size(grams)
    win_idx = F.sequence(F.lit(1), n_grams - F.lit(w - 1))
    return F.when(
        n_grams >= w,
        F.array_distinct(F.transform(
            win_idx, lambda j: F.array_min(
                F.slice(grams, j.cast("int"), w))))) \
        .otherwise(F.array_distinct(grams))


def _winnow_rows(docs: DataFrame, id_col: str, text_col: str,
                 k: int, w: int) -> DataFrame:
    """PRE-DISTINCT winnowing rows (id, fp, pos) via WHOLE-STAGE-CODEGEN
    hashing — the single source of truth for both `_winnow_fps`
    (doc-level fingerprints; position dropped) and `_winnow_fps_pos`
    (passage spans): posexplode gram positions -> codegen
    md5(substring) -> a doc-keyed window min over the next w-1 rows,
    taken over struct(gram, position) so ties inside a window break to
    the smallest position.  Value-identical to exploding `_winnow_mins`
    (verified on the full test corpus) but ~20x faster: nested
    higher-order lambdas are INTERPRETED per element, while this shape
    keeps every md5 and comparison inside codegen.  Cost: one shuffle
    of (id, 32B hash, int pos) for the window — which every downstream
    consumer needs co-located by id anyway.  (Round 7 measured an
    Arrow per-doc rewrite — Python md5 per char gram + deque window —
    at 1.5x SLOWER than this codegen shape on the bench corpus; the
    ~10M-row explode+window is cheaper than 10M hashlib calls, so the
    codegen form stays.)"""
    from pyspark.sql import Window
    c = F.col(text_col)
    base = docs.select(F.col(id_col), c.alias("__t"),
                       (F.length(c) - (k - 1)).alias("__n")) \
        .filter(F.col("__n") >= 1)
    grams = base.select(
        F.col(id_col), F.col("__n"),
        F.posexplode(F.sequence(F.lit(1), F.col("__n")))
        .alias("__p", "__i"),
        F.col("__t")).select(
        F.col(id_col), F.col("__n"), F.col("__i"),
        F.md5(F.expr(f"substring(__t, __i, {k})")).alias("__g"))
    win = Window.partitionBy(id_col).orderBy("__i").rowsBetween(0, w - 1)
    mins = grams.select(
        F.col(id_col), F.col("__n"), F.col("__i"), F.col("__g"),
        F.min(F.struct(F.col("__g"), F.col("__i"))).over(win)
        .alias("__m"))
    # n >= w: windows starting at i <= n-w+1; n < w: every gram itself
    return (mins
            .filter((F.col("__n") < w)
                    | (F.col("__i") <= F.col("__n") - (w - 1)))
            .select(F.col(id_col),
                    F.when(F.col("__n") < w, F.col("__g"))
                    .otherwise(F.col("__m.__g")).alias("fp"),
                    F.when(F.col("__n") < w, F.col("__i"))
                    .otherwise(F.col("__m.__i")).alias("pos")))


def _winnow_fps(docs: DataFrame, id_col: str, text_col: str,
                k: int, w: int) -> DataFrame:
    """Distinct (id, fp) winnowing fingerprints — `_winnow_rows` with
    the position dropped (doc-level dedup / candidate pairing)."""
    return _winnow_rows(docs, id_col, text_col, k, w) \
        .select(F.col(id_col), "fp").distinct()


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", k: int = 8,
                w: int = 4) -> DataFrame:
    """Winnowing fingerprint: md5 k-char grams -> window-of-w minima ->
    distinct.  Returns (id, n_grams, n_fingerprints, fp_min).

    The per-document fingerprint set identifies near-identical passages
    (MOSS-style); fp_min is a 1-value sketch for cheap equality tests.

    Staged projections: the gram-hash array and the winnow-min array
    are each materialized ONCE as columns — `_winnow_mins`' window
    lambda slices its gram argument per window, and interpreted HOFs
    re-evaluate free subtrees per element, so an inlined gram tree
    would recompute every md5 PER WINDOW (O(n^2))."""
    pre = docs.select(F.col(id_col),
                      char_grams_md5(F.col(text_col), k).alias("__grams"))
    base = pre.select(
        F.col(id_col),
        F.size("__grams").alias("n_grams"),
        _winnow_mins(F.col("__grams"), w).alias("__mins"))
    return base.select(
        F.col(id_col),
        F.col("n_grams"),
        F.size("__mins").alias("n_fingerprints"),
        F.array_min("__mins").alias("fp_min"))


def _winnow_fps_pos(docs: DataFrame, id_col: str, text_col: str,
                    k: int, w: int) -> DataFrame:
    """Distinct (id, fp, pos) — `_winnow_rows` deduplicated, keeping
    WHERE each fingerprint lives (1-based char position of the
    selected gram).  This is what lets the passage-level operators map
    a shared fingerprint back to a char span instead of stopping at a
    doc-level verdict."""
    return _winnow_rows(docs, id_col, text_col, k, w).distinct()


def duplicated_passage_spans(docs: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", k: int = 8,
                             w: int = 4, min_df: int = 2,
                             max_df: int = 5) -> DataFrame:
    """Char spans of passages SHARED across documents — the
    remediation step after `fingerprint_candidate_pairs`: instead of a
    doc-level verdict, emit exactly WHICH text is duplicated.

    Pipeline: positioned winnowing fingerprints (`_winnow_fps_pos`) ->
    keep fingerprints whose document frequency is in [min_df, max_df]
    (shared, but not ubiquitous boilerplate — same df-cap rationale as
    fingerprint_candidate_pairs) -> per doc, each hit covers chars
    [pos, pos+k) -> merge overlapping/adjacent hits into maximal
    spans.  Returns (id, span_start, span_end, n_fps): 1-based
    [span_start, span_end) such that substring(text, span_start,
    span_end - span_start) is the duplicated passage; n_fps = merged
    fingerprint count (evidence strength).  With k > w (defaults 8 >
    4) consecutive selected grams of one shared passage always
    overlap, so a contiguous shared passage merges into ONE span.

    Scale: the only new shuffle beyond the fingerprint table is the
    per-doc window for merging — keyed on id, carrying (id, 32B, int)
    rows; the df filter happens BEFORE any join back, so only shared
    fingerprints reach the merge.  Reference analogue: span
    derive+rank over per-page predictions (K7,
    /root/reference/batukh/torch/segmenter.py:541-554)."""
    from pyspark.sql import Window
    # NOT checkpointed deliberately: the df filter and the hits join
    # both consume fps and no ReusedExchange fires, so the winnow
    # subtree appears twice in the plan — but a round-7 interleaved A/B
    # (7 reps each) measured the checkpointed form SLOWER (2.11 s vs
    # 1.64 s median on the sf0.1 spans query; a wash on cut_passages):
    # the duplicate subtrees schedule as parallel stages on idle cores,
    # while a checkpoint serializes materialization before any
    # consumer starts.
    fps = _winnow_fps_pos(docs, id_col, text_col, k, w)
    sharing = (fps.select(F.col(id_col), "fp").distinct()
               .groupBy("fp")
               .agg(F.count(F.lit(1)).alias("__df"))
               .filter((F.col("__df") >= min_df)
                       & (F.col("__df") <= max_df))
               .select("fp"))
    hits = fps.join(sharing, "fp")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    newg = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1) \
        .otherwise(0)
    grp = (hits.withColumn("__new", newg)
           .withColumn("__grp", F.sum("__new").over(
               w_doc.rowsBetween(Window.unboundedPreceding, 0))))
    return (grp.groupBy(F.col(id_col), F.col("__grp"))
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + k).cast("long").alias("span_end"),
                 F.count(F.lit(1)).alias("n_fps"))
            .drop("__grp"))


def cut_passages(docs: DataFrame, spans: DataFrame | None = None,
                 id_col: str = "doc_id", text_col: str = "text",
                 k: int = 8, w: int = 4, min_df: int = 2,
                 max_df: int = 5) -> DataFrame:
    """Excise duplicated passages: remove every
    `duplicated_passage_spans` span from each document's text.
    Returns (id, clean_text, n_cut_chars); docs with no shared
    passages pass through unchanged.  `spans` defaults to
    duplicated_passage_spans(docs, ...) but accepts a precomputed /
    reviewed span table (same columns).

    The splice is a per-doc fold over the doc's (sorted,
    non-overlapping) spans, concatenating the KEPT segments between
    them — an interpreted higher-order aggregate, but over span
    structs only (rare by the df gate), never a per-char loop; the
    text joins the span list once by id (one corpus-keyed shuffle,
    the same price keep_set-style remediation pays)."""
    if spans is None:
        spans = duplicated_passage_spans(docs, id_col, text_col,
                                         k, w, min_df, max_df)
    sp = (spans.groupBy(id_col)
          .agg(F.array_sort(
              F.collect_list(F.struct("span_start", "span_end")))
              .alias("__sp")))
    joined = docs.select(F.col(id_col), F.col(text_col)) \
        .join(sp, id_col, "left")
    c = F.col(text_col)
    folded = F.aggregate(
        F.col("__sp"),
        F.struct(F.lit(1).cast("long").alias("p"),
                 F.lit("").alias("t")),
        lambda acc, s: F.struct(
            s["span_end"].alias("p"),
            F.concat(acc["t"],
                     F.substring(c, acc["p"].cast("int"),
                                 (s["span_start"] - acc["p"])
                                 .cast("int"))).alias("t")),
        lambda acc: F.concat(
            acc["t"],
            F.substring(c, acc["p"].cast("int"),
                        (F.length(c) - acc["p"] + 1).cast("int"))))
    clean = F.when(F.col("__sp").isNull(), c).otherwise(folded)
    return joined.select(
        F.col(id_col), clean.alias("clean_text"),
        (F.length(c) - F.length(clean)).cast("long")
        .alias("n_cut_chars"))


def fingerprint_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text", k: int = 8,
                                w: int = 4,
                                max_df: int = 5) -> DataFrame:
    """Cross-doc candidate pairs from winnowing fingerprints — the
    actual MOSS use-case: two docs sharing selected k-char-gram minima
    share PASSAGES even when whole-doc similarity (minhash) is low.
    Returns (id_a, id_b, n_shared_fps), n_shared_fps = number of
    distinct shared fingerprints.

    Scale: same band-style shape as LSH — explode per-doc fingerprint
    sets, self-join bucketed on the fingerprint value, never all-pairs.
    Fingerprints appearing in more than `max_df` docs are dropped first
    (boilerplate passages; a fingerprint's pair emission is quadratic
    in its document frequency, so ubiquitous grams would otherwise be a
    hot-bucket blowup — the df cap is one groupBy over the already-tiny
    fingerprint table).  max_df=5 keeps only genuinely rare shared
    passages (measured on the test corpus: cap 100 ~ all-pairs, cap 5 ~
    0.2-4% of pairs); raise it for passage-level recall at the cost of
    quadratic-in-df bucket work."""
    # codegen winnowing (see _winnow_fps), materialized ONCE: THREE
    # subplans read it (df counts + both self-join sides); its rows are
    # (id, 32B fp), the MOSS index a production run would persist anyway
    fps = materialize(_winnow_fps(docs, id_col, text_col, k, w),
                      "textstats.fingerprint_candidate_pairs:fps")
    rare = (fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp"))
    pruned = fps.join(rare, "fp")
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_fps")))


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-unigram log-probability score — the CCNet/KenLM-style
    perplexity proxy a pretraining pipeline uses to rank documents by
    "how much does this look like the corpus" (gibberish and boiler
    garbage score far below fluent text, in any language, with no
    model artifact to ship).

    score(d) = sum_t ln(c_t) - n_d * ln(N)   (= sum_t ln(c_t / N))

    with c_t the corpus count of token t and N the corpus token total,
    i.e. the total unigram log-likelihood of the document; divide by
    n_tokens for the per-token mean.

    Returns (id_col, n_tokens, logprob_micro): the score in integer
    MICRO-NATS (round(ln(c)*1e6) summed as bigints).  Quantizing each
    per-token term to an integer before any sum is the repo's standard
    float-oracle trick: integer sums are order-independent, so the
    result is bit-identical on any engine, any partitioning — a float
    sum of ln's would differ by accumulation order.

    Scale: two aggregations — the vocab count (map-side partials over
    (token) keys; the natural-language head is Zipf-hot but partials
    collapse it before the shuffle) and the per-doc sum (keyed on
    id_col).  The token->count join shuffles (token, doc_id) pairs,
    never document text.  The corpus total N is a 1-row planning
    collect off the (materialized) vocab.  Empty documents survive
    with n_tokens = 0, score 0.
    """
    import math

    tok = (docs
           .select(F.col(id_col),
                   F.explode(tokens_col(text_col)).alias("__t")))
    vocab = materialize(tok.groupBy("__t").agg(F.count("*").alias("__c")),
                        "textstats.unigram_logprob:vocab")
    total = vocab.agg(F.sum("__c")).collect()[0][0] or 0
    ln_n_micro = round(math.log(total) * 1e6) if total > 0 else 0
    lq = F.round(F.log(F.col("__c").cast("double")) * 1e6, 0).cast("long")
    per_doc = (tok.join(vocab.select("__t", lq.alias("__lq")), "__t")
               .groupBy(F.col(id_col))
               .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                    F.sum("__lq").alias("__slq")))
    return (docs.select(F.col(id_col)).distinct()
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce(
                        F.col("__slq")
                        - F.col("n_tokens") * F.lit(ln_n_micro),
                        F.lit(0)).cast("long").alias("logprob_micro")))


def bigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Corpus-bigram conditional log-likelihood — the order-2 upgrade
    of `unigram_logprob`, and a much sharper fluency signal: word
    SALAD has plausible unigrams but improbable transitions, so it
    scores far below fluent text here while passing the unigram
    screen.

    score(d) = sum over adjacent pairs (w1, w2) of
               ln(c2(w1, w2) / c1(w1))

    with c2 the corpus count of the bigram and c1(w1) the corpus count
    of w1 as a bigram LEFT (so each term is the MLE conditional
    P(w2 | w1); no smoothing is needed because every document bigram
    is, by construction, in the corpus counts).  Returns
    (id_col, n_bigrams, bigram_logprob_micro) in integer MICRO-NATS —
    each ln is quantized to a bigint before any sum (the repo's
    standard float-oracle trick: integer sums are order-independent,
    so the score is bit-identical on any engine or partitioning).
    Documents with < 2 tokens survive with (0, 0).

    Scale: mirrors unigram_logprob — bigram strings are built by a
    codegen zip_with over the staged token array (one evaluation per
    row; the lambda touches only its bound pair, dodging the
    interpreted-HOF free-subexpression tax), then ONE explode feeds
    both count aggregations (map-side partials collapse the Zipf head
    before each shuffle) and the per-doc sum joins on the bigram
    string — document text itself never shuffles.
    """
    toks = docs.select(F.col(id_col), tokens_col(text_col).alias("__tk"))
    n = F.size("__tk")
    pairs = F.zip_with(F.slice("__tk", 1, F.greatest(n - 1, F.lit(0))),
                       F.slice("__tk", 2, F.greatest(n - 1, F.lit(0))),
                       lambda a, b: F.concat_ws(" ", a, b))
    big = materialize(
        toks.select(F.col(id_col), F.explode(pairs).alias("__bg")),
        "textstats.bigram_logprob:bigrams")
    left = F.split(F.col("__bg"), " ", 2)[0]
    c2 = big.groupBy("__bg").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = (big.groupBy(left.alias("__w1"))
          .agg(F.count(F.lit(1)).alias("__c1")))
    lq2 = F.round(F.log(F.col("__c2").cast("double")) * 1e6, 0) \
        .cast("long")
    lq1 = F.round(F.log(F.col("__c1").cast("double")) * 1e6, 0) \
        .cast("long")
    terms = (big
             .join(c2.select("__bg", lq2.alias("__l2")), "__bg")
             .join(c1.select(F.col("__w1"),
                             lq1.alias("__l1")),
                   F.split(F.col("__bg"), " ", 2)[0] == F.col("__w1")))
    per_doc = (terms.groupBy(F.col(id_col))
               .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                    F.sum(F.col("__l2") - F.col("__l1"))
                    .alias("__s")))
    return (docs.select(F.col(id_col)).distinct()
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("__s", F.lit(0)).cast("long")
                    .alias("bigram_logprob_micro")))


def build_vocab(docs: DataFrame, size: int, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Top-`size` corpus tokens by frequency — the word-level vocab a
    tokenizer-coverage audit runs against.  Ties at the cut break by
    token asc, so the vocab is total and deterministic.  Returns
    (token, n_occurrences).

    Scale: explode -> groupBy(token) with map-side partial counts
    (the shuffle carries (token, long) pairs), then a global
    TakeOrderedAndProject for the top-`size` — never a full sort."""
    if not (isinstance(size, int) and size >= 1):
        raise ValueError(f"size must be an int >= 1, got {size!r}")
    from batukh_spark.operators.text import tokens_col
    return (docs
            .select(F.explode(tokens_col(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("token"))
            .limit(size))


def vocab_coverage(docs: DataFrame, vocab: DataFrame,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document out-of-vocabulary audit against a vocab table —
    the check that a tokenizer (or a fixed word list) actually covers
    a new data source before it enters the mix; a spike in OOV rate
    is the classic symptom of wrong-language / wrong-domain /
    mojibake data.  `vocab` needs a `token` column (build_vocab
    output or an external list).

    Returns (id_col, n_tokens, n_oov, oov_ppm) for EVERY input doc;
    oov_ppm = integer parts-per-million (n_oov * 1e6 div n_tokens, 0
    for empty docs) — integer so the rate is bit-identical across
    engines.

    Scale: the vocab BROADCASTS (vocabularies are tiny); the token
    explode dies into the broadcast join scan-local, and the only
    shuffle is the per-doc (id, counts) aggregation with map-side
    partials."""
    from batukh_spark.operators.text import tokens_col
    v = F.broadcast(vocab.select(F.col("token")).distinct()
                    .withColumn("__in", F.lit(1)))
    toks = (docs
            .select(F.col(id_col),
                    F.explode(tokens_col(text_col)).alias("token")))
    cov = (toks.join(v, "token", "left")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("__nt"),
                F.sum(F.when(F.col("__in").isNull(), 1)
                      .otherwise(0)).alias("__no")))
    return (docs.select(F.col(id_col)).join(cov, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__nt"), F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce(F.col("__no"), F.lit(0)).cast("long")
                    .alias("n_oov"),
                    F.when(F.coalesce(F.col("__nt"), F.lit(0)) > 0,
                           F.expr("(__no * 1000000) div __nt"))
                    .otherwise(F.lit(0)).cast("long").alias("oov_ppm")))


def token_length_profile(docs: DataFrame, qs=(25, 50, 75, 90, 99),
                         domain_col: str = "source",
                         text_col: str = "text",
                         token_scale=None) -> DataFrame:
    """Per-domain token-length distribution profile with EXACT
    quantiles — the corpus health report that sizes context windows,
    spots truncated/exploded sources, and feeds the chunking/packing
    knobs.  p_q = the smallest length L whose cumulative doc count
    reaches ceil(q/100 * n_docs) (inverse-CDF lower semantics, chosen
    over approx-percentile sketches because it is bit-identical
    across engines and partitionings).

    Returns one row per domain:
    (domain_col, n_docs, total_tokens, p25, p50, p75, p90, p99)
    (columns follow `qs`).

    Scale: the corpus collapses FIRST to a (domain, length, count)
    histogram via a map-side-partial groupBy — the only corpus-wide
    shuffle, carrying three longs per distinct (domain, length).
    Every window after that runs on the histogram, which is bounded
    by |domains| x |distinct lengths| (thousands of rows at any
    corpus size), the same small-table class as the IVF codebook.

    `token_scale` (optional): an int ppm factor, or a {domain: ppm}
    dict (e.g. collected from `calibrate_token_scale` — the k-row
    planning-collect class), applied per document BEFORE the
    histogram so lengths and quantiles read in calibrated
    target-tokenizer units; a domain missing from the dict keeps its
    raw proxy counts (identity).  See text.apply_token_scale for the
    exactness and error-band contract."""
    from pyspark.sql import Window
    from batukh_spark.operators.text import apply_token_scale, tokens_col
    # stage the raw proxy length into its own column first: the
    # per-domain branches below each reference it, and only a staged
    # attribute guarantees the tokenize tree is evaluated once
    pre = docs.select(F.col(domain_col).alias("__d"),
                      F.size(tokens_col(text_col)).cast("long")
                      .alias("__raw"))
    raw = F.col("__raw")
    if isinstance(token_scale, dict):
        # chained per-domain scaling, identity for unlisted domains —
        # a handful of literal branches, stays in codegen
        scaled = raw
        for d in sorted(token_scale):
            scaled = F.when(F.col("__d") == d,
                            apply_token_scale(raw, int(token_scale[d]))) \
                .otherwise(scaled)
    else:
        scaled = apply_token_scale(raw, token_scale)
    lens = pre.select("__d", scaled.alias("__len"))
    hist = lens.groupBy("__d", "__len").agg(
        F.count(F.lit(1)).alias("__cnt"))
    w = (Window.partitionBy("__d").orderBy("__len")
         .rowsBetween(Window.unboundedPreceding, 0))
    wd = Window.partitionBy("__d")
    cum = (hist
           .withColumn("__cum", F.sum("__cnt").over(w))
           .withColumn("__n", F.sum("__cnt").over(wd))
           .withColumn("__tok", F.sum(F.col("__len") * F.col("__cnt"))
                       .over(wd)))
    aggs = [F.max("__n").cast("long").alias("n_docs"),
            F.max("__tok").cast("long").alias("total_tokens")]
    for q in qs:
        # integer form of cum >= ceil(n*q/100): 100*cum >= n*q
        aggs.append(
            F.min(F.when(F.col("__cum") * 100 >= F.col("__n") * q,
                         F.col("__len")))
            .cast("long").alias(f"p{q}"))
    return (cum.groupBy(F.col("__d").alias(domain_col))
            .agg(*aggs))


def mix_report(rows, dims=("source", "lang"), text_col: str = "text"):
    """Corpus composition report — the table a data lead reads after a
    mix lands: ROLLUP over `dims` (per-group, per-prefix subtotals,
    and the grand total in one pass) with document counts, token
    totals, and each group's token share in integer ppm of the grand
    total.  A mixture spec says "30% code, 50% web"; this is the
    operator that verifies the corpus actually landed there.

    Returns (*dims, n_docs, n_tokens, token_ppm); subtotal rows carry
    NULL in the rolled-up dims (standard ROLLUP convention) and the
    grand-total row has token_ppm = 1000000.

    Scale: token counts are scan-local; the ROLLUP aggregation uses
    map-side partials and its output is bounded by the dim
    cardinalities (a report, not a corpus); the grand total joins
    back as a broadcast 1-row table, so the corpus is scanned ONCE."""
    from batukh_spark.operators.text import tokens_col
    tok = rows.select(*[F.col(d) for d in dims],
                      F.size(tokens_col(text_col)).cast("long")
                      .alias("__t"))
    agg = (tok.rollup(*dims)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("__t").alias("n_tokens"),
                F.grouping_id().alias("__gid")))
    grand = (1 << len(dims)) - 1
    total = (agg.filter(F.col("__gid") == grand)
             .select(F.col("n_tokens").alias("__tot")))
    return (agg.crossJoin(F.broadcast(total))
            .select(*[F.col(d) for d in dims],
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.expr("(n_tokens * 1000000) div __tot")
                    .cast("long").alias("token_ppm")))


def key_skew_report(rows, key_cols, top: int = 20):
    """Hot-key diagnosis for a planned join/groupBy key: the top-k
    heaviest key values with absolute counts and integer-ppm share of
    all rows — the audit that decides between a plain shuffle, a
    broadcast, and salting BEFORE a 100 TB join melts one reducer.
    The count-vs-p99 shape of its output is exactly what the
    pipeline's salted-unit planning consumes (pipeline.py shuffle
    mode salts conversation hashes for the same reason).

    Returns (*key_cols, n_rows, row_ppm), top-k by (n_rows desc,
    *key_cols asc) — total order, so the report is deterministic.

    Scale: one groupBy with map-side partials (the shuffle carries
    (key, long) pairs), then a global TakeOrderedAndProject over the
    aggregated keys; the grand total rides along as a broadcast 1-row
    join, so the corpus is scanned once."""
    if not (isinstance(top, int) and top >= 1):
        raise ValueError(f"top must be an int >= 1, got {top!r}")
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    counts = (rows.groupBy(*[F.col(k) for k in key_cols])
              .agg(F.count(F.lit(1)).alias("n_rows")))
    total = counts.select(F.sum("n_rows").alias("__tot"))
    return (counts.crossJoin(F.broadcast(total))
            .select(*[F.col(k) for k in key_cols],
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.expr("(n_rows * 1000000) div __tot")
                    .cast("long").alias("row_ppm"))
            .orderBy(F.desc("n_rows"),
                     *[F.asc(k) for k in key_cols])
            .limit(top))


def c4_line_clean(docs: DataFrame, min_words: int = 3,
                  drop_markers: tuple[str, ...] = ("javascript",
                                                   "lorem ipsum",
                                                   "cookie"),
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): a web
    document's boilerplate lives on LINES (menus, cookie banners,
    share buttons), so before any doc-level verdict each line is kept
    only if it
      - has >= `min_words` whitespace-separated words,
      - ends in terminal punctuation (. ! ? ") after right-trim,
      - contains none of `drop_markers` (lowercased SUBSTRING match,
        not regex — dialect-free across Spark and any SQL oracle, and
        it stays in whole-stage codegen), and
      - contains no '{' (the C4 code/markup tell).

    Returns (id_col, n_lines, n_kept, clean_text) where clean_text is
    the kept lines re-joined with newlines ('' when nothing survives).
    Downstream doc-level gates (quality_score, lang_id) then run on
    clean_text instead of raw text.

    Scale: 100% scan-local (split -> staged array -> filter -> join);
    no shuffle, no UDF.  The line array and the kept array are staged
    as their own projections so each is computed exactly once (the
    interpreted-HOF free-subexpression tax documented in PLANS.md).
    Lambda bodies reference only the bound element, per the audit
    rule."""
    if not (isinstance(min_words, int) and min_words >= 1):
        raise ValueError(f"min_words must be an int >= 1, "
                         f"got {min_words!r}")

    def _keep(x):
        nw = F.size(F.filter(F.split(x, " "), lambda w: w != ""))
        tail = F.substring(F.rtrim(x), -1, 1)
        cond = ((nw >= F.lit(min_words))
                & tail.isin(".", "!", "?", '"')
                & ~F.contains(x, F.lit("{")))
        low = F.lower(x)
        for m in drop_markers:
            cond = cond & (F.instr(low, m.lower()) == 0)
        return cond

    lines = docs.select(F.col(id_col),
                        F.split(F.coalesce(F.col(text_col), F.lit("")),
                                "\n").alias("__lines"))
    kept = lines.select(F.col(id_col), F.col("__lines"),
                        F.filter("__lines", _keep).alias("__kept"))
    return kept.select(
        F.col(id_col),
        F.size("__lines").cast("long").alias("n_lines"),
        F.size("__kept").cast("long").alias("n_kept"),
        F.array_join("__kept", "\n").alias("clean_text"))


def dedup_lines(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Within-document duplicate-line removal, keeping each line's
    FIRST occurrence in order — the companion to `c4_line_clean` for
    the scraping artifact it cannot catch: the same nav/footer/cookie
    line repeated throughout one page (line-identical repetition is
    also the dominant term in quality_score's dup_line_frac; this is
    the ACTION to that signal's report).

    Returns (id_col, n_lines, n_unique, clean_text) with kept lines
    rejoined by newlines.

    Scale: 100% scan-local — a single aggregate fold builds the
    deduped array in one pass over the staged line array (no explode,
    no shuffle; the containment probe is O(k) against the running
    UNIQUE prefix, bounded by distinct lines per doc).  The lambda
    references only its bound accumulator/element, per the audit
    rule."""
    lines = docs.select(F.col(id_col),
                        F.split(F.coalesce(F.col(text_col), F.lit("")),
                                "\n").alias("__lines"))
    kept = lines.select(
        F.col(id_col), F.col("__lines"),
        F.aggregate(
            "__lines",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(F.array_contains(acc, x), acc)
            .otherwise(F.concat(acc, F.array(x)))).alias("__kept"))
    return kept.select(
        F.col(id_col),
        F.size("__lines").cast("long").alias("n_lines"),
        F.size("__kept").cast("long").alias("n_unique"),
        F.array_join("__kept", "\n").alias("clean_text"))


# Frozen logistic-regression quality-classifier coefficients — the
# GPT-3-style LR corpus filter (Brown et al. 2020, App. A), shipped as
# FROZEN weights the same way the reference ships trained U-Net
# weights and runs inference only (/root/reference/batukh/torch/
# segmenter.py:394-411).  The features are integer-exact per doc;
# only the final sigmoid is float, and the emitted score is rounded to
# 6 places (the repo's cross-engine float guard).  The SQL oracle is
# generated from THESE literals, so the two engines cannot drift.
QC_WEIGHTS = {
    "bias": -2.0,
    "log_len": 0.35,       # ln(1 + n_words): longer docs score higher
    "stop_frac": 6.0,      # stopword share: fluent prose scores higher
    "mean_word_len": -0.15,  # very long avg words = code/garbage tell
}


def quality_classifier(docs: DataFrame, threshold: float = 0.5,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Inference-only logistic quality classifier over integer-exact
    features: score = sigmoid(b + w1*ln(1+nw) + w2*stop_frac
    + w3*mean_word_len), rounded to 6 places; keep = score >=
    threshold (compared on the ROUNDED value so both engines decide
    identically).

    Complements `quality_score` (hand-tuned rule bands): this is the
    learned-filter shape real pipelines use for corpus-vs-reference
    discrimination, with coefficients frozen as literals (QC_WEIGHTS)
    exactly like the reference's shipped model weights.

    Scale: scan-local — staged token array, two bounded folds, pure
    codegen arithmetic; no shuffle, no UDF."""
    from batukh_spark.operators.text import tokens_col
    pre = docs.select(
        F.col(id_col),
        tokens_col(F.coalesce(F.col(text_col), F.lit("")))
        .alias("__toks"))
    toks = F.col("__toks")
    sw = F.array([F.lit(w) for w in STOPWORDS_EN])
    staged = pre.select(
        F.col(id_col),
        F.size(toks).alias("__nw"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        .alias("__nstop"),
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
        .alias("__chars"))
    nw = F.col("__nw")
    x1 = F.log(F.lit(1.0) + nw)
    x2 = F.when(nw > 0, F.col("__nstop") / nw).otherwise(0.0)
    x3 = F.when(nw > 0, F.col("__chars") / nw).otherwise(0.0)
    w = QC_WEIGHTS
    z = (F.lit(w["bias"]) + F.lit(w["log_len"]) * x1
         + F.lit(w["stop_frac"]) * x2 + F.lit(w["mean_word_len"]) * x3)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    out = staged.select(F.col(id_col), score.alias("score"))
    return out.select(id_col, "score",
                      (F.col("score") >= threshold).alias("keep"))


def quality_classifier_sql(src: str = "documents",
                           threshold: float = 0.5) -> str:
    """DuckDB oracle for quality_classifier, generated from the SAME
    QC_WEIGHTS literals."""
    w = QC_WEIGHTS
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    return rf"""
with qctoks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '\s+'),
                     x -> x <> '') as tokens
  from {src}
), f as (
  select doc_id, len(tokens)::bigint as nw,
         len(list_filter(tokens, x -> x in ({stop_list})))::bigint
           as nstop,
         coalesce(list_sum(list_transform(tokens, x -> length(x))),
                  0)::bigint as chars
  from qctoks
), s as (
  select doc_id,
         round(1.0 / (1.0 + exp(-({w["bias"]}
               + {w["log_len"]} * ln(1.0 + nw)
               + {w["stop_frac"]} * (case when nw > 0
                                     then nstop / nw::double else 0 end)
               + {w["mean_word_len"]} * (case when nw > 0
                                     then chars / nw::double else 0
                                     end)))), 6) as score
  from f
)
select doc_id, score, score >= {threshold} as keep from s
"""


def calibrate_token_scale(docs: DataFrame, k: int = 10,
                          domain_col: str = "source",
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          salt: str = "cal1") -> DataFrame:
    """Measure per-domain token-accounting calibration factors from a
    DETERMINISTIC sample — the bridge between the engine's cheap
    whitespace-token proxy and a real tokenizer's scale.  Takes
    exactly min(k, n) documents per domain in md5(salt, domain, id)
    order (`sampling.fixed_size_sample` — stable under any
    partitioning, salt draws an independent sample) and returns one
    row per domain:

      (domain_col, n_sample_docs,
       chars_per_tok_ppm  = floor(sum_chars * 1e6 / sum_ws_tokens),
       bpe_per_tok_ppm    = floor(sum_bpe   * 1e6 / sum_ws_tokens))

    Both factors are INTEGER ppm (parts-per-million) so applying them
    (`text.apply_token_scale`) is exact integer arithmetic in every
    engine — the same micro-unit quantization trick the k-means
    codebook uses.  A domain whose sample has zero whitespace tokens
    gets NULL factors (nothing to calibrate against — the caller
    decides; apply_token_scale(None) is identity).  n_bpe is the
    BPE_REGEX pre-tokenization proxy (`token_counts`), not a trained
    BPE; the error-band contract lives at apply_token_scale.

    Scale: the sample is k docs per domain (hash-threshold pruned
    scan, see fixed_size_sample), so the measurement cost is
    O(k * |domains|) documents regardless of corpus size; the factor
    table is |domains| rows — the broadcast/collect planning class."""
    from batukh_spark.operators.sampling import fixed_size_sample
    samp = fixed_size_sample(docs.select(F.col(id_col),
                                         F.col(domain_col)),
                             k=k, strata_col=domain_col, salt=salt,
                             id_col=id_col) \
        .select(F.col(id_col))
    sampled = docs.join(samp, id_col, "left_semi")
    counts = token_counts(sampled, id_col=id_col, text_col=text_col) \
        .join(docs.select(F.col(id_col), F.col(domain_col)), id_col)
    agg = counts.groupBy(F.col(domain_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_sample_docs"),
        F.sum("n_ws_tokens").cast("long").alias("__ws"),
        F.sum("n_chars").cast("long").alias("__chars"),
        F.sum("n_bpe_tokens").cast("long").alias("__bpe"))

    def ppm(num):
        scaled = num.cast("decimal(38,0)") * F.lit(1000000)
        return F.when(F.col("__ws") > 0,
                      F.floor(scaled / F.col("__ws"))
                      .cast("long"))
    return agg.select(F.col(domain_col), F.col("n_sample_docs"),
                      ppm(F.col("__chars")).alias("chars_per_tok_ppm"),
                      ppm(F.col("__bpe")).alias("bpe_per_tok_ppm"))
