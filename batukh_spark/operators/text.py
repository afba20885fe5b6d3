"""Shared text-expression builders (tokens, shingles, char-grams).

Column-expression helpers used by dedup / textstats operators.  Everything
is a Catalyst expression — stays inside whole-stage codegen, scales
linearly with the scan, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def tokens_col(text: Column | str) -> Column:
    """lower → whitespace-split → drop empties.

    Pure codegen: `split` on `\\s+` can only produce empty strings at
    the BOUNDARIES (interior runs are swallowed by the `+`), so
    stripping leading/trailing whitespace first makes the post-split
    empty-filter — an interpreted higher-order function evaluated per
    element — unnecessary.  A whitespace-only/empty string maps to the
    empty array (the filter form's result), NULL stays NULL (the
    `when` condition is NULL, so the NULL-propagating split branch
    runs).  Same Java regex `\\s` class throughout, so token sets are
    byte-identical to the filter form (pinned by a differential
    test)."""
    c = F.col(text) if isinstance(text, str) else text
    base = F.regexp_replace(F.lower(c), r"^\s+|\s+$", "")
    return F.when(base == "", F.array().cast("array<string>")) \
        .otherwise(F.split(base, r"\s+"))


def apply_token_scale(n: Column, token_scale: int | None) -> Column:
    """Calibrated token accounting: scale a proxy-token count by an
    integer ppm factor — calibrated = (n * token_scale) div 1e6,
    where token_scale is e.g. `bpe_per_tok_ppm` from
    `textstats.calibrate_token_scale` (1_000_000 = identity).

    Exactness: the multiply and floor-divide run in decimal(38,0) —
    never through a double — so the result is bit-identical to
    DuckDB's bigint `(n * ppm) // 1000000` for every representable
    count (a double path silently loses integer precision once
    n * ppm exceeds 2^53).

    Accuracy contract (documented proxy error band): a single linear
    per-domain factor corrects AGGREGATE counts (budget totals,
    corpus profiles) to the target tokenizer's scale; per-document
    estimates inherit the domain's ratio spread — on natural web text
    the per-doc bpe/ws ratio typically varies ±10-20% around the
    domain mean (the templated synthetic test corpus shows ~0%), so
    treat per-doc calibrated counts as estimates, not guarantees."""
    if token_scale is None:
        return n
    if not (isinstance(token_scale, int) and token_scale > 0):
        raise ValueError(f"token_scale must be a positive int ppm "
                         f"factor or None, got {token_scale!r}")
    num = n.cast("decimal(38,0)") * F.lit(token_scale)
    return F.floor(num / F.lit(1000000)).cast("long")


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """k-word shingle strings; empty array when fewer than k tokens.

    PASS AN ATTRIBUTE (a materialized column), not the tokens_col()
    expression tree: the shingle lambda body holds k element_at
    references to `tokens`, and interpreted higher-order functions
    re-evaluate free subexpressions PER ELEMENT — with the split tree
    inlined that is O(k * n) full tokenizations per row (measured as
    the dominant cost of the whole minhash chain).  Callers project
    tokens into a column first (see minhash_signature)."""
    n = F.size(tokens)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    join_parts = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, (i + j).cast("int"))
               for j in range(k)])
    return F.when(n >= k, F.transform(idx, join_parts)) \
        .otherwise(F.array().cast("array<string>"))


def chunk_documents(docs, max_tokens: int = 64, overlap: int = 8,
                    id_col: str = "doc_id", text_col: str = "text",
                    max_doc_tokens: int = 1_000_000,
                    token_scale: int | None = None):
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of a training pipeline.  Returns
    one row per chunk: (id, chunk_idx, n_tokens, chunk_text), where
    chunk i covers canonical whitespace tokens
    [i*stride, i*stride + max_tokens) with stride = max_tokens -
    overlap; chunk_text is the space-joined canonical form.

    `token_scale` (optional int ppm, see `apply_token_scale`):
    calibrates the REPORTED n_tokens to a target tokenizer's scale
    (e.g. bpe_per_tok_ppm from `textstats.calibrate_token_scale`);
    chunk boundaries stay defined in proxy whitespace tokens — only
    the accounting column is scaled.

    Scan-local fan-out (inline over a per-row struct array): no
    shuffle, parallelism follows the scan, output rows ~ n_tokens /
    stride per document.  The work is LINEAR in document size — the
    struct array holds each token's text exactly once per overlap
    window (~(1 + overlap/stride)x the document in ONE row value
    before inline emits it).  The tempting alternative — explode the
    chunk-index range, slice the token array per output row — is
    QUADRATIC: generate duplicates the parent token array into every
    chunk row (measured ~40x slower on a 400k-token doc), so the
    transient row value is the right trade.  What that value does
    require is a bound: `max_doc_tokens` (validated per row,
    executor-side LOUD error, never a silent drop/truncate) caps the
    transient at ~2x max_doc_tokens bytes-of-text per row.  Route
    pathological documents (default cap 1M tokens ≈ several MB) to a
    dedicated splitter upstream instead of raising the cap."""
    from pyspark.sql import functions as F
    if not (isinstance(max_tokens, int) and max_tokens > 0):
        raise ValueError(f"max_tokens must be a positive int, "
                         f"got {max_tokens!r}")
    if not (0 <= overlap < max_tokens):
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < max_tokens "
            f"(got overlap={overlap}, max_tokens={max_tokens}): "
            f"overlap == max_tokens would never advance and "
            f"overlap > max_tokens walks backwards — both silently "
            f"produce wrong chunks instead of training data")
    if not (isinstance(max_doc_tokens, int)
            and max_doc_tokens >= max_tokens):
        raise ValueError(f"max_doc_tokens must be an int >= max_tokens, "
                         f"got {max_doc_tokens!r}")
    stride = max_tokens - overlap
    # materialize the token array ONCE per row in a child projection:
    # referencing the raw split/filter expression from inside the
    # (interpreted) transform body would re-tokenize the whole document
    # per chunk — quadratic on giant docs (measured: minutes instead of
    # seconds on a 400k-token row)
    base = docs.select(F.col(id_col),
                       tokens_col(text_col).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = (F.when(n <= 0, F.lit(0))
                .when(n <= max_tokens, F.lit(1))
                .otherwise((F.lit(1) + F.ceil((n - max_tokens)
                                              / F.lit(float(stride))))
                           .cast("int")))
    # giant-document guard: assert_true throws executor-side with the
    # offending id in the message; chained via when(...isNull) so the
    # assertion can't be pruned as an unused column
    guard = F.assert_true(
        n <= F.lit(max_doc_tokens),
        F.concat(F.lit(f"chunk_documents: document exceeds "
                       f"max_doc_tokens={max_doc_tokens}: {id_col}="),
                 F.col(id_col).cast("string")))
    # sequence(0, -1) would generate a DESCENDING range — guard empty
    seq = F.when(guard.isNull() & (n_chunks > 0),
                 F.sequence(F.lit(0), n_chunks - 1)) \
        .otherwise(F.array().cast("array<int>"))
    arr = F.transform(seq, lambda i: F.struct(
        i.cast("long").alias("chunk_idx"),
        apply_token_scale(
            F.least(F.lit(max_tokens), n - i * stride).cast("long"),
            token_scale).alias("n_tokens"),
        F.concat_ws(" ", F.slice(toks, i * stride + 1, max_tokens))
        .alias("chunk_text")))
    return base.select(F.col(id_col), F.inline(arr))


# PII/cleanup regexes — shared literally with the SQL oracle (Java
# regex and RE2 agree on this subset: char classes, {m,n}, alternation;
# no lookaround, no backreferences)
RE_URL = r"https?://[^\s]+"
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
RE_CTRL = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def redact_pii(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Training-data hygiene pass: redact emails / URLs / IPv4s to
    typed placeholders, strip C0 control characters (keeping \\t \\n
    \\r), collapse runs of spaces/tabs, and count what was removed.
    Returns (id, clean_text, n_urls, n_emails, n_ips, n_ctrl).

    Order matters: URLs first (an email-shaped substring inside a URL
    is part of the URL), then emails, then bare IPv4s.  Each count is
    taken on the text AFTER the previous replacements, so the counts
    agree with what the redaction actually replaced — an email inside
    a URL is redacted as part of the <URL> and is NOT counted in
    n_emails (summing the counts downstream matches the placeholders
    in clean_text).  Everything is a codegen'd regexp_replace /
    regexp_extract_all chain — scan-local, zero shuffle, and the regex
    subset is chosen so DuckDB's RE2 computes the identical result (no
    lookaround / backreferences)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    after_url = F.regexp_replace(c, RE_URL, "<URL>")
    after_email = F.regexp_replace(after_url, RE_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, RE_IPV4, "<IP>")
    n_urls = F.size(F.regexp_extract_all(c, F.lit(RE_URL), 0))
    n_emails = F.size(F.regexp_extract_all(after_url, F.lit(RE_EMAIL), 0))
    n_ips = F.size(F.regexp_extract_all(after_email, F.lit(RE_IPV4), 0))
    n_ctrl = F.size(F.regexp_extract_all(after_ip, F.lit(RE_CTRL), 0))
    clean = F.regexp_replace(after_ip, RE_CTRL, "")
    clean = F.regexp_replace(clean, r"[ \t]{2,}", " ")
    return docs.select(F.col(id_col), clean.alias("clean_text"),
                       n_urls.alias("n_urls"),
                       n_emails.alias("n_emails"),
                       n_ips.alias("n_ips"),
                       n_ctrl.alias("n_ctrl"))


def _prefix_before(df, order_cols, group_col=None, weight=None):
    """Exclusive running sum of `weight` within `group_col` along the
    total order (group_col, *order_cols) — the one distributed prefix
    derivation behind packing, budget cuts, bucket batching and the
    training-order ranks.  `weight=None` counts rows, so `__before` is
    the dense 0-based rank; `group_col=None` is one global group.
    `order_cols` must be a total order within each group (end them
    with a unique id).

    Returns (df + `__part` + `__before`, {group value: group total}).
    Groups match null-safely: a NULL group is one group like any other.

    Scale (distributed prefix sum, never a SinglePartition window):
      1. range-repartition by (group_col, *order_cols) and materialize
         once (localCheckpoint), so the partition ids seen by the totals
         job and the output job are identical; a group's rows then
         occupy consecutive partitions in partition-id order;
      2. per-(partition, group) exclusive running sum via a window keyed
         on the physical partition id — the plan shuffles the
         checkpointed rows once more (Exchange hashpartitioning(__part,
         ...)) and sorts each window partition by the order columns;
      3. per-(partition, group) totals (<= partitions x groups rows)
         collect to the driver — the same k-row planning-collect class
         as the IVF codebook; each group's offsets accumulate over those
         totals in partition-id order (group values are hashed, never
         compared) and come back as a broadcast offsets join.
    The result depends only on the total order, not on where range
    partitioning drew its boundaries."""
    spark = df.sparkSession
    groups = [group_col] if group_col else []
    w = F.lit(1).cast("long") if weight is None else F.col(weight)
    ordered = (df.repartitionByRange(
        spark.sparkContext.defaultParallelism, *groups, *order_cols)
        .withColumn("__part", F.spark_partition_id())
        .localCheckpoint())
    win = (Window.partitionBy("__part", *groups).orderBy(*order_cols)
           .rowsBetween(Window.unboundedPreceding, -1))
    local = ordered.withColumn(
        "__local", F.coalesce(F.sum(w).over(win), F.lit(0)))
    totals = (ordered.groupBy("__part", *groups)
              .agg(F.coalesce(F.sum(w), F.lit(0)).alias("__tot"))
              .collect())
    acc: dict = {}
    offsets = []
    for r in sorted(totals, key=lambda r: r["__part"]):
        g = r[group_col] if group_col else None
        offsets.append((r["__part"], g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + r["__tot"]
    gtype = ordered.schema[group_col].dataType if group_col \
        else T.NullType()
    odf = spark.createDataFrame(offsets, T.StructType([
        T.StructField("__opart", T.IntegerType()),
        T.StructField("__og", gtype),
        T.StructField("__off", T.LongType())]))
    cond = local["__part"] == odf["__opart"]
    if group_col:
        cond = cond & local[group_col].eqNullSafe(odf["__og"])
    out = (local.join(F.broadcast(odf), cond)
           .withColumn("__before",
                       (F.col("__off") + F.col("__local")).cast("long"))
           .drop("__local", "__opart", "__og", "__off"))
    return out, acc


def pack_sequences(chunks, seq_len: int = 256,
                   doc_col: str = "doc_id", idx_col: str = "chunk_idx",
                   ntok_col: str = "n_tokens",
                   token_scale: int | None = None):
    """Pack chunks into fixed-length training sequences — the step
    right after `chunk_documents` in a pretraining pipeline.  Uses
    concat-and-split semantics (the standard GPT-style packing): all
    chunks, in deterministic (doc_col, idx_col) order, form one
    conceptual token stream; training sequence s owns stream positions
    [s*seq_len, (s+1)*seq_len), and a chunk straddling a boundary is
    split across the adjacent sequences (zero padding waste — greedy
    bin-packing wastes up to chunk_size-1 tokens per sequence and its
    bin state cannot be computed without a serial fold).

    Returns one row per (chunk x sequence) overlap:
      (doc_col, idx_col, seq_id, tok_begin, tok_end, seq_pos) —
    [tok_begin, tok_end) is the chunk-local token slice landing in
    seq_id at in-sequence offset seq_pos.

    Scale: only (doc, idx, n_tokens) triples flow through the math
    (never chunk text; join text back by key afterwards); the stream
    offsets are `_prefix_before` over the (doc_col, idx_col) order."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    # optional ppm calibration of each chunk's count BEFORE packing:
    # with token_scale set, seq_len and all emitted positions are in
    # calibrated (target-tokenizer-estimate) units
    slim = (chunks
            .select(F.col(doc_col), F.col(idx_col),
                    apply_token_scale(F.col(ntok_col).cast("long"),
                                      token_scale).alias("__n"))
            .filter(F.col("__n") > 0))
    joined, _ = _prefix_before(slim, [doc_col, idx_col], weight="__n")
    gstart = F.col("__before")
    # integer `div`, NOT `/`: dividing longs with `/` goes through
    # double, which silently mis-assigns boundaries once the total
    # stream exceeds 2^53 tokens — inside the 10^12-doc design scale
    first = F.expr(f"__before div {int(seq_len)}")
    last = F.expr(f"(__before + __n - 1) div {int(seq_len)}")
    pieces = F.transform(F.sequence(first, last), lambda s: F.struct(
        s.cast("long").alias("seq_id"),
        (F.greatest(gstart, s * seq_len) - gstart).cast("long")
        .alias("tok_begin"),
        (F.least(gstart + F.col("__n"), (s + 1) * seq_len) - gstart)
        .cast("long").alias("tok_end"),
        (F.greatest(gstart, s * seq_len) - s * seq_len).cast("long")
        .alias("seq_pos")))
    return joined.select(F.col(doc_col), F.col(idx_col),
                         F.inline(pieces))


def assemble_sequences(chunks, seq_len: int = 256,
                       doc_col: str = "doc_id",
                       idx_col: str = "chunk_idx",
                       ntok_col: str = "n_tokens",
                       text_col: str = "chunk_text"):
    """Materialize the TRAINING ROWS: `pack_sequences` piece layout
    joined back to the chunk text, token-sliced, and assembled into
    one row per fixed-length sequence — (seq_id, n_tokens, seq_text).
    Every sequence except the last has exactly seq_len tokens; a
    chunk's text is split at the sequence boundary exactly where the
    packing math put it.

    Scale: the packing math runs on (doc, idx, n) triples only (see
    pack_sequences); text joins back by (doc, idx) key — one shuffle
    of the chunk text, sized by the corpus, not by pair counts.  The
    final assembly is a groupBy(seq_id) whose groups are bounded by
    seq_len tokens.

    The pruned chunk table is localCheckpointed ONCE at entry: the
    packing math (via pack_sequences' internal materialization) and
    the text join otherwise each re-execute the whole upstream chunk
    construction (round-7 interleaved A/B: 1.60 s -> 1.47 s median on
    the sf0.1 packed_sequences shape; a wash within weather on the
    training_batches capstone, whose upstream is already checkpoint-
    fed).  Executor-storage cost is the chunk table itself — the same
    bytes the text join already shuffles."""
    chunks = chunks.select(doc_col, idx_col, ntok_col, text_col) \
        .localCheckpoint()
    pieces = pack_sequences(chunks, seq_len, doc_col, idx_col, ntok_col)
    withtext = pieces.join(
        chunks.select(doc_col, idx_col, text_col), [doc_col, idx_col])
    toks = F.split(F.col(text_col), " ")
    piece_text = F.array_join(
        F.slice(toks, (F.col("tok_begin") + 1).cast("int"),
                (F.col("tok_end") - F.col("tok_begin")).cast("int")), " ")
    placed = withtext.select(
        F.col("seq_id"),
        F.struct(F.col("seq_pos"), piece_text.alias("t")).alias("__p"),
        (F.col("tok_end") - F.col("tok_begin")).alias("__n"))
    return (placed.groupBy("seq_id")
            .agg(F.sum("__n").cast("long").alias("n_tokens"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list("__p")),
                                 lambda s: s["t"]), " ")
                 .alias("seq_text")))


def length_bucketed_batches(rows, batch_max_tokens: int,
                            id_col: str = "doc_id",
                            ntok_col: str = "n_tokens",
                            salt: str = "bucket"):
    """Length-bucketed fixed-shape batching — the padding-efficiency
    twin of `pack_sequences` for models that CANNOT pack (encoder
    batches, reward scoring, static-shape compilers): rows are
    grouped by ceil-power-of-two token length and batched within
    their bucket, so every batch pads to one static shape and the
    waste is bounded by <2x instead of max_len/mean_len.

    bucket_len   = smallest power of two >= n_tokens,
    batch_rows   = max(1, batch_max_tokens div bucket_len)
                   (rows per batch; a row longer than the budget
                   still forms singleton batches),
    batch_idx    = per-bucket dense batch number in deterministic
                   md5(salt || ':' || id) order — same assignment on
                   any cluster, partitioning, or retry.

    Returns (id_col, n_tokens, bucket_len, batch_idx, pad_tokens)
    with pad_tokens = bucket_len - n_tokens (the per-row padding the
    static shape costs).  Rows with n_tokens <= 0 are dropped (empty
    rows batch nothing).

    Scale: only (id, n_tokens, bucket, hash) tuples flow through the
    rank math — a per-bucket `_prefix_before` count, so no bucket ever
    becomes a SinglePartition window."""
    if not (isinstance(batch_max_tokens, int) and batch_max_tokens >= 1):
        raise ValueError(
            f"batch_max_tokens must be an int >= 1, got {batch_max_tokens!r}")
    n = F.col(ntok_col).cast("long")
    # ceil power of two via bit length: 2^len(bin(n-1)) for n >= 2
    # (SQL expr: shiftleft's PySpark wrapper only takes literal shifts)
    bucket = F.expr("case when __n <= 1 then cast(1 as bigint) "
                    "else cast(shiftleft(cast(1 as bigint), "
                    "length(bin(__n - 1))) as bigint) end")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    slim = (rows.select(F.col(id_col), n.alias("__n"))
            .filter(F.col("__n") > 0)
            .select(F.col(id_col), F.col("__n"),
                    bucket.alias("__b"), h.alias("__h")))
    joined, _ = _prefix_before(slim, ["__h", id_col], group_col="__b")
    batch_rows = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"{int(batch_max_tokens)} div __b"))
    return joined.select(
        F.col(id_col), F.col("__n").alias(ntok_col),
        F.col("__b").alias("bucket_len"),
        F.col("__before").alias("__rk"),
        (F.col("__b") - F.col("__n")).cast("long").alias("pad_tokens"),
        batch_rows.alias("__br")) \
        .select(F.col(id_col), F.col(ntok_col), F.col("bucket_len"),
                F.expr("__rk div __br").cast("long").alias("batch_idx"),
                F.col("pad_tokens"))


def char_grams_md5(text: Column | str, k: int = 8) -> Column:
    """md5 of every k-char gram of the raw text (rolling-hash analogue)."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.md5(F.substring(c, i.cast("int"), F.lit(k))))) \
        .otherwise(F.array().cast("array<string>"))


def epoch_order(rows, epoch: int, id_col: str = "seq_id",
                salt: str = "epoch"):
    """Deterministic per-epoch training order: assigns every row a
    dense global rank [0, n) in md5(salt || epoch || id) order — the
    "reshuffle the corpus each epoch" step of a training pipeline,
    with properties a distributed run needs:

    - deterministic: same rows + epoch -> the same permutation on any
      cluster, any partitioning, any retry (resumable mid-epoch by
      rank range, no RNG state);
    - independent across epochs: the hash reseeds per epoch, so epoch
      k+1's order is uncorrelated with epoch k's;
    - scale: the rank math touches only (id, hash) pairs — callers
      join the rank back by id, so row payloads never flow through
      the ordering; the rank is a `_prefix_before` count.

    Returns (id_col, epoch_rank).
    """
    h = F.md5(F.concat(F.lit(f"{salt}{int(epoch)}:"),
                       F.col(id_col).cast("string")))
    slim = rows.select(F.col(id_col), h.alias("__h"))
    ranked, _ = _prefix_before(slim, ["__h", id_col])
    return ranked.select(F.col(id_col),
                         F.col("__before").alias("epoch_rank"))
