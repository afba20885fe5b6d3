"""Incremental extraction via Structured Streaming.

The north rule specifies a batch job (SURVEY §2.6: no watermark/streaming
semantics required), but the same fused kernel runs unchanged as a
Structured Streaming sink for continuously-arriving transcript files:
`readStream` file source -> mapInArrow kernel -> parquet sink with
checkpointing.  Trigger.AvailableNow gives catch-up-then-stop batch
semantics; a long-lived trigger turns it into a tailing ingest.

This is the streaming twin of the files-mode pipeline: the streaming
checkpoint (source offsets = processed files) plays the role of the
manifest, managed by Spark itself.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from batukh_spark import kernels
from batukh_spark.schema import TRANSCRIPTS_SCHEMA


def incremental_extract(spark: SparkSession, source_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        available_now: bool = True):
    """Start (or resume) an incremental extraction stream.

    Returns the StreamingQuery; callers `query.awaitTermination()`.
    Exactly-once per input file via the streaming checkpoint — the
    Spark-managed equivalent of our manifest resume (S11/S13).
    """
    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", "64")
              .parquet(source_dir))
    extracted = kernels.extract_turns(stream)
    writer = (extracted.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_turn_counts(spark: SparkSession, source_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours"):
    """Event-time windowed turn counts per role with late-data handling.

    `withWatermark` bounds state: rows later than `watermark` behind the
    max event time are dropped and windows older than that are finalized
    and evicted — the standard Structured Streaming late-data contract.
    Returns an unstarted streaming DataFrame (caller picks the sink)."""
    from pyspark.sql import functions as F
    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(source_dir))
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "role")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.sum(F.length("text")).alias("n_chars")))


def streaming_exact_dedup(spark: SparkSession, source_dir: str,
                          watermark: str = "2 hours"):
    """Streaming twin of `operators.dedup.exact_dedup`: keep the first
    arrival per canonical-text hash, with dedup STATE BOUNDED by the
    event-time watermark (`dropDuplicatesWithinWatermark` evicts a
    hash once the watermark passes its event time).  At 10^12-turn
    ingest the state size tracks the late-data horizon, not the corpus
    — the property that makes streaming dedup deployable at all.

    Returns an unstarted streaming DataFrame (caller picks the sink).
    """
    from pyspark.sql import functions as F

    from batukh_spark.operators.dedup import canonical_text

    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(source_dir))
    hashed = stream.withColumn(
        "text_hash", F.md5(canonical_text(F.col("text"))))
    return (hashed
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def streaming_store_dedup(spark: SparkSession, source_dir: str,
                          store_dir: str):
    """Streaming twin of `operators.dedup.incremental_keep_set`'s
    exact path: continuously-arriving transcripts are flagged against
    the PERSISTED signature store of previous runs via a stream-static
    left join on the canonical-text hash — the production-crawler
    shape, where new data is checked against all history without ever
    rescanning it.

    Stateless (no watermark needed): the static side is the store's
    (text_hash) table.  The store SNAPSHOT IS FIXED at stream
    construction — `spark.read.parquet` resolves the file listing when
    the DataFrame is created, so an in-place overwrite of the store
    while the query runs is at best invisible and at worst a
    FileNotFoundException when the listed files disappear.  To pick up
    a refreshed store, restart the query (cheap: the stream checkpoint
    carries the offsets) or drive the join inside `foreachBatch`,
    re-reading the store path per batch.  Never overwrite the store
    in place under a running query.
    Output = input rows + (text_hash, is_dup_of_history).  Compose with
    `streaming_exact_dedup` upstream to also dedup WITHIN the stream.

    Returns an unstarted streaming DataFrame (caller picks the sink).
    """
    from pyspark.sql import functions as F

    from batukh_spark.operators.dedup import canonical_text

    store = (spark.read.parquet(f"{store_dir}/exact")
             .select("text_hash", F.lit(True).alias("__hit")))
    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(source_dir))
    hashed = stream.withColumn(
        "text_hash", F.md5(canonical_text(F.col("text"))))
    return (hashed.join(store, "text_hash", "left")
            .withColumn("is_dup_of_history",
                        F.coalesce(F.col("__hit"), F.lit(False)))
            .drop("__hit"))


def _probe_bands(df, bands, items, id_col: str, item: str, key: str,
                 keys: list):
    """Stream-static probe of a persisted band store: `bands` is the
    store's (id, band_id, key) table and `items` its (id, item) table.
    Band b of `keys` is ONE left join against the store's
    (band_id, key) -> list<item> buckets, so a stream row stays one
    row (no stream-side distinct or aggregation, which append-mode
    stream-static joins disallow).  Returns the joined frame and the
    Column of every collided item."""
    from pyspark.sql import functions as F

    buckets = (bands.join(items, id_col)
               .groupBy("band_id", key)
               .agg(F.collect_list(item).alias("__cands")))
    for b, k in enumerate(keys):
        bk = (buckets.filter(F.col("band_id") == b)
              .select(F.col(key).alias(f"__key{b}"),
                      F.col("__cands").alias(f"__cands{b}")))
        df = df.withColumn(f"__key{b}", k).join(bk, f"__key{b}", "left")
    item_type = items.schema[item].dataType.simpleString()
    empty = F.array().cast(f"array<{item_type}>")
    return df, F.concat(*[F.coalesce(F.col(f"__cands{b}"), empty)
                          for b in range(len(keys))])


def streaming_store_keep_set(spark: SparkSession, source_dir: str,
                             store_dir: str, min_sig_agree: int = 8):
    """Full streaming twin of `operators.dedup.incremental_keep_set`:
    every arriving row gets the same (keep, reason) verdict the batch
    operator would assign against the persisted signature store —
    exact_dup (canonical-text md5 in the store), near_dup (shares a
    minhash band bucket with a stored doc AND >= min_sig_agree of the
    16 signature positions agree), else unique.  Precedence
    exact_dup > near_dup, identical to the batch operator.

    Shape constraints of streaming drive the plan:
      - the row's 16-slot minhash signature is computed SCAN-LOCAL as
        array_min over transformed shingles (the batch operator's
        explode->groupBy shape is a streaming aggregation, which
        append-mode stream-static joins disallow).  Higher-order-
        function lambdas are interpreted rather than codegen'd — the
        documented cost of the streaming twin, paid per arriving row,
        not per corpus;
      - band matching is ONE stream-static left join per band (band
        count is a 4-way literal fan-out, not data-dependent): the
        static side is the store's bands joined to its sigs and
        grouped into (band_id, band_hash) -> list<sig> buckets, so a
        stream row stays ONE row through every join (no stream-side
        distinct / aggregation needed);
      - signature verification is an `exists` over the collided
        buckets' signature lists — candidates only, like the batch.

    Caveats: bucket signature lists are unbounded for pathological hot
    buckets (the batch path's hot-bucket guard applies at store-build
    time); the store snapshot is FIXED at stream construction (see
    `streaming_store_dedup`).  Verdicts are pinned test-equal to
    `incremental_keep_set` on the same arriving files.

    Returns an unstarted streaming DataFrame: input rows +
    (text_hash, keep, reason)."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.dedup import (N_HASHES, _md5_band_keys,
                                              _verdict, canonical_text)
    from batukh_spark.operators.text import tokens_col, word_shingles

    exact_store = (spark.read.parquet(f"{store_dir}/exact")
                   .select("text_hash")
                   .withColumn("__exact", F.lit(True)))

    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(source_dir))
    df = (stream
          .withColumn("text_hash",
                      F.md5(canonical_text(F.col("text"))))
          .withColumn("__tk", tokens_col("text"))
          .withColumn("__sh", word_shingles(F.col("__tk")))
          .drop("__tk"))
    # identical hash family to minhash_signature: min md5("s:" || gram)
    # (one-arg lambda per slot: a two-arg lambda would make transform
    # pass the ELEMENT INDEX as the second argument)
    def _slot_min(s: int):
        prefix = f"{s}:"
        return F.array_min(F.transform(
            F.col("__sh"), lambda g: F.md5(F.concat(F.lit(prefix), g))))

    df = df.withColumn("__sig",
                       F.array(*[_slot_min(s) for s in range(N_HASHES)]))
    df, all_cands = _probe_bands(
        df, spark.read.parquet(f"{store_dir}/bands"),
        spark.read.parquet(f"{store_dir}/sigs"), "doc_id", "sig",
        "band_hash", _md5_band_keys(F.col("__sig")))
    agree = lambda c: F.size(F.filter(          # noqa: E731
        F.zip_with(F.col("__sig"), c, lambda x, y: x == y),
        lambda m: m))
    near = ((F.size(F.col("__sh")) > 0)
            & F.exists(all_cands, lambda c: agree(c) >= min_sig_agree))
    df = df.join(exact_store, "text_hash", "left")
    return df.select(*stream.columns, "text_hash",
                     *_verdict(F.col("__exact"), near))


def streaming_decontaminate(spark: SparkSession, source_dir: str,
                            benchmark, output_dir: str,
                            checkpoint_dir: str, n: int = 13,
                            available_now: bool = True):
    """Streaming twin of `operators.decontam.decontaminate`: arriving
    transcript rows are flagged against a STATIC eval-benchmark n-gram
    set and written with (contaminated, n_hits) columns — the
    crawler-side gate that keeps eval overlap out of a continuously
    ingested corpus.

    Implemented with `foreachBatch`: the per-doc hit COUNT needs an
    aggregation after the gram join, which append-mode stream-static
    joins disallow — foreachBatch runs batch logic on each micro-batch
    instead (the standard escape hatch).  The doc grams come from the
    batch operator's own derivation (`decontam.doc_grams`), and the
    hit count is the same broadcast join + per-doc count, so stream
    verdicts match `decontaminate` (pinned by the twin test).  The
    benchmark gram set is computed once and persisted; each
    micro-batch reuses the broadcast.

    Each row is treated as its own document keyed by
    (conv_id, turn_idx).  Exactly-once per input file via the stream
    checkpoint; the parquet appends inside foreachBatch are
    idempotent at file granularity only if the query is not restarted
    mid-batch with a different batch decomposition — for stronger
    sinks use the Delta/Iceberg branch of `write_extracted`.

    Returns the STARTED StreamingQuery."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.decontam import benchmark_ngrams, doc_grams

    bgrams = benchmark_ngrams(benchmark, n).persist()
    bgrams.count()      # materialize once, before the stream starts

    def _process(batch_df, _batch_id):
        keyed = batch_df.withColumn(
            "__doc", F.concat_ws("#", F.col("conv_id"),
                                 F.col("turn_idx").cast("string")))
        hits = (doc_grams(keyed, ["__doc"], n)
                .join(F.broadcast(bgrams), "gram_hash")
                .groupBy("__doc")
                .agg(F.count(F.lit(1)).alias("__n_hits")))
        out = (keyed.join(hits, "__doc", "left")
               .withColumn("n_hits",
                           F.coalesce(F.col("__n_hits"), F.lit(0))
                           .cast("long"))
               .withColumn("contaminated", F.col("n_hits") > 0)
               .drop("__doc", "__n_hits"))
        out.write.mode("append").parquet(output_dir)

    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", "64")
              .parquet(source_dir))
    writer = (stream.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# output schema of the stateful conversation assembler
CONV_STATE_SCHEMA = ("conv_id string, n_turns long, last_turn_idx int, "
                     "n_tool_turns long")
_CONV_STATE_TYPES = "n_turns long, last_turn_idx int, n_tool_turns long"


def conv_progress_stateful(spark: SparkSession, source_dir: str):
    """Custom stateful operator via applyInPandasWithState: running
    per-conversation progress (turn count, max turn_idx, tool-turn
    count) maintained across micro-batches in GroupState — the
    streaming analogue of the reference's incremental per-epoch
    counters (torch segmenter train loop, segmenter.py:107-133).

    State is one tiny tuple per conversation; a processing-time timeout
    would evict idle conversations in a long-lived deployment."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, last, tools = (state.get if state.exists else (0, -1, 0))
        for pdf in pdfs:
            n += len(pdf)
            last = max(last, int(pdf["turn_idx"].max()))
            tools += int((pdf["role"] == "tool").sum())
        state.update((n, last, tools))
        import pandas as _pd
        yield _pd.DataFrame([{"conv_id": key[0], "n_turns": n,
                              "last_turn_idx": last, "n_tool_turns": tools}])

    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(source_dir))
    return (stream.groupBy("conv_id")
            .applyInPandasWithState(
                update,
                outputStructType=CONV_STATE_SCHEMA,
                stateStructType=_CONV_STATE_TYPES,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# output schema of the running conversation assembler
CONV_DOC_SCHEMA = ("conv_id string, n_turns long, n_bytes long, "
                   "doc_text string")
_CONV_DOC_STATE = "idxs array<int>, pieces array<string>"


def streaming_conversation_docs(spark: SparkSession, source_dir: str):
    """Streaming twin of operators/conversations.assemble_conversations:
    turns stream in (extracted in-stream by the same fused kernel),
    and each conversation's role-tagged training document is
    re-assembled as an UPDATE every time new turns for it arrive —
    the running-document shape a live transcript ingest needs.  The
    final update per conversation is byte-identical to the batch
    operator over the same rows (the twin test pins it).

    State per conversation is the (turn_idx, piece) buffer — bounded
    by one conversation's extracted bytes, same bound as the batch
    groupBy; a processing-time timeout would evict idle conversations
    in a long-lived deployment.  Ordering replays the batch rule
    exactly: sort by (turn_idx, piece) — so out-of-order and
    cross-batch arrival cannot change the final document."""
    import pandas as pd  # noqa: F401 (worker-side import check)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as _pd
        idxs, pieces = (state.get if state.exists else ([], []))
        idxs, pieces = list(idxs), list(pieces)
        for pdf in pdfs:
            for t, r, x in zip(pdf["turn_idx"], pdf["role"],
                               pdf["extracted_text"]):
                r = "" if r is None or (isinstance(r, float)) else str(r)
                x = "" if x is None or (isinstance(x, float)) else str(x)
                idxs.append(int(t))
                pieces.append(f"<|{r}|>\n{x}")
        state.update((idxs, pieces))
        order = sorted(range(len(idxs)),
                       key=lambda i: (idxs[i], pieces[i]))
        doc = "\n\n".join(pieces[i] for i in order)
        yield _pd.DataFrame([{
            "conv_id": key[0], "n_turns": len(idxs),
            "n_bytes": len(doc.encode("utf-8")), "doc_text": doc}])

    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              # small trigger batches so conversations genuinely span
              # micro-batches and the state buffer is exercised
              .option("maxFilesPerTrigger", "8")
              .parquet(source_dir))
    extracted = kernels.extract_turns(stream)
    return (extracted
            .select("conv_id", "turn_idx", "role", "extracted_text")
            .groupBy("conv_id")
            .applyInPandasWithState(
                update,
                outputStructType=CONV_DOC_SCHEMA,
                stateStructType=_CONV_DOC_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def streaming_oov_monitor(spark: SparkSession, source_dir: str,
                          vocab, window: str = "1 hour",
                          watermark: str = "2 hours"):
    """Ingestion data-quality monitor: per event-time window, token
    and out-of-vocabulary counts against a STATIC vocab — the
    streaming twin of `textstats.vocab_coverage` at monitor
    granularity.  An OOV-ppm spike in a window is the on-arrival
    alarm for wrong-language / mojibake / format-drift data, caught
    before it enters the corpus instead of at the next batch audit.

    `vocab` is a static DataFrame with a `token` column (a batch
    `build_vocab` output read back, or an external list).  Its
    snapshot is fixed at stream construction — the same contract as
    the dedup signature store; restart the query to pick up a new
    vocab.

    Returns an unstarted streaming DataFrame:
    (w, n_tokens, n_oov, oov_ppm) per window (token-less turns keep
    their window alive via explode_outer but add no tokens).

    Scale: tokens explode scan-local and die into the BROADCAST
    stream-static vocab join; the windowed aggregation sees only
    (window, counts) after map-side partials, and the watermark
    bounds state to the late-data horizon."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.text import tokens_col

    v = F.broadcast(vocab.select(F.col("token")).distinct()
                    .withColumn("__in", F.lit(1)))
    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(source_dir))
    toks = (stream
            .select("ts", F.col("conv_id"),
                    F.explode_outer(tokens_col("text")).alias("token"))
            .join(v, "token", "left"))
    agg = (toks
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"))
           .agg(F.count(F.lit(1)).alias("__rows"),
                F.sum(F.when(F.col("token").isNull(), 1).otherwise(0))
                .alias("__null_rows"),
                F.sum(F.when(F.col("token").isNotNull()
                             & F.col("__in").isNull(), 1).otherwise(0))
                .alias("n_oov")))
    n_tokens = F.col("__rows") - F.col("__null_rows")
    return agg.select(
        "w",
        n_tokens.cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.when(n_tokens > 0,
               F.expr("(n_oov * 1000000) div (__rows - __null_rows)"))
        .otherwise(F.lit(0)).cast("long").alias("oov_ppm"))


def streaming_embedding_keep_set(spark: SparkSession, source_dir: str,
                                 store_dir: str,
                                 threshold: float = 0.9,
                                 n_bits: int = 32, n_bands: int = 4,
                                 dim: int = 64):
    """Streaming twin of `similarity.incremental_embedding_keep_set`:
    every arriving (vec_id, embedding) row gets the same (keep,
    reason) verdict the batch operator assigns against the persisted
    `build_embedding_store` — exact_dup (quantized identity hash in
    the store), near_dup (shares an SRP band bucket with a stored
    vector AND exact cosine > threshold, rounded to 6), else unique;
    precedence exact_dup > near_dup.

    Streaming shape (mirrors `streaming_store_keep_set`):
      - the SRP signature is the batch operator's scan-local Arrow
        column (`srp_signature_col` — no aggregation to disallow);
      - band matching is ONE stream-static left join per band against
        the store's (band_id, band_sig) -> list<struct(id, e)> vector
        buckets, so a stream row stays ONE row end-to-end (no
        stream-side distinct);
      - cosine verification is an `exists` over the collided buckets'
        candidate vectors — interpreted per candidate, the documented
        streaming-twin cost, paid per arriving row on candidates only.

    Caveats: bucket vector lists are unbounded for pathological hot
    buckets (near-identical embedding floods — run the batch
    `embedding_keep_set` on history first so the store is already
    deduplicated); the store snapshot is FIXED at stream construction
    (see `streaming_store_dedup`).  Verdicts are pinned test-equal to
    the batch operator on the same arriving files.

    Returns an unstarted streaming DataFrame: (vec_id, keep, reason).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from batukh_spark.operators.dedup import _bit_band_keys, _verdict
    from batukh_spark.operators.similarity import (cosine,
                                                   srp_signature_col,
                                                   vec_hash)

    exact_store = (spark.read.parquet(f"{store_dir}/exact")
                   .select(F.col("vec_hash").alias("__vh"))
                   .withColumn("__exact", F.lit(True)))

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    stream = (spark.readStream.schema(schema).parquet(source_dir))
    df = (stream
          .withColumn("__vh", vec_hash(F.col("embedding")))
          .withColumn("__e",
                      F.col("embedding").cast("array<double>")))
    # the batch operator's Arrow SRP signature, so both bucket alike
    e = F.col("__e")
    df = df.withColumn("__sig", srp_signature_col(e, n_bits, dim))
    df, all_cands = _probe_bands(
        df, spark.read.parquet(f"{store_dir}/bands"),
        spark.read.parquet(f"{store_dir}/vecs"), "vec_id", "e",
        "band_sig", _bit_band_keys(F.col("__sig"), n_bits, n_bands))
    near = F.exists(all_cands,
                    lambda c: F.round(cosine(e, c), 6) > threshold)
    df = df.join(exact_store, "__vh", "left")
    return df.select(F.col("vec_id"), *_verdict(F.col("__exact"), near))
