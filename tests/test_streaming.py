"""Structured Streaming incremental extraction (availableNow trigger)."""

import shutil

import pytest

from batukh_spark.corpus import make_transcripts
from batukh_spark.streaming.incremental import incremental_extract


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("src", "out", "ckpt")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_incremental_extract_catches_up_and_resumes(spark, dirs):
    df1 = make_transcripts(spark, 20, partitions=3)
    df1.write.parquet(dirs["src"])
    n1 = df1.count()

    q = incremental_extract(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    assert not q.isActive
    out1 = spark.read.parquet(dirs["out"])
    assert out1.count() == n1
    assert "extracted_text" in out1.columns

    # new files arrive; a resumed stream processes ONLY them (streaming
    # checkpoint = the manifest analogue, exactly-once per file)
    extra = make_transcripts(spark, 10, seed=43, partitions=2)
    extra.write.mode("append").parquet(dirs["src"])
    n2 = extra.count()
    q2 = incremental_extract(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q2.awaitTermination(120)
    spark.catalog.refreshByPath(dirs["out"])
    assert spark.read.parquet(dirs["out"]).count() == n1 + n2


def test_windowed_turn_counts_with_watermark(spark, dirs):
    from batukh_spark.streaming.incremental import windowed_turn_counts
    make_transcripts(spark, 15, partitions=2).write.parquet(dirs["src"])
    agg = windowed_turn_counts(spark, dirs["src"])
    q = (agg.writeStream.format("memory").queryName("wtc")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from wtc").collect()
    assert rows
    total = sum(r.n_turns for r in rows)
    assert total == spark.read.parquet(dirs["src"]).count()
    roles = {r.role for r in rows}
    assert "user" in roles and "assistant" in roles
    assert all(r.w.start is not None for r in rows)


def test_streaming_exact_dedup_matches_batch(spark, dirs):
    """Streaming dedup keeps exactly one row per canonical-text hash,
    matching the batch exact_dedup group count."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.dedup import canonical_text
    from batukh_spark.streaming.incremental import streaming_exact_dedup

    src = make_transcripts(spark, 15, partitions=2)
    src.write.parquet(dirs["src"])
    q = (streaming_exact_dedup(spark, dirs["src"])
         .writeStream.format("memory").queryName("sed")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select text_hash from sed").collect()
    hashes = [r.text_hash for r in rows]
    assert len(hashes) == len(set(hashes))  # one survivor per hash
    n_distinct = (src.select(F.md5(canonical_text(F.col("text"))))
                  .distinct().count())
    assert len(hashes) == n_distinct        # same groups as batch dedup


def test_conv_progress_stateful(spark, dirs):
    from batukh_spark.streaming.incremental import conv_progress_stateful
    src = make_transcripts(spark, 12, partitions=2)
    src.write.parquet(dirs["src"])
    q = (conv_progress_stateful(spark, dirs["src"])
         .writeStream.format("memory").queryName("cps")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # latest state row per conversation must equal the batch ground truth
    got = {}
    for r in spark.sql("select * from cps").collect():
        got[r.conv_id] = (r.n_turns, r.last_turn_idx, r.n_tool_turns)
    from pyspark.sql import functions as F
    want = {r.conv_id: (r.n, r.last, r.tools)
            for r in src.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.max("turn_idx").alias("last"),
                F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
                .cast("long").alias("tools")).collect()}
    assert got == want


def test_streaming_store_dedup_flags_history(spark, dirs, tmp_path):
    """Stream-static join against the persisted signature store: rows
    whose canonical text already exists in run N's store are flagged,
    brand-new rows are not — the streaming twin of incremental
    cross-run dedup (exact path)."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.dedup import build_signature_store
    from batukh_spark.streaming.incremental import streaming_store_dedup

    hist = make_transcripts(spark, 10, partitions=2)
    store = str(tmp_path / "store")
    build_signature_store(
        hist.selectExpr("conv_id as doc_id", "text"), store)
    # stream = 6 historical conversations re-arriving + 8 new ones
    seen = make_transcripts(spark, 6, partitions=1)
    new = make_transcripts(spark, 18, partitions=1) \
        .filter("cast(substr(conv_id, 6) as int) >= 10")
    seen.unionByName(new).write.parquet(dirs["src"])
    q = (streaming_store_dedup(spark, dirs["src"], store)
         .writeStream.format("memory").queryName("ssd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select conv_id, is_dup_of_history from ssd")
    agg = {r.conv_id: r.dup for r in
           got.groupBy("conv_id")
           .agg(F.max("is_dup_of_history").alias("dup")).collect()}
    for cid, dup in agg.items():
        idx = int(cid.split("-")[-1])
        assert dup == (idx < 10), (cid, dup)


def test_streaming_store_keep_set_matches_batch(spark, dirs, tmp_path):
    """The full streaming twin must assign EXACTLY the verdicts the
    batch `incremental_keep_set` assigns to the same arriving rows
    against the same signature store: exact_dup for canonical-text
    hash hits, near_dup for band-colliding + signature-verified
    neighbors, unique otherwise."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.dedup import (build_signature_store,
                                              incremental_keep_set)
    from batukh_spark.streaming.incremental import streaming_store_keep_set

    hist = make_transcripts(spark, 10, partitions=2) \
        .selectExpr("conv_id || '#' || turn_idx as doc_id", "text")
    store = str(tmp_path / "store")
    build_signature_store(hist, store)

    # arriving rows: re-arrivals (exact), one-token perturbations of
    # history (near candidates), and brand-new conversations (unique)
    seen = make_transcripts(spark, 4, partitions=1)
    perturbed = (make_transcripts(spark, 8, partitions=1)
                 .filter("cast(substr(conv_id, 6) as int) between 4 and 7")
                 .withColumn("text", F.concat(F.col("text"),
                                              F.lit(" zzzperturb"))))
    new = make_transcripts(spark, 16, partitions=1) \
        .filter("cast(substr(conv_id, 6) as int) >= 10")
    arriving = seen.unionByName(perturbed).unionByName(new)
    arriving.write.parquet(dirs["src"])

    q = (streaming_store_keep_set(spark, dirs["src"], store)
         .writeStream.format("memory").queryName("sks")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.k: (r.keep, r.reason) for r in spark.sql(
        "select conv_id || '#' || turn_idx as k, keep, reason "
        "from sks").collect()}

    batch = incremental_keep_set(
        spark,
        spark.read.parquet(dirs["src"])
        .selectExpr("conv_id || '#' || turn_idx as doc_id", "text"),
        store)
    want = {r.doc_id: (r.keep, r.reason) for r in batch.collect()}
    assert got == want
    reasons = {v[1] for v in want.values()}
    # the fixture must actually exercise every verdict class
    assert reasons == {"exact_dup", "near_dup", "unique"}, reasons


def test_streaming_decontaminate_matches_batch(spark, dirs, tmp_path):
    """foreachBatch decontamination must assign the batch operator's
    exact per-row (contaminated, n_hits) against the same benchmark:
    re-arrivals of benchmark text flagged, clean rows zero."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.decontam import decontaminate
    from batukh_spark.streaming.incremental import streaming_decontaminate

    arriving = make_transcripts(spark, 12, partitions=2)
    arriving.write.parquet(dirs["src"])
    # benchmark = the longest-text turns of 3 conversations
    bench = (arriving
             .filter("cast(substr(conv_id, 6) as int) < 3")
             .filter(F.length("text") >= 120)
             .select("text"))

    out_dir = str(tmp_path / "decontam_out")
    q = streaming_decontaminate(spark, dirs["src"], bench, out_dir,
                                dirs["ckpt"])
    q.awaitTermination(120)
    assert not q.isActive

    got = {(r.conv_id, r.turn_idx): (r.contaminated, r.n_hits)
           for r in spark.read.parquet(out_dir).collect()}
    batch = decontaminate(
        spark.read.parquet(dirs["src"])
        .selectExpr("conv_id || '#' || turn_idx as doc_id", "text",
                    "conv_id", "turn_idx"),
        bench, id_col="doc_id")
    keys = spark.read.parquet(dirs["src"]) \
        .selectExpr("conv_id || '#' || turn_idx as doc_id",
                    "conv_id", "turn_idx")
    want = {(r.conv_id, r.turn_idx): (r.contaminated, r.n_hits)
            for r in batch.join(keys, "doc_id").collect()}
    assert got == want
    flags = {v[0] for v in want.values()}
    assert flags == {True, False}      # fixture exercises both classes


def test_streaming_decontaminate_leaves_no_cache(spark, dirs, tmp_path):
    """The benchmark gram set is cut with `session.materialize` (a
    local checkpoint), not a cache: once the query stops, every
    persisted RDD it added is a checkpoint."""
    from batukh_spark.streaming.incremental import streaming_decontaminate

    sc = spark.sparkContext

    def cached():
        return {i for i, r in sc._jsc.getPersistentRDDs().items()
                if not r.rdd().isCheckpointed()}

    arriving = make_transcripts(spark, 6, partitions=1)
    arriving.write.parquet(dirs["src"])
    before = cached()
    q = streaming_decontaminate(spark, dirs["src"],
                                arriving.limit(4).select("text"),
                                str(tmp_path / "decontam_out"), dirs["ckpt"])
    q.awaitTermination(120)
    assert not q.isActive
    assert cached() <= before


def test_streaming_conversation_docs_matches_batch(spark, dirs):
    """The running assembler's FINAL update per conversation must be
    byte-identical to the batch assemble_conversations over the same
    extracted turns, even with conversations spanning micro-batches
    and out-of-order arrival (partitioned writes interleave turns)."""
    from batukh_spark import kernels
    from batukh_spark.operators.conversations import assemble_conversations
    from batukh_spark.streaming.incremental import (
        streaming_conversation_docs)

    make_transcripts(spark, 30, partitions=20).write.parquet(dirs["src"])

    q = (streaming_conversation_docs(spark, dirs["src"])
         .writeStream.format("memory").queryName("convdocs")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    # memory sink accumulates every update; the final state per conv
    # is the row with the highest n_turns
    rows = spark.sql(
        "select * from (select *, row_number() over "
        "(partition by conv_id order by n_turns desc) rn from convdocs) "
        "where rn = 1").collect()
    got = {r.conv_id: (r.n_turns, r.n_bytes, r.doc_text) for r in rows}

    batch_ext = kernels.extract_turns(spark.read.parquet(dirs["src"]))
    want = {r.conv_id: (r.n_turns, r.n_bytes, r.doc_text)
            for r in assemble_conversations(batch_ext).collect()}
    assert got == want


def test_streaming_oov_monitor_matches_batch(spark, dirs):
    """Stream OOV windows == the same computation done in batch on the
    same files; vocabulary misses count, empty turns don't."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.text import tokens_col
    from batukh_spark.operators.textstats import build_vocab
    from batukh_spark.streaming.incremental import streaming_oov_monitor

    df = make_transcripts(spark, 30, partitions=4)
    df.write.parquet(dirs["src"])
    # vocab = top tokens of HALF the corpus, so real OOV mass exists
    half = df.filter(F.col("turn_idx") % 2 == 0) \
        .select(F.col("text"))
    vocab = build_vocab(half.withColumn("doc_id", F.lit(0)), 80)
    vocab_pdf = vocab.collect()
    vocab_static = spark.createDataFrame(vocab_pdf, vocab.schema)

    agg = streaming_oov_monitor(spark, dirs["src"], vocab_static,
                                window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("oovm")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.w: (r.n_tokens, r.n_oov, r.oov_ppm)
           for r in spark.sql("select * from oovm").collect()}

    vtokens = {r.token for r in vocab_pdf}
    batch = (spark.read.parquet(dirs["src"])
             .select("ts", F.explode(tokens_col("text")).alias("token"))
             .groupBy(F.window("ts", "1 hour").alias("w"))
             .agg(F.count(F.lit(1)).alias("nt"),
                  F.sum(F.when(~F.col("token").isin(vtokens), 1)
                        .otherwise(0)).alias("no"))
             .collect())
    want = {r.w: (r.nt, r.no, r.no * 1000000 // r.nt) for r in batch}
    assert got == want
    assert sum(no for _, no, _ in got.values()) > 0      # real OOV mass
    assert len(got) > 1                                  # several windows


def test_streaming_embedding_keep_set_matches_batch(spark, dirs, tmp_path):
    """The streaming SemDeDup twin must assign EXACTLY the verdicts
    the batch incremental_embedding_keep_set assigns to the same
    arriving vectors against the same persisted store: exact_dup for
    quantized-identity hits, near_dup for band-colliding +
    cosine-verified neighbours, unique otherwise."""
    from pyspark.sql import functions as F

    from batukh_spark.operators.similarity import (
        build_embedding_store, incremental_embedding_keep_set)
    from batukh_spark.streaming.incremental import (
        streaming_embedding_keep_set)

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    hist = emb.filter(F.col("vec_id") < 80)
    store = str(tmp_path / "embstore")
    build_embedding_store(hist, store)

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    vid = F.col("vec_id")
    copies = base.filter(vid < 10).select(
        (vid + 1000).alias("vec_id"), "e")
    twins = (base.filter((vid >= 10) & (vid < 20))
             .select((vid + 2000).alias("vec_id"),
                     F.transform("e", lambda x: x * 1.00005).alias("e")))
    fresh = base.filter((vid >= 80) & (vid < 100))
    arriving = (copies.unionByName(twins).unionByName(fresh)
                .select("vec_id",
                        F.col("e").cast("array<float>")
                        .alias("embedding")))
    arriving.write.parquet(dirs["src"])

    q = (streaming_embedding_keep_set(spark, dirs["src"], store)
         .writeStream.format("memory").queryName("seks")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.vec_id: (r.keep, r.reason) for r in spark.sql(
        "select * from seks").collect()}

    batch = incremental_embedding_keep_set(
        spark, spark.read.parquet(dirs["src"]), store)
    want = {r.vec_id: (r.keep, r.reason) for r in batch.collect()}
    assert got == want
    reasons = {v[1] for v in want.values()}
    assert reasons == {"exact_dup", "near_dup", "unique"}
    # the uniformly-scaled twins have cosine exactly 1.0 with their
    # source but a DIFFERENT quantized hash -> near_dup, never exact
    assert all(want[2000 + i][1] == "near_dup" for i in range(10, 20))
