"""spark-submit entry point (SURVEY §7 step 6).

Cluster usage:
    spark-submit --py-files batukh_spark.zip \
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \
        -m batukh_spark.cli --input cat.db.transcripts \
        --output cat.db.extracted --metrics cat.db.extract_manifest \
        --run-id r42 [--resume]

Local / sandbox usage (parquet fallback, synthesizes a corpus on demand):
    python -m batukh_spark.cli --synthesize 1000 --output /tmp/out \
        --metrics /tmp/metrics --parallelism 8

Training-data jobs (input = an extraction OUTPUT table; each extracted
turn becomes a document keyed conv_id#turn_idx):
    # dedup -> [decontaminate] -> quality/lang gate -> sample -> chunk
    python -m batukh_spark.cli --job mix --input /tmp/out \
        --output /tmp/mix --rates '{"en": 0.5}' [--benchmark eval.parquet]
    # ... -> packed fixed-length training rows (the dataloader artifact)
    python -m batukh_spark.cli --job batches --input /tmp/out \
        --output /tmp/batches --seq-len 256
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="batukh-spark")
    p.add_argument("--input", help="transcripts table ident, or parquet "
                                    "or JSONL path")
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N synthetic conversations instead of "
                        "--input (deterministic, seed=42)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True)
    p.add_argument("--metrics", default=None)
    p.add_argument("--run-id", default=None)
    p.add_argument("--n-units", type=int, default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--compact-manifest", type=int, default=None,
                   metavar="N",
                   help="after the run, keep only the newest N manifest "
                        "rows per unit (checkpoint retention, the "
                        "max_to_keep analogue)")
    p.add_argument("--parallelism", type=int, default=None,
                   help="local[N] cores (ignored on a real cluster)")
    p.add_argument("--job",
                   choices=["extract", "mix", "batches", "convdocs",
                            "sft", "audit", "semdedup", "embstore",
                            "annindex"],
                   default="extract",
                   help="extract (default) | mix (training-chunk rows "
                        "from an extraction output) | batches (packed "
                        "fixed-length training rows) | convdocs (one "
                        "role-tagged training document per conversation) "
                        "| semdedup (SemDeDup keep/drop verdicts over an "
                        "embeddings table: --input has vec_id + "
                        "embedding columns; with --store, incremental "
                        "against a persisted signature store) | "
                        "embstore (persist an embedding signature store "
                        "for later incremental runs) | annindex (train "
                        "and persist an IVF or IVF-PQ ANN index; --pq)")
    p.add_argument("--rates", default="{}",
                   help='JSON lang->sampling-rate for the mix, e.g. '
                        '\'{"en": 0.5}\'')
    p.add_argument("--default-rate", type=float, default=0.25)
    p.add_argument("--quality-min", type=float, default=0.45)
    p.add_argument("--max-tokens", type=int, default=64)
    p.add_argument("--overlap", type=int, default=8)
    p.add_argument("--seq-len", type=int, default=256)
    p.add_argument("--benchmark", default=None,
                   help="parquet/table of eval texts (column 'text'); "
                        "when given, the mix decontaminates against it")
    p.add_argument("--split-weights", default='{"train": 0.9, "val": 0.05, "test": 0.05}',
                   help="JSON split->weight for --job sft")
    p.add_argument("--dim", type=int, default=64,
                   help="embedding dimensionality for --job semdedup")
    p.add_argument("--threshold", type=float, default=0.9,
                   help="cosine near-dup threshold for --job semdedup")
    p.add_argument("--store", default=None,
                   help="persisted embedding signature store (--job "
                        "embstore output); makes --job semdedup "
                        "incremental: new vectors are deduped against "
                        "the store, not against each other")
    p.add_argument("--max-bucket", type=int, default=None,
                   help="--job semdedup: LSH hot-bucket guard — band "
                        "buckets with more members are excluded from "
                        "candidate generation (bounds per-probe work "
                        "at any corpus size; see "
                        "similarity.srp_candidate_pairs)")
    p.add_argument("--pq", action="store_true",
                   help="--job annindex: train the IVF-PQ index "
                        "(integer distance-table serving) instead of "
                        "plain IVF")
    p.add_argument("--keep-unknown-lang", action="store_true",
                   help="keep docs with no language verdict (bucketed "
                        "under the 'und' stratum) instead of dropping "
                        "them at the gate")
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("one of --input / --synthesize is required")
    if args.job != "extract" and not args.input:
        p.error(f"--job {args.job} requires --input (an extraction "
                f"output table)")
    if args.store and args.max_bucket is not None:
        p.error("--max-bucket applies to whole-corpus --job semdedup "
                "only; --store dedups against the store's persisted "
                "band buckets")

    from batukh_spark.session import get_spark
    from batukh_spark import pipeline
    spark = get_spark(app_name=f"batukh-{args.job}",
                      cores=args.parallelism)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.job != "extract":
            summary = _run_training_job(spark, args)
        else:
            if args.synthesize:
                from batukh_spark.corpus import make_transcripts
                source = make_transcripts(spark, args.synthesize,
                                          seed=args.seed)
            else:
                source = args.input
            summary = pipeline.run_extraction(
                spark, source, args.output, metrics=args.metrics,
                run_id=args.run_id, n_units=args.n_units,
                resume=args.resume)
            if args.compact_manifest and args.metrics:
                summary["manifest_rows_kept"] = pipeline.compact_manifest(
                    spark, args.metrics,
                    max_to_keep=args.compact_manifest)
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


def _read_table(spark, ident: str):
    from batukh_spark.sources.io import _is_catalog_table
    if _is_catalog_table(spark, ident):
        return spark.read.table(ident)
    return spark.read.parquet(ident)


def _run_training_job(spark, args) -> dict:
    """mix/batches over an extraction output: every extracted turn is a
    document (doc_id = conv_id#turn_idx, text = extracted_text);
    convdocs assembles the turns back into one role-tagged document
    per conversation instead."""
    import time

    from pyspark.sql import functions as F

    from batukh_spark.mix import training_mix
    from batukh_spark.operators.text import assemble_sequences

    t0 = time.time()
    ext = _read_table(spark, args.input)
    if args.job == "audit":
        # pre-flight contract audit: per-conversation integrity verdicts
        # over a transcript-shaped table (raw input OR an extraction
        # output — both carry conv_id/turn_idx/role).  The flagged count
        # is taken from the WRITTEN per-conv table (small), not by
        # re-running the corpus aggregation.
        from batukh_spark.operators.conversations import contract_audit
        out = contract_audit(ext)
        n_rows = _write_table(spark, out, args.output)
        written = _read_table(spark, args.output)
        n_flagged = written.where(~F.col("ok")).count()
        return {"job": args.job, "rows_out": n_rows,
                "convs_flagged": n_flagged,
                "wall_s": time.time() - t0}
    if args.job == "embstore":
        # persist the embedding signature store run N's semdedup
        # writes so run N+1 can dedup against it incrementally
        from batukh_spark.operators.similarity import (
            build_embedding_store, embedding_audit)
        audit = embedding_audit(ext, expected_dim=args.dim).collect()[0]
        if not audit.ok:
            raise SystemExit(
                f"embstore: embedding contract audit failed: "
                f"{audit.asDict()} — clean the table first")
        build_embedding_store(ext, args.output, dim=args.dim)
        n_sigs = _read_table(spark,
                             f"{args.output}/sigs").count()
        return {"job": args.job, "n_vectors": int(audit.n_rows),
                "sigs_rows": n_sigs, "wall_s": time.time() - t0}
    if args.job == "annindex":
        from batukh_spark.operators.similarity import (
            embedding_audit, train_ivf, train_ivf_pq)
        audit = embedding_audit(ext, expected_dim=args.dim).collect()[0]
        if not audit.ok:
            raise SystemExit(
                f"annindex: embedding contract audit failed: "
                f"{audit.asDict()} — clean the table first")
        if args.pq:
            train_ivf_pq(ext, args.output, dim=args.dim)
        else:
            train_ivf(ext, args.output, dim=args.dim)
        n_idx = _read_table(spark, f"{args.output}/vectors").count()
        return {"job": args.job, "pq": bool(args.pq),
                "n_vectors": int(audit.n_rows), "index_rows": n_idx,
                "wall_s": time.time() - t0}
    if args.job == "semdedup":
        # SemDeDup over an embedding table: pre-flight contract audit
        # first (NULL/NaN/zero/wrong-dim vectors silently corrupt the
        # cosine math downstream — fail BEFORE committing cluster
        # time), then the keep/drop verdict — whole-corpus by default,
        # incremental against a persisted store with --store.  Reason
        # counts come from the WRITTEN verdict table (small), not a
        # corpus re-run.
        from batukh_spark.operators.similarity import (
            embedding_audit, embedding_keep_set,
            incremental_embedding_keep_set)
        audit = embedding_audit(ext, expected_dim=args.dim).collect()[0]
        if not audit.ok:
            raise SystemExit(
                f"semdedup: embedding contract audit failed: "
                f"{audit.asDict()} — clean the table first")
        if args.store:
            out = incremental_embedding_keep_set(
                spark, ext, args.store, threshold=args.threshold,
                dim=args.dim)
        else:
            out = embedding_keep_set(ext, dim=args.dim,
                                     threshold=args.threshold,
                                     max_bucket=args.max_bucket)
        n_rows = _write_table(spark, out, args.output)
        written = _read_table(spark, args.output)
        by_reason = {r["reason"]: r["n"] for r in
                     written.groupBy("reason")
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
        return {"job": args.job, "rows_out": n_rows,
                "incremental": bool(args.store),
                "n_vectors": int(audit.n_rows),
                "kept": by_reason.get("unique", 0),
                "exact_dup": by_reason.get("exact_dup", 0),
                "near_dup": by_reason.get("near_dup", 0),
                "wall_s": time.time() - t0}
    if args.job == "convdocs":
        from batukh_spark.operators.conversations import (
            assemble_conversations)
        out = assemble_conversations(ext)
        n_rows = _write_table(spark, out, args.output)
        return {"job": args.job, "rows_out": n_rows,
                "wall_s": time.time() - t0}
    if args.job == "sft":
        # conversation-level SFT corpus: the keep/split/trainable-byte
        # manifest plus packed-sequence loss masks, one run
        import os as _os

        from batukh_spark.mix import sft_mix
        from batukh_spark.operators.conversations import packed_loss_masks
        manifest = sft_mix(ext, weights=json.loads(args.split_weights))
        masks = packed_loss_masks(ext, seq_len=args.seq_len)
        n_manifest = _write_table(
            spark, manifest, _os.path.join(args.output, "manifest"))
        n_masks = _write_table(
            spark, masks, _os.path.join(args.output, "masks"))
        return {"job": args.job, "rows_out": n_manifest,
                "mask_rows": n_masks, "wall_s": time.time() - t0}
    docs = ext.select(
        F.concat_ws("#", F.col("conv_id"),
                    F.col("turn_idx").cast("string")).alias("doc_id"),
        F.col("extracted_text").alias("text"))
    bench = (_read_table(spark, args.benchmark).select("text")
             if args.benchmark else None)
    mixed = training_mix(
        docs, rates=json.loads(args.rates),
        default_rate=args.default_rate, quality_min=args.quality_min,
        max_tokens=args.max_tokens, overlap=args.overlap,
        benchmark=bench, keep_unknown_lang=args.keep_unknown_lang)
    out = (mixed if args.job == "mix"
           else assemble_sequences(mixed, seq_len=args.seq_len))
    n_rows = _write_table(spark, out, args.output)
    return {"job": args.job, "rows_out": n_rows,
            "decontaminated": bool(args.benchmark),
            "wall_s": time.time() - t0}


def _write_table(spark, out, target: str) -> int:
    from batukh_spark.sources.io import _is_catalog_table
    if _is_catalog_table(spark, target):
        out.writeTo(target).createOrReplace()
        return spark.read.table(target).count()
    out.write.mode("overwrite").parquet(target)
    return spark.read.parquet(target).count()


if __name__ == "__main__":
    sys.exit(main())
