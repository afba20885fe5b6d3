"""The full extraction job (SURVEY §3 lifecycle, §7 step 5).

One body behind one API (`run_extraction`); the two modes differ only
in how a row gets its work unit:

FILES mode (auto for parquet and JSONL paths) — Iceberg-style planning:
    unit = xxhash64(input file URI); plan files -> anti-join 'done'
    units [driver-side] -> scan ONLY pending files [zero pre-kernel
    shuffle].  At 10^12 turns the input arrives as millions of data
    files, so the file is both the natural resume and parallelism
    unit; Spark still splits an oversized file across tasks
    (maxPartitionBytes), which divides a unit's compute but never its
    commit scope, because the output is partitioned by unit.

SHUFFLE mode (auto for DataFrame sources and catalog tables):
    unit = pmod(xxhash64(conv_id, turn_idx//CHUNK), n_units) [salted]
    -> anti-join 'done' units -> repartition(n_units, unit) [one
    aligning shuffle]

then, written once for both:
      -> kernels.extract_turns                     [ONE Python crossing]
      -> sortWithinPartitions(conv_id, turn_idx)   [on the lean output]
      -> write extracted, partitionBy(unit), dynamic overwrite
      -> append per-unit manifest rows (single KERNEL pass, aggregated
         from the cached kernel output — see _write_with_manifest)

Design for 10^12 turns / 1000 executors:

* Extraction is per-turn, so a mega-conversation may legally span work
  units: the unit id hashes (conv_id, turn_idx // CHUNK_TURNS), the skew
  salt of SURVEY §4 — no conversation contributes more than CHUNK_TURNS
  rows to any unit, bounding the largest task regardless of skew (the
  class-weight analogue of /root/reference/batukh/torch/segmenter.py:824-826).
* Work-unit identity is a pure function of the DATA (not of sampling or
  cluster size), so manifests written at N executors resume correctly at
  4N.  `repartitionByRange` was rejected for unit identity precisely
  because its sampled range bounds are not stable across runs.
* Exactly-once: BOTH modes write partitioned by unit with dynamic
  partition overwrite, and manifest rows append only after the write job
  commits.  A crash between write-commit and manifest-append re-plans
  those units on resume and OVERWRITES their partitions (no duplicate
  rows) — the checkpoint-restore analogue of
  /root/reference/batukh/torch/segmenter.py:267-278,313-370.
* Single-kernel-pass manifest (see _write_with_manifest): aggregated
  from the executor-cached kernel output, so the Python kernel never
  runs twice.  At 100 TB that cache spills every extracted byte to
  executor disk; the planned replacement derives the manifest from the
  written files' parquet footers (ROADMAP direction 2).
* Ordering: (conv_id, turn_idx) sort within unit partitions + unit dirs
  in the output. Readers reconstruct global order with
  ORDER BY conv_id, turn_idx — same contract as the reference's sorted,
  name-aligned directory scan (torch dataloader.py:29-32).
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batukh_spark import kernels
from batukh_spark.session import materialize
from batukh_spark.sources import io as bio

# max turns one conversation contributes to a single work unit
CHUNK_TURNS = 512

_INPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

STATUS_DONE = "done"


def with_unit(df: DataFrame, n_units: int) -> DataFrame:
    """Deterministic, skew-salted work-unit id."""
    return df.withColumn(
        "unit",
        F.pmod(F.xxhash64("conv_id",
                          (F.col("turn_idx") / F.lit(CHUNK_TURNS))
                          .cast("long")),
               F.lit(n_units)).cast("long"))


def file_units(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Iceberg-style work-unit plan: one unit per input data file.

    Returns a (path, unit) frame for the source's listed `paths`
    (`DataFrame.inputFiles()`).  Unit identity is the FULL 64-bit
    xxhash64 of the file URI — stable across runs and cluster sizes,
    the exact analogue of Iceberg's incremental file-scan planning.  A
    truncated hash is a correctness hazard: at 10^6 files a 31-bit space
    expects ~n^2/2^32 collisions, and a pending file whose unit collides
    with a 'done' unit would be silently skipped on resume.  The 64-bit
    space keeps the expected collision count < 1 up to ~10^9 files (and
    collisions fail LOUD at plan level if two paths tie, because both
    would resume together, never drop).

    The paths cross to the JVM as one Arrow table, so the plan is a
    local relation: no job and no Python worker (`createDataFrame`
    over a Python list would be a pickled Python RDD)."""
    table = pa.table({"path": pa.array(sorted(paths), pa.string())})
    return (spark.createDataFrame(table)
            .select("path", F.xxhash64("path").alias("unit")))


def run_extraction(spark: SparkSession, source: str | DataFrame,
                   output: str, metrics: str | None = None,
                   run_id: str | None = None, n_units: int | None = None,
                   resume: bool = False, mode: str = "auto") -> dict:
    """Run (or resume) the extraction job; returns a summary dict with
    the keys run_id, mode, n_units, resumed, units_completed, wall_s.

    mode="auto" picks "files" (shuffle-free, unit = input file) for
    parquet and JSONL paths, and "shuffle" (unit = salted conv hash,
    one aligning exchange) for DataFrame sources such as a freshly
    synthesized corpus and for catalog tables, whose files are not
    ours to plan.  `n_units` sizes shuffle mode; files mode has one
    unit per file."""
    t0 = time.time()
    run_id = run_id or uuid.uuid4().hex[:12]
    fmt = (None if isinstance(source, DataFrame)
           else bio.source_format(spark, source))
    if mode == "auto":
        mode = "files" if fmt in ("parquet", "jsonl") else "shuffle"
    done = _done_units(spark, metrics) if resume and metrics else None

    # the modes differ only in how a row gets its unit
    if mode == "files":
        paths = bio.read_transcripts(spark, source, fmt).inputFiles()
        n_units = len(paths)
        units = _pending(file_units(spark, paths), done).collect()
        # driver-side file list, as in any Spark/Iceberg planning step:
        # at 10^7 files this is ~1-2 GB of driver heap (path strings) —
        # size spark.driver.memory accordingly, or plan per partition
        df = (bio.read_transcripts(spark, [u.path for u in units], fmt)
              .select(*_INPUT_COLS)
              .withColumn("unit", F.xxhash64(F.input_file_name()))
              if units else None)
    else:
        # 8x over-decomposition: hash-partitioning unit ids onto tasks
        # leaves a few tasks holding 2-3 units (balls-into-bins); with
        # many waves per core the stragglers amortize, without the extra
        # sampling scan that repartitionByRange would spend on 100 TB
        n_units = n_units or max(
            32, spark.sparkContext.defaultParallelism * 8)
        src = (source if isinstance(source, DataFrame)
               else bio.read_transcripts(spark, source, fmt))
        # column pruning is explicit so the scan reads only what the
        # kernel needs even if the table grows columns later; one
        # shuffle aligns units to tasks, so each task writes into few
        # unit dirs
        df = (_pending(with_unit(src.select(*_INPUT_COLS), n_units), done)
              .repartition(n_units, "unit"))

    completed = 0
    if df is not None:
        # the ordering sort runs AFTER the kernel, on the lean extracted
        # rows (~half the bytes of the input payloads): JVM work ahead
        # of the kernel is the feed bottleneck, so it is minimized
        extracted = kernels.extract_turns(df).sortWithinPartitions(
            "conv_id", "turn_idx")
        completed = _write_with_manifest(extracted, output, metrics,
                                         run_id, t0)
    return {"run_id": run_id, "mode": mode, "n_units": n_units,
            "resumed": done is not None, "units_completed": completed,
            "wall_s": time.time() - t0}


def _done_units(spark: SparkSession, metrics: str) -> DataFrame | None:
    """Units the manifest records as done, or None before a first run."""
    prior = bio.read_manifest(spark, metrics)
    if prior is None:
        return None
    return (prior.filter(F.col("status") == STATUS_DONE)
            .select("unit").distinct())


def _pending(units: DataFrame, done: DataFrame | None) -> DataFrame:
    """The rows of `units` whose unit is not done: the resume anti-join.
    In files mode it runs over the plan (one row per file), so done
    files are never scanned; in shuffle mode over the data."""
    if done is None:
        return units
    return units.join(F.broadcast(done), "unit", "left_anti")


def _write_with_manifest(extracted: DataFrame, output: str,
                         metrics: str | None, run_id: str,
                         t0: float) -> int:
    """Write the extracted table, then derive the per-unit manifest in
    a single KERNEL pass: persist the kernel output at executor storage
    while the write materializes it, and aggregate the manifest from
    the SAME cache (a cache-hit aggregate is ~free while the run's
    output fits executor memory).  The Python kernel never runs twice.
    Returns the number of units this invocation committed (0 without a
    manifest).

    At 100 TB the persist spills every extracted byte to executor disk
    just to feed four narrow aggregates; the planned replacement reads
    the manifest fields from the written files' parquet footers
    (ROADMAP direction 2), which also lets the manifest see lost rows."""
    if not metrics:
        bio.write_extracted(extracted, output, partition_col="unit")
        return 0
    extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        bio.write_extracted(extracted, output, partition_col="unit")
        bio.append_manifest(_build_manifest(extracted, run_id, t0), metrics)
    finally:
        extracted.unpersist()
    return _written_unit_count(extracted.sparkSession, metrics, run_id, t0)


def _written_unit_count(spark: SparkSession, metrics: str,
                        run_id: str, t0: float) -> int:
    """Count committed units by reading back the (tiny) manifest table —
    re-counting the manifest DataFrame would re-execute its whole
    aggregation DAG over the extracted output a second time.

    Scoped to rows stamped at/after this invocation's start: a resumed
    run reusing the caller's run_id must report only the units IT
    completed, not the prior run's rows (the manifest ts comes from
    current_timestamp(), fixed driver-side at planning, so it is
    comparable with the driver's t0)."""
    try:
        spark.catalog.refreshByPath(metrics)
    except Exception:
        pass
    m = bio.read_manifest(spark, metrics)
    if m is None:
        return 0
    return m.filter((F.col("run_id") == run_id)
                    & (F.col("ts") >= F.timestamp_seconds(F.lit(t0)))).count()


def _build_manifest(written: DataFrame, run_id: str, t0: float) -> DataFrame:
    return (
        written.groupBy("unit").agg(
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
            F.count(F.lit(1)).alias("rows_in"),
            F.count(F.lit(1)).alias("rows_out"),
            F.sum("text_nbytes").alias("bytes_in"),
            F.sum(F.when(F.col("error").isNotNull(), 1)
                  .otherwise(0)).cast("long").alias("n_errors"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_ms", F.lit(int((time.time() - t0) * 1000)))
        .withColumn("status", F.lit(STATUS_DONE))
        .withColumn("ts", F.current_timestamp())
        .select("run_id", "unit", "conv_id_min", "conv_id_max",
                "rows_in", "rows_out", "bytes_in", "n_errors",
                "wall_ms", "status", "ts"))


def latest_done_units(spark: SparkSession, metrics: str) -> DataFrame | None:
    """Latest manifest row per unit (max_by ts, epoch-tie analogue of
    get_latest_ckpt_path, /root/reference/batukh/torch/segmenter.py:355-370).
    """
    prior = bio.read_manifest(spark, metrics)
    if prior is None:
        return None
    w = Window.partitionBy("unit").orderBy(F.desc("ts"), F.desc("run_id"))
    return (prior.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn"))


def compact_manifest(spark: SparkSession, metrics: str,
                     max_to_keep: int = 5) -> int:
    """Retention: keep only the newest `max_to_keep` manifest rows per
    unit and rewrite the manifest table — the analogue of the
    reference's checkpoint retention (`max_to_keep=5` at
    /root/reference/batukh/tensorflow/utils/train.py:145-155).  Without
    this, a long-lived dataset's manifest grows by (units x runs) and
    every resume scans unbounded history.

    Returns the number of rows kept.  The survivor set is materialized
    (`session.materialize`, executor storage) before the source path is
    overwritten — the manifest is metadata-scale (rows = units kept), so
    this stays cheap even at 10^7 units."""
    m = bio.read_manifest(spark, metrics)
    if m is None:
        return 0
    w = Window.partitionBy("unit").orderBy(F.desc("ts"), F.desc("run_id"))
    kept = materialize(m.withColumn("_rn", F.row_number().over(w))
                       .filter(F.col("_rn") <= max_to_keep).drop("_rn"),
                       "pipeline.compact_manifest:kept")
    n = kept.count()
    bio.rewrite_manifest(kept, metrics)
    return n
