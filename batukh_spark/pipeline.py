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
      -> sortWithinPartitions(unit, conv_id, turn_idx) [lean output]
      -> write extracted, partitionBy(unit), dynamic overwrite
      -> append per-unit manifest rows built on the driver from file
         metadata (see _manifest)

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
* Manifest from metadata (see _manifest), as an Iceberg manifest
  records each data file's record count, bounds and null counts: the
  output side (rows, conv_id bounds, errors) comes from the committed
  files' parquet footers, read on the driver after the write; in files
  mode the input side comes from the input file's footer, read before
  the write with the output's store resolved, so a store the manifest
  cannot read fails the run before anything commits.  Nothing is
  persisted and no job re-reads the output, yet a lost row shows: a
  unit whose rows_out differs from its rows_in is `failed`, and the
  run raises after appending it.
* Ordering: every committed file is sorted by (conv_id, turn_idx), and
  units are dirs in the output.  The sort leads with `unit`, which is
  the partitioned write's required ordering; a sort without it would
  be replaced by the write's own Sort(unit).  Readers reconstruct
  global order with ORDER BY conv_id, turn_idx — same contract as the
  reference's sorted, name-aligned directory scan (torch
  dataloader.py:29-32).
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batukh_spark import kernels
from batukh_spark.session import arrow_frame, materialize
from batukh_spark.sources import io as bio

# max turns one conversation contributes to a single work unit
CHUNK_TURNS = 512

_INPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

STATUS_DONE = "done"
STATUS_FAILED = "failed"


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

    The paths cross to the JVM as one Arrow table (`arrow_frame`), so
    the plan is a local relation: no job and no Python worker."""
    table = pa.table({"path": pa.array(sorted(paths), pa.string())})
    return (arrow_frame(spark, table)
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
    unit per file.

    With `metrics`, one manifest row per planned unit is appended after
    the write commits (see `_manifest`); a unit whose output row count
    differs from its input's is recorded `failed`, and the run then
    raises naming those units, so a resume re-plans them.  A source
    without parquet footers (shuffle mode, JSONL files) has its input
    rows counted by a job of their own, a second evaluation of the
    source; such a source must give the same rows on every evaluation
    (a table read at one snapshot, no unseeded `rand()` filter), or
    its units come out `failed`."""
    t0 = time.time()
    run_id = run_id or uuid.uuid4().hex[:12]
    fmt = (None if isinstance(source, DataFrame)
           else bio.source_format(spark, source))
    if mode == "auto":
        mode = "files" if fmt in ("parquet", "jsonl") else "shuffle"
    done = latest_done_units(spark, metrics) if resume and metrics else None

    # the modes differ only in how a row gets its unit
    if mode == "files":
        src = bio.read_transcripts(spark, source, fmt)
        paths = src.inputFiles()
        n_units = len(paths)
        units = _pending(file_units(spark, paths), done).collect()
        # driver-side file list, as in any Spark/Iceberg planning step:
        # at 10^7 files this is ~1-2 GB of driver heap (path strings) —
        # size spark.driver.memory accordingly, or plan per partition.
        # The pending scan reuses the listing read's file index: done
        # files are pruned by a file-metadata filter, never re-listed
        if len(units) < n_units:
            src = src.where(F.col("_metadata.file_path").isin(
                [_metadata_path(u.path) for u in units]))
        df = (src.select(*_INPUT_COLS)
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
        # kernel needs even if the table grows columns later
        df = _pending(with_unit(src.select(*_INPUT_COLS), n_units), done)
        units = None

    completed = 0
    if df is not None:
        if metrics:
            # before the write: the input side, and the output's store
            # resolved, so a store the manifest cannot read fails the
            # run before anything commits
            ins = _input_side(spark, df, units, fmt)
            out = (None if bio.source_format(spark, output) == "table"
                   else bio.arrow_paths(spark, [output])[0])
        if mode == "shuffle":
            # one shuffle aligns units to tasks, so each task writes
            # into few unit dirs
            df = df.repartition(n_units, "unit")
        # the ordering sort runs AFTER the kernel, on the lean extracted
        # rows (~half the bytes of the input payloads): JVM work ahead
        # of the kernel is the feed bottleneck, so it is minimized.
        # Leading with `unit` meets the partitioned write's required
        # ordering, so the planner adds no sort of its own on top
        extracted = kernels.extract_turns(df).sortWithinPartitions(
            "unit", "conv_id", "turn_idx")
        bio.write_extracted(extracted, output, partition_col="unit")
        wall_ms = int((time.time() - t0) * 1000)
        if metrics:
            manifest = _manifest(spark, output, out, ins, run_id, wall_ms)
            bio.append_manifest(arrow_frame(spark, manifest), metrics)
            failed = [r["unit"] for r in manifest.to_pylist()
                      if r["status"] != STATUS_DONE]
            if failed:
                raise RuntimeError(
                    f"run {run_id}: output row count differs from input "
                    f"for units {failed}; resume re-plans them")
            completed = manifest.num_rows
    return {"run_id": run_id, "mode": mode, "n_units": n_units,
            "resumed": done is not None, "units_completed": completed,
            "wall_s": time.time() - t0}


def _metadata_path(uri: str) -> str:
    """A listed file URI (`inputFiles()`, `input_file_name()`) in the
    form of `_metadata.file_path`, Hadoop's `Path.toString`: both are
    URL-encoded, but there an empty authority drops its `//`
    (`file:///a/b` is `file:/a/b`), so a raw `isin` matches nothing."""
    scheme, sep, rest = uri.partition(":///")
    return f"{scheme}:/{rest}" if sep and "/" not in scheme else uri


def _pending(units: DataFrame, done: DataFrame | None) -> DataFrame:
    """The rows of `units` whose unit is not done: the resume anti-join.
    In files mode it runs over the plan (one row per file), so done
    files are never scanned; in shuffle mode over the data."""
    if done is None:
        return units
    return units.join(F.broadcast(done.select("unit")), "unit", "left_anti")


def _input_side(spark: SparkSession, df: DataFrame, units: list | None,
                fmt: str | None) -> dict[int, tuple[int, int]]:
    """{unit: (rows_in, bytes_in)} for the units this run planned.

    A parquet input file (files mode) gives its footer row count and
    its size.  A source without footers (JSONL files, DataFrames,
    tables) gives one JVM-only grouped count of the pending input, with
    bytes_in the UTF-8 bytes of `text`; a planned file without rows is
    absent from that count and gets (0, 0)."""
    if units is not None and fmt == "parquet":
        footers = bio.read_footers(
            bio.arrow_paths(spark, [u.path for u in units]))
        return {u.unit: (f.rows, f.nbytes) for u, f in zip(units, footers)}
    counted = {r.unit: (r.rows, r.nbytes) for r in df.groupBy("unit").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.octet_length("text")).alias("nbytes")).collect()}
    if units is None:
        return counted
    return {u.unit: counted.get(u.unit, (0, 0)) for u in units}


_MANIFEST_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("unit", pa.int64()),
    ("conv_id_min", pa.string()), ("conv_id_max", pa.string()),
    ("rows_in", pa.int64()), ("rows_out", pa.int64()),
    ("bytes_in", pa.int64()), ("n_errors", pa.int64()),
    ("wall_ms", pa.int32()), ("status", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC"))])


def _manifest(spark: SparkSession, output: str, out: tuple | None,
              ins: dict, run_id: str, wall_ms: int) -> pa.Table:
    """One manifest row per unit this run planned, as an Arrow table:
    the input side `ins` (`_input_side`) against the committed output's
    rows, conv_id bounds and error count (`_output_stats`).  A unit is
    `done` only if rows_in == rows_out."""
    outs = _output_stats(spark, output, out, list(ins))
    ts = datetime.now(timezone.utc)
    records = []
    for unit, (rows_in, bytes_in) in ins.items():
        rows_out, cmin, cmax, n_errors = outs[unit]
        records.append({
            "run_id": run_id, "unit": unit, "conv_id_min": cmin,
            "conv_id_max": cmax, "rows_in": rows_in, "rows_out": rows_out,
            "bytes_in": bytes_in, "n_errors": n_errors, "wall_ms": wall_ms,
            "status": (STATUS_DONE if rows_in == rows_out
                       else STATUS_FAILED), "ts": ts})
    return pa.Table.from_pylist(records, schema=_MANIFEST_SCHEMA)


def _output_stats(spark: SparkSession, output: str, out: tuple | None,
                  units: list[int]) -> dict:
    """{unit: (rows, conv_id_min, conv_id_max, n_errors)} of the
    committed output, from the parquet footers of each unit's files
    under `out`, the output's (FileSystem, path).  A catalog table
    (`out` None) cannot be listed by path, so there it is one grouped
    count over the committed table, restricted to `units`."""
    if out is None:
        got = {r.unit: (r.rows, r.lo, r.hi, r.errs) for r in
               spark.read.table(output).filter(F.col("unit").isin(units))
               .groupBy("unit").agg(F.count(F.lit(1)).alias("rows"),
                                    F.min("conv_id").alias("lo"),
                                    F.max("conv_id").alias("hi"),
                                    F.count("error").alias("errs"))
               .collect()}
        return {u: got.get(u, (0, None, None, 0)) for u in units}
    stats = {}
    for unit, footers in bio.partition_footers(
            out, units, ("conv_id", "error")).items():
        los = [f.stats["conv_id"][0] for f in footers if f.rows]
        his = [f.stats["conv_id"][1] for f in footers if f.rows]
        stats[unit] = (sum(f.rows for f in footers),
                       min(los, default=None), max(his, default=None),
                       sum(f.rows - f.stats["error"][2] for f in footers))
    return stats


def latest_done_units(spark: SparkSession, metrics: str) -> DataFrame | None:
    """Units whose LATEST manifest row (max_by ts, then run_id) is
    `done`, or None before a first run — the epoch-tie analogue of the
    reference's get_latest_ckpt_path (batukh/torch/segmenter.py:355-370).
    A newer `failed` row overrides an older `done` one, so resume
    re-plans it."""
    prior = bio.read_manifest(spark, metrics)
    if prior is None:
        return None
    w = Window.partitionBy("unit").orderBy(F.desc("ts"), F.desc("run_id"))
    return (prior.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("status") == STATUS_DONE))
            .drop("_rn"))


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
