"""File-granular (shuffle-free, Iceberg-planning-style) pipeline mode."""

import shutil

import pytest
from pyspark.sql import functions as F

from batukh_spark import pipeline
from batukh_spark.corpus import make_transcripts


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("src", "out", "metrics")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_files_mode_run_and_resume(spark, dirs):
    make_transcripts(spark, 40, partitions=6) \
        .write.parquet(dirs["src"])
    n_files = len(spark.read.parquet(dirs["src"]).inputFiles())
    assert n_files >= 2

    s1 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="f1")
    assert s1["mode"] == "files"
    assert s1["units_completed"] == n_files
    out = spark.read.parquet(dirs["out"])
    assert out.count() == spark.read.parquet(dirs["src"]).count()
    # input_file_name() hashing must agree with the driver-side plan
    plan_units = {r.unit for r in
                  pipeline.file_units(spark, spark.read.parquet(
                      dirs["src"]).inputFiles()).collect()}
    data_units = {r.unit for r in out.select("unit").distinct().collect()}
    assert data_units == plan_units

    # full resume: nothing pending
    s2 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="f2",
                                 resume=True)
    assert s2["units_completed"] == 0
    assert spark.read.parquet(dirs["out"]).count() == out.count()

    # materialize the expected final rows before mutating the dirs (lazy
    # DataFrames would otherwise point at deleted files)
    want = out.select("conv_id", "turn_idx", "extracted_text") \
        .orderBy("conv_id", "turn_idx").collect()

    # partial failure: drop 2 units from manifest AND their output rows
    from batukh_spark.sources import io as bio
    m = bio.read_manifest(spark, dirs["metrics"])
    victims = [r.unit for r in m.limit(2).collect()]
    kept_manifest = m.filter(~F.col("unit").isin(victims)).collect()
    kept_rows = out.filter(~F.col("unit").isin(victims)).collect()
    out_schema = out.schema
    shutil.rmtree(dirs["metrics"])
    shutil.rmtree(dirs["out"])
    spark.createDataFrame(kept_manifest, m.schema) \
        .write.parquet(dirs["metrics"])
    # preserve the production layout (partitioned by unit)
    spark.createDataFrame(kept_rows, out_schema) \
        .write.partitionBy("unit").parquet(dirs["out"])
    spark.catalog.refreshByPath(dirs["out"])
    spark.catalog.refreshByPath(dirs["metrics"])

    s3 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="f3",
                                 resume=True)
    assert s3["units_completed"] == 2
    final = spark.read.parquet(dirs["out"]) \
        .select("conv_id", "turn_idx", "extracted_text") \
        .orderBy("conv_id", "turn_idx").collect()
    assert final == want  # identical final table, no duplicates


def test_unit_identity_is_full_64bit(spark):
    """Regression for the 31-bit unit-id collision hazard: these two
    paths collide under pmod(xxhash64, 1<<31) (both -> 1869155412) — a
    pending file colliding with a 'done' unit was silently skipped on
    resume.  Full 64-bit identity must keep them distinct."""
    a = "file:///data/part-490.parquet"
    b = "file:///data/part-128265.parquet"
    df = spark.createDataFrame([(a,), (b,)], "path string")
    old = df.select(F.pmod(F.xxhash64("path"), F.lit(1 << 31))
                    .alias("u")).collect()
    assert old[0].u == old[1].u  # the hazard is real for this pair
    new = df.select(F.xxhash64("path").alias("u")).collect()
    assert new[0].u != new[1].u  # full hash keeps identities distinct


def test_files_mode_resume_overwrites_not_appends(spark, dirs):
    """Exactly-once on the crash-between-write-and-manifest window: if a
    unit's output committed but its manifest row never landed, the
    resumed run must OVERWRITE that unit's partition, not append a
    duplicate copy."""
    make_transcripts(spark, 30, partitions=4).write.parquet(dirs["src"])
    pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                            metrics=dirs["metrics"], run_id="r1")
    total = spark.read.parquet(dirs["out"]).count()
    from batukh_spark.sources import io as bio
    m = bio.read_manifest(spark, dirs["metrics"])
    # simulate the crash: remove ONE unit's manifest row, keep its output
    victim = m.limit(1).collect()[0].unit
    survivors = m.filter(F.col("unit") != victim).collect()
    shutil.rmtree(dirs["metrics"])
    spark.createDataFrame(survivors, m.schema).write.parquet(dirs["metrics"])
    spark.catalog.refreshByPath(dirs["metrics"])

    s = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                metrics=dirs["metrics"], run_id="r2",
                                resume=True)
    assert s["units_completed"] == 1
    spark.catalog.refreshByPath(dirs["out"])
    out = spark.read.parquet(dirs["out"])
    assert out.count() == total  # no duplicates
    dup = (out.groupBy("conv_id", "turn_idx").count()
           .filter("count > 1").count())
    assert dup == 0


def test_manifest_retention_compaction(spark, dirs):
    make_transcripts(spark, 10, partitions=2).write.parquet(dirs["src"])
    for i in range(4):  # 4 non-resume runs -> 4 manifest rows per unit
        pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                metrics=dirs["metrics"], run_id=f"k{i}")
    from batukh_spark.sources import io as bio
    n_units = len(spark.read.parquet(dirs["src"]).inputFiles())
    m = bio.read_manifest(spark, dirs["metrics"])
    assert m.count() == 4 * n_units
    kept = pipeline.compact_manifest(spark, dirs["metrics"], max_to_keep=2)
    assert kept == 2 * n_units
    spark.catalog.refreshByPath(dirs["metrics"])
    m2 = bio.read_manifest(spark, dirs["metrics"])
    assert m2.count() == 2 * n_units
    # newest run survives for every unit; resume still sees all units done
    assert m2.filter(F.col("run_id") == "k3").count() == n_units
    s = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                metrics=dirs["metrics"], run_id="k5",
                                resume=True)
    assert s["units_completed"] == 0


def test_files_mode_extraction_equals_shuffle_mode(spark, dirs):
    make_transcripts(spark, 25, partitions=4).write.parquet(dirs["src"])
    pipeline.run_extraction(spark, dirs["src"], dirs["out"], mode="files")
    df = spark.read.parquet(dirs["src"])
    s_out = dirs["out"] + "_shuffle"
    pipeline.run_extraction(spark, df, s_out, n_units=8, mode="shuffle")
    a = spark.read.parquet(dirs["out"]).select(
        "conv_id", "turn_idx", "extracted_text", "family") \
        .orderBy("conv_id", "turn_idx").collect()
    b = spark.read.parquet(s_out).select(
        "conv_id", "turn_idx", "extracted_text", "family") \
        .orderBy("conv_id", "turn_idx").collect()
    assert a == b
