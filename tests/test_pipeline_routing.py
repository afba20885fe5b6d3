"""`run_extraction` routing: JSONL paths take files mode, catalog tables
and DataFrames take shuffle mode, and both modes report one summary
shape."""

import shutil

import pytest
from pyspark.sql import functions as F

from batukh_spark import pipeline
from batukh_spark.corpus import make_transcripts

SUMMARY_KEYS = {"run_id", "mode", "n_units", "resumed", "units_completed",
                "wall_s"}


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("src", "out", "metrics", "out2")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_jsonl_dir_runs_in_files_mode_and_resumes(spark, dirs):
    """A directory of JSON part files (name without a suffix) goes
    through files mode: one unit per file, and a full resume plans
    nothing."""
    df = make_transcripts(spark, 15, partitions=3)
    (df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
       .write.json(dirs["src"]))
    files = spark.read.json(dirs["src"]).inputFiles()

    s1 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="j1")
    assert s1["mode"] == "files"
    assert s1["n_units"] == s1["units_completed"] == len(files)
    out = spark.read.parquet(dirs["out"])
    assert out.count() == df.count()
    assert {r.unit for r in out.select("unit").distinct().collect()} == \
        {r.unit for r in pipeline.file_units(spark, files).collect()}

    s2 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="j2",
                                 resume=True)
    assert s2["resumed"] and s2["units_completed"] == 0


def test_catalog_table_runs_in_shuffle_mode(spark, dirs, monkeypatch):
    """A catalog identifier is read with `spark.read.table` and split
    into salted shuffle units, never planned as parquet files."""
    from pyspark.sql.readwriter import DataFrameReader

    make_transcripts(spark, 20, partitions=2).write.parquet(dirs["src"])
    calls = []

    def fake_table(self, name):
        calls.append(name)
        return spark.read.parquet(dirs["src"])

    monkeypatch.setattr(DataFrameReader, "table", fake_table)
    spark.conf.set("spark.sql.catalog.cat", "org.example.FakeCatalog")
    try:
        s = pipeline.run_extraction(spark, "cat.db.transcripts",
                                    dirs["out"], metrics=dirs["metrics"],
                                    run_id="c1", n_units=4)
    finally:
        spark.conf.unset("spark.sql.catalog.cat")
    assert calls == ["cat.db.transcripts"]
    assert s["mode"] == "shuffle"
    assert s["units_completed"] == 4
    out = spark.read.parquet(dirs["out"])
    src = spark.read.parquet(dirs["src"])
    assert out.count() == src.count()
    assert out.select("conv_id", "turn_idx").distinct().count() == \
        src.count()


def test_files_and_shuffle_summaries_share_keys(spark, dirs):
    make_transcripts(spark, 5, partitions=2).write.parquet(dirs["src"])
    files = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                    metrics=dirs["metrics"], mode="files")
    shuffle = pipeline.run_extraction(
        spark, spark.read.parquet(dirs["src"]), dirs["out2"], n_units=4)
    assert files["mode"] == "files" and shuffle["mode"] == "shuffle"
    assert set(files) == set(shuffle) == SUMMARY_KEYS


def test_file_plan_runs_no_job(spark, dirs):
    """The unit plan is a local table on the JVM: collecting it runs no
    Spark job and so starts no Python worker."""
    make_transcripts(spark, 5, partitions=2).write.parquet(dirs["src"])
    plan = pipeline.file_units(
        spark, spark.read.parquet(dirs["src"]).inputFiles())
    sc = spark.sparkContext
    sc.setJobGroup("test_file_plan", "file_units")
    try:
        assert len(plan.collect()) == 2
        assert sc.statusTracker().getJobIdsForGroup("test_file_plan") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
