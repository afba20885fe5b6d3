"""The extraction manifest is built from file metadata: input and
output footers, never a scan of the output.  A lost row fails its unit,
resume follows each unit's latest row, every committed file is sorted,
and a files-mode pass runs at most three Spark jobs."""

import ast
import glob
import os
import shutil
from urllib.parse import unquote, urlsplit

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from batukh_spark import pipeline
from batukh_spark.corpus import make_transcripts
from batukh_spark.sources import io as bio

PIPELINE_PY = os.path.join(os.path.dirname(__file__), "..", "batukh_spark",
                           "pipeline.py")


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("src", "out", "metrics")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def _manifest(spark, metrics):
    spark.catalog.refreshByPath(metrics)
    return {r.unit: r for r in bio.read_manifest(spark, metrics).collect()}


def _units(spark, src):
    """{unit: local path} of the source's input files."""
    return {r.unit: unquote(urlsplit(r.path).path) for r in
            pipeline.file_units(
                spark, spark.read.parquet(src).inputFiles()).collect()}


def test_manifest_fields_equal_file_metadata(spark, dirs):
    make_transcripts(spark, 30, partitions=3).write.parquet(dirs["src"])
    pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                            metrics=dirs["metrics"], run_id="m1")
    m = _manifest(spark, dirs["metrics"])
    units = _units(spark, dirs["src"])
    assert set(m) == set(units)
    for unit, path in units.items():
        out = pq.ParquetDataset(f"{dirs['out']}/unit={unit}").read(
            columns=["conv_id", "error"])
        row = m[unit]
        assert row.rows_in == pq.read_metadata(path).num_rows
        assert row.bytes_in == os.path.getsize(path)
        assert row.rows_out == out.num_rows == row.rows_in
        assert row.conv_id_min == pc.min(out.column("conv_id")).as_py()
        assert row.conv_id_max == pc.max(out.column("conv_id")).as_py()
        assert row.n_errors == out.num_rows - out.column("error").null_count
        assert row.status == "done" and row.wall_ms > 0


def test_lost_row_fails_its_unit(spark, dirs, monkeypatch):
    """A writer that drops one row of one unit: that unit's manifest
    row is `failed` with rows_out == rows_in - 1, the run raises after
    appending it, and a resume re-plans exactly that unit."""
    make_transcripts(spark, 30, partitions=3).write.parquet(dirs["src"])
    units = _units(spark, dirs["src"])
    victim = sorted(units)[0]
    first = pq.read_table(units[victim]).slice(0, 1).to_pylist()[0]
    lost = ((F.col("unit") == victim)
            & (F.col("conv_id") == first["conv_id"])
            & (F.col("turn_idx") == first["turn_idx"]))
    write = bio.write_extracted
    monkeypatch.setattr(bio, "write_extracted",
                        lambda df, *a, **k: write(df.filter(~lost), *a, **k))
    with pytest.raises(RuntimeError, match=str(victim)):
        pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                metrics=dirs["metrics"], run_id="lossy")
    monkeypatch.setattr(bio, "write_extracted", write)

    m = _manifest(spark, dirs["metrics"])
    assert m[victim].status == "failed"
    assert m[victim].rows_out == m[victim].rows_in - 1
    assert {u for u, r in m.items() if r.status == "done"} == \
        set(units) - {victim}

    s = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                metrics=dirs["metrics"], run_id="fix",
                                resume=True)
    assert s["units_completed"] == 1
    m = _manifest(spark, dirs["metrics"])
    latest = {r.unit for r in pipeline.latest_done_units(
        spark, dirs["metrics"]).collect()}
    assert latest == set(units)
    fixed = [r for r in bio.read_manifest(spark, dirs["metrics"]).collect()
             if r.run_id == "fix"]
    assert [r.unit for r in fixed] == [victim]
    spark.catalog.refreshByPath(dirs["out"])
    assert spark.read.parquet(dirs["out"]).count() == \
        spark.read.parquet(dirs["src"]).count()


def test_resume_follows_latest_manifest_row(spark, dirs):
    """done -> failed -> resume: a newer `failed` row re-plans a unit
    that an older row recorded as done."""
    make_transcripts(spark, 20, partitions=3).write.parquet(dirs["src"])
    pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                            metrics=dirs["metrics"], run_id="d1")
    m = bio.read_manifest(spark, dirs["metrics"])
    units = sorted(r.unit for r in m.select("unit").collect())
    victim = units[0]
    failed = (m.filter(F.col("unit") == victim)
              .withColumn("run_id", F.lit("f1"))
              .withColumn("status", F.lit("failed"))
              .withColumn("ts", F.current_timestamp()))
    bio.append_manifest(spark.createDataFrame(failed.collect(), m.schema),
                        dirs["metrics"])
    spark.catalog.refreshByPath(dirs["metrics"])
    done = {r.unit for r in pipeline.latest_done_units(
        spark, dirs["metrics"]).collect()}
    assert done == set(units) - {victim}

    s = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                metrics=dirs["metrics"], run_id="r1",
                                resume=True)
    assert s["units_completed"] == 1
    spark.catalog.refreshByPath(dirs["metrics"])
    assert [r.unit for r in bio.read_manifest(spark, dirs["metrics"])
            .filter(F.col("run_id") == "r1").collect()] == [victim]


def test_zero_row_file_is_a_done_unit(spark, dirs):
    """An input file without rows is a `done` 0/0 unit, so a resume
    does not plan it again."""
    src = make_transcripts(spark, 10, partitions=2)
    src.write.parquet(dirs["src"])
    src.limit(0).write.mode("append").parquet(dirs["src"])
    files = spark.read.parquet(dirs["src"]).inputFiles()
    assert len(files) == 3
    s1 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="z1")
    assert s1["units_completed"] == 3
    empty = [r for r in _manifest(spark, dirs["metrics"]).values()
             if r.rows_in == 0]
    assert len(empty) == 1
    assert (empty[0].rows_out, empty[0].status) == (0, "done")
    s2 = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="z2",
                                 resume=True)
    assert s2["units_completed"] == 0


@pytest.mark.parametrize("mode", ["files", "shuffle"])
def test_committed_files_sorted(spark, dirs, mode):
    """Every committed file is in (conv_id, turn_idx) order, also when
    the input rows are not."""
    (make_transcripts(spark, 40, partitions=3)
     .sortWithinPartitions(F.xxhash64("conv_id", "turn_idx"))
     .write.parquet(dirs["src"]))
    source = (dirs["src"] if mode == "files"
              else spark.read.parquet(dirs["src"]))
    pipeline.run_extraction(spark, source, dirs["out"], n_units=4, mode=mode)
    files = glob.glob(f"{dirs['out']}/unit=*/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t.column("conv_id").to_pylist(),
                        t.column("turn_idx").to_pylist()))
        assert keys == sorted(keys), f


def test_files_mode_runs_at_most_three_jobs(spark, dirs):
    """Source schema, the write, the manifest append — nothing else:
    no persist, no aggregate over the output, no manifest read-back."""
    make_transcripts(spark, 20, partitions=3).write.parquet(dirs["src"])
    sc = spark.sparkContext
    sc.setJobGroup("test_files_mode_jobs", "files-mode extraction")
    try:
        s = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                    metrics=dirs["metrics"], run_id="j1")
        jobs = sc.statusTracker().getJobIdsForGroup("test_files_mode_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s["units_completed"] == 3
    assert len(jobs) <= 3, jobs


def test_files_mode_lists_40_files_once(spark, dirs):
    """Above Spark's parallel-listing threshold (32 paths) the pending
    scan still reuses the listing read's file index: no listing job,
    and the `input_file_name` units are the plan's units.  A resume
    over part of the files prunes the done ones by file metadata."""
    make_transcripts(spark, 80, partitions=40).write.parquet(dirs["src"])
    plan = set(_units(spark, dirs["src"]))
    assert len(plan) == 40
    sc = spark.sparkContext
    sc.setJobGroup("test_files_mode_40", "files-mode extraction")
    try:
        s = pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                    metrics=dirs["metrics"], run_id="f1")
        jobs = sc.statusTracker().getJobIdsForGroup("test_files_mode_40")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s["units_completed"] == 40
    assert len(jobs) <= 3, jobs
    out = spark.read.parquet(dirs["out"])
    assert {r.unit for r in out.select("unit").distinct().collect()} == plan

    redo = sorted(plan)[:5]
    for u in redo:
        shutil.rmtree(f"{dirs['out']}/unit={u}")
    bio.rewrite_manifest(bio.read_manifest(spark, dirs["metrics"])
                         .filter(~F.col("unit").isin(redo)), dirs["metrics"])
    s2 =pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                                 metrics=dirs["metrics"], run_id="f2",
                                 resume=True)
    assert s2["units_completed"] == 5
    spark.catalog.refreshByPath(dirs["out"])
    back = spark.read.parquet(dirs["out"])
    assert back.count() == spark.read.parquet(dirs["src"]).count()
    assert {r.unit for r in back.select("unit").distinct().collect()} == plan


def test_pipeline_never_persists():
    """The manifest needs no cache of the output: pipeline.py holds no
    persist/cache call, no StorageLevel, and none of the removed
    aggregate/read-back helpers."""
    with open(PIPELINE_PY) as f:
        tree = ast.parse(f.read())
    names = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    names |= {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {a.name for n in ast.walk(tree)
              if isinstance(n, (ast.Import, ast.ImportFrom))
              for a in n.names}
    names |= {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    banned = {"persist", "cache", "StorageLevel", "_build_manifest",
              "_written_unit_count"}
    assert not names & banned


def test_arrow_paths_maps_spark_uris(spark):
    from pyarrow import fs as pafs
    located = bio.arrow_paths(spark, ["file:/tmp/a%20b/part-0.parquet",
                                      "file:///tmp/c/part-1.parquet"])
    assert [p for _, p in located] == ["/tmp/a b/part-0.parquet",
                                       "/tmp/c/part-1.parquet"]
    assert isinstance(located[0][0], pafs.LocalFileSystem)
    assert located[0][0] is located[1][0]
    # a relative path resolves against the Hadoop working directory
    [(_, rel)] = bio.arrow_paths(spark, ["out dir/x"])
    assert rel.startswith("/") and rel.endswith("/out dir/x")


@pytest.fixture()
def viewfs(spark, tmp_path):
    """A Hadoop view filesystem `viewfs://cluster/data` mounted on a
    local directory: a store Spark writes and pyarrow cannot open."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "fs.viewfs.mounttable.cluster.link./data"
    conf.set(key, (tmp_path / "mnt").as_uri())
    yield conf, tmp_path / "mnt"
    conf.unset(key)


def test_bare_path_qualified_through_hadoop_conf(spark, viewfs):
    """A bare output path resolves against `fs.defaultFS`, as Spark
    resolves it, not against the driver's local disk."""
    conf, _ = viewfs
    default = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "viewfs://cluster/")
    try:
        assert bio.qualify(spark, "/data/out x") == \
            "viewfs://cluster/data/out%20x"
        assert bio.qualify(spark, "rel/out").startswith("viewfs://cluster/")
    finally:
        conf.set("fs.defaultFS", default)
    assert urlsplit(bio.qualify(spark, "/data/out"))[:3] == \
        ("file", "", "/data/out")


def test_unreadable_store_fails_before_write(spark, dirs, viewfs):
    """An output store pyarrow cannot read fails the run before the
    write: nothing is committed and no manifest row is appended."""
    _, mnt = viewfs
    make_transcripts(spark, 10, partitions=2).write.parquet(dirs["src"])
    with pytest.raises(Exception, match="(?i)viewfs|hdfs|filesystem"):
        pipeline.run_extraction(spark, dirs["src"], "viewfs://cluster/data/x",
                                metrics=dirs["metrics"], run_id="v1")
    assert not os.path.exists(mnt / "x")
    assert bio.read_manifest(spark, dirs["metrics"]) is None


def test_s3a_options_carry_hadoop_settings():
    conf = {"fs.s3a.endpoint": "http://minio.local:9000",
            "fs.s3a.path.style.access": "true",
            "fs.s3a.access.key": "AK", "fs.s3a.secret.key": "SK",
            "fs.s3a.bucket.other.endpoint": "s3.eu-west-1.amazonaws.com",
            "fs.s3a.bucket.other.endpoint.region": "eu-west-1",
            "fs.s3a.bucket.other.path.style.access": "false"}
    assert bio.s3a_options(conf.get, "bkt") == {
        "access_key": "AK", "secret_key": "SK", "scheme": "http",
        "endpoint_override": "minio.local:9000",
        "force_virtual_addressing": False}
    assert bio.s3a_options(conf.get, "other") == {
        "access_key": "AK", "secret_key": "SK", "region": "eu-west-1",
        "scheme": "https",
        "endpoint_override": "s3.eu-west-1.amazonaws.com",
        "force_virtual_addressing": True}
    assert bio.s3a_options({}.get, "bkt") == {"scheme": "https"}


def test_one_listing_above_unit_listings_max(spark, dirs, monkeypatch):
    """The recursive listing of the output gives the same manifest as a
    listing per unit directory."""
    make_transcripts(spark, 30, partitions=3).write.parquet(dirs["src"])
    pipeline.run_extraction(spark, dirs["src"], dirs["out"],
                            metrics=dirs["metrics"], run_id="l1")
    units = list(_units(spark, dirs["src"]))
    [out] = bio.arrow_paths(spark, [dirs["out"]])
    each = bio.partition_footers(out, units, ("conv_id",))
    monkeypatch.setattr(bio, "UNIT_LISTINGS_MAX", 0)
    once = bio.partition_footers(out, units + [12345], ("conv_id",))
    assert once.pop(12345) == []
    assert {u: sorted((f.rows, f.stats["conv_id"]) for f in fs)
            for u, fs in once.items()} == \
        {u: sorted((f.rows, f.stats["conv_id"]) for f in fs)
         for u, fs in each.items()}
    assert all(each.values())


def test_catalog_target_counts_committed_table(spark, dirs, monkeypatch):
    """A catalog-table target has no path to list: its output side is
    one grouped count over the committed table for this run's units
    (the writer and `spark.read.table` stand in for a catalog)."""
    from pyspark.sql.readwriter import DataFrameReader

    make_transcripts(spark, 20, partitions=3).write.parquet(dirs["src"])
    monkeypatch.setattr(
        bio, "write_extracted",
        lambda df, target, partition_col="unit":
            df.write.partitionBy(partition_col).parquet(dirs["out"]))
    monkeypatch.setattr(DataFrameReader, "table",
                        lambda self, name: spark.read.parquet(dirs["out"]))
    spark.conf.set("spark.sql.catalog.cat", "org.example.FakeCatalog")
    try:
        s = pipeline.run_extraction(spark, dirs["src"], "cat.db.extracted",
                                    metrics=dirs["metrics"], run_id="t1")
    finally:
        spark.conf.unset("spark.sql.catalog.cat")
    m = _manifest(spark, dirs["metrics"])
    assert s["units_completed"] == len(m) == 3
    out = spark.read.parquet(dirs["out"])
    want = {r.unit: (r.n, r.lo, r.hi) for r in out.groupBy("unit").agg(
        F.count(F.lit(1)).alias("n"), F.min("conv_id").alias("lo"),
        F.max("conv_id").alias("hi")).collect()}
    assert {u: (r.rows_out, r.conv_id_min, r.conv_id_max)
            for u, r in m.items()} == want
    assert all(r.rows_in == r.rows_out and r.status == "done"
               for r in m.values())
