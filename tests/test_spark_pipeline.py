"""Distributed pipeline tests: Spark output must equal the frozen oracle
per turn under stable (conv_id, turn_idx) ordering — the engine's
correctness contract (BASELINE.json north_rule)."""

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from batukh_spark import kernels, pipeline
from batukh_spark.corpus import expected_total_turns, make_transcripts
from batukh_spark.oracle import extract as oracle_extract
from fixture_corpus import FIXTURES

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "fixtures",
                           "golden_spans.json")

_SCHEMA_SQL = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")


def _inputs(df):
    """(conv_id, turn_idx) -> input row: the kernel output drops `text`."""
    return {(r.conv_id, r.turn_idx): r for r in df.collect()}


def test_corpus_deterministic_across_partitioning(spark):
    a = make_transcripts(spark, 40, partitions=2).orderBy(
        "conv_id", "turn_idx").collect()
    b = make_transcripts(spark, 40, partitions=13).orderBy(
        "conv_id", "turn_idx").collect()
    assert a == b
    assert len(a) == expected_total_turns(40)


def test_spark_extraction_equals_oracle(spark):
    df = make_transcripts(spark, 60, mega_every=29, mega_turns=120)
    inputs = _inputs(df)
    rows = kernels.extract_turns(df).select(
        "conv_id", "turn_idx", "extracted_text", "family").collect()
    assert len(rows) == len(inputs)
    for r in rows:
        i = inputs[(r.conv_id, r.turn_idx)]
        want = oracle_extract(i.text, role=i.role, tool=i.tool)
        assert r.extracted_text == want.extracted_text, \
            f"mismatch at {r.conv_id}/{r.turn_idx}"
        assert r.family == want.family


def test_extraction_partitioning_invariance(spark):
    df = make_transcripts(spark, 30)
    a = kernels.extract_turns(df.repartition(2)).select(
        "conv_id", "turn_idx", "extracted_text").orderBy(
        "conv_id", "turn_idx").collect()
    b = kernels.extract_turns(df.repartition(16)).select(
        "conv_id", "turn_idx", "extracted_text").orderBy(
        "conv_id", "turn_idx").collect()
    assert a == b


def test_golden_fixtures_through_spark(spark):
    with open(GOLDEN_PATH) as f:
        golden = {(g["conv_id"], g["turn_idx"]): g for g in json.load(f)}
    rows = [Row(conv_id=f["conv_id"], turn_idx=f["turn_idx"],
                role=f["role"], text=f["text"], tool=f["tool"], ts=None)
            for f in FIXTURES]
    df = spark.createDataFrame(rows, schema=_SCHEMA_SQL)
    out = kernels.extract_turns(df).collect()
    assert len(out) == len(FIXTURES)
    for r in out:
        g = golden[(r.conv_id, r.turn_idx)]
        assert r.extracted_text == g["extracted_text"], \
            f"{r.conv_id}/{r.turn_idx}"
        got_spans = [{"start": s["start"], "end": s["end"], "kind": s["kind"]}
                     for s in (r.spans or [])]
        want_spans = [{"start": s["start"], "end": s["end"],
                       "kind": s["kind"]} for s in g["spans"]]
        assert got_spans == want_spans, f"{r.conv_id}/{r.turn_idx}"


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("out", "metrics", "out2")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_pipeline_run_resume_identical(spark, tmpdirs):
    df = make_transcripts(spark, 50, mega_every=17, mega_turns=100)
    n_units = 8
    s1 = pipeline.run_extraction(spark, df, tmpdirs["out"],
                                 metrics=tmpdirs["metrics"],
                                 run_id="run1", n_units=n_units)
    assert s1["units_completed"] == n_units
    full = spark.read.parquet(tmpdirs["out"])
    assert full.count() == df.count()

    # resume with everything done -> zero units reprocessed
    s2 = pipeline.run_extraction(spark, df, tmpdirs["out"],
                                 metrics=tmpdirs["metrics"],
                                 run_id="run2", n_units=n_units, resume=True)
    assert s2["units_completed"] == 0

    # simulate a partial failure: rewrite the manifest keeping only
    # units 0..3 done, and an output containing only those units
    from batukh_spark.sources import io as bio
    manifest = bio.read_manifest(spark, tmpdirs["metrics"])
    partial = manifest.filter(F.col("unit") < 4).collect()
    shutil.rmtree(tmpdirs["metrics"])
    spark.createDataFrame(partial, manifest.schema) \
        .write.parquet(tmpdirs["metrics"])
    partial_rows = full.filter(F.col("unit") < 4)
    partial_rows.write.partitionBy("unit").parquet(tmpdirs["out2"])

    s3 = pipeline.run_extraction(spark, df, tmpdirs["out2"],
                                 metrics=tmpdirs["metrics"],
                                 run_id="run3", n_units=n_units, resume=True)
    assert s3["units_completed"] == n_units - 4

    resumed = spark.read.parquet(tmpdirs["out2"]).select(
        "conv_id", "turn_idx", "extracted_text").orderBy(
        "conv_id", "turn_idx").collect()
    want = full.select("conv_id", "turn_idx", "extracted_text").orderBy(
        "conv_id", "turn_idx").collect()
    assert resumed == want  # no duplicate work, identical final table


def test_manifest_accounting(spark, tmpdirs):
    df = make_transcripts(spark, 20)
    pipeline.run_extraction(spark, df, tmpdirs["out"],
                            metrics=tmpdirs["metrics"], run_id="runA",
                            n_units=4)
    from batukh_spark.sources import io as bio
    m = bio.read_manifest(spark, tmpdirs["metrics"])
    agg = m.agg(F.sum("rows_in").alias("ri"),
                F.sum("rows_out").alias("ro"),
                F.sum("n_errors").alias("ne")).collect()[0]
    assert agg.ri == df.count()
    assert agg.ro == agg.ri  # extraction never silently drops rows (P7)
    assert agg.ne == 0
    latest = pipeline.latest_done_units(spark, tmpdirs["metrics"])
    assert latest.count() == 4
