"""One Python worker pool, and a small fixed Python cost per task.

Frames the package builds on the driver cross as Arrow local relations,
so no operator scans a pickled Python RDD (whose tasks would need a
second worker daemon).  Inside a Python worker, once an engine crossing
has run there, `importlib.invalidate_caches()` — which PySpark calls
before every task — re-parses no zip directory, and the objects alive
then are frozen out of the per-task `gc.collect()`."""

import ast
import gc
import glob
import importlib
import os
import sys
import time
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from batukh_spark import worker
from batukh_spark.session import arrow_frame

PKG = os.path.join(os.path.dirname(__file__), "..", "batukh_spark")


def _docs(spark, n=40):
    langs = ["en", "fr", None]
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "seq_id": pa.array(range(n), pa.int64()),
        "chunk_idx": pa.array([0] * n, pa.int64()),
        "lang": pa.array([langs[i % 3] for i in range(n)], pa.string()),
        "n_tokens": pa.array([5 + i % 7 for i in range(n)], pa.int64()),
        "text": pa.array([f"low lower lowest new{i % 4} newer"
                          for i in range(n)], pa.string())}))


def _executed_plan(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan


def _python_rdd_scans(df) -> list[str]:
    """The scans in `df`'s executed plan whose RDD derives from a
    Python RDD.  A checkpoint's scan also prints as `Scan ExistingRDD`,
    so the RDD lineage tells them apart."""
    found, stack = [], [_executed_plan(df)]
    while stack:
        p = stack.pop()
        if p.getClass().getSimpleName() == "RDDScanExec" \
                and "PythonRDD" in p.rdd().toDebugString():
            found.append(p.toString())
        ch = p.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return found


def _operators():
    from batukh_spark.operators.sampling import (interleave_domains,
                                                 token_budget_sample)
    from batukh_spark.operators.text import (epoch_order,
                                             length_bucketed_batches,
                                             pack_sequences)
    from batukh_spark.operators.vocab import bpe_token_counts, train_bpe
    return {
        "pack_sequences": lambda d: pack_sequences(d, seq_len=16),
        "token_budget_sample": lambda d: token_budget_sample(d, budget=60),
        "interleave_domains": lambda d: interleave_domains(d),
        "length_bucketed_batches":
            lambda d: length_bucketed_batches(d, batch_max_tokens=32),
        "epoch_order": lambda d: epoch_order(d, 1),
        "train_bpe": lambda d: train_bpe(d, n_merges=3),
        "bpe_token_counts": lambda d: bpe_token_counts(d, n_merges=3),
    }


@pytest.mark.parametrize("name", sorted(_operators()))
def test_driver_built_frames_scan_no_python_rdd(spark, name):
    """The five `_prefix_before` operators (offsets frame), `train_bpe`
    (merge table) and `bpe_token_counts` (segmentation frame) plan an
    Arrow local relation where a Python list would have planned a
    Python-RDD scan."""
    out = _operators()[name](_docs(spark))
    assert out.count() > 0
    assert _python_rdd_scans(out) == []
    assert "LocalTableScan" in _executed_plan(out).toString()


def test_python_rdd_scan_is_detected(spark):
    """The plan check above sees a frame built from a Python list."""
    assert _python_rdd_scans(spark.createDataFrame([(1,)], "a long"))


def test_create_dataframe_only_through_arrow_frame():
    """The package's only `createDataFrame` call is `session.arrow_frame`,
    which takes nothing but a `pyarrow.Table`."""
    sites = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) \
                        and isinstance(node.func, ast.Attribute) \
                        and node.func.attr == "createDataFrame":
                    sites.append((os.path.relpath(path, PKG), fn.name))
    assert sites == [("session.py", "arrow_frame")]


def test_arrow_frame_rejects_python_rows(spark):
    with pytest.raises(TypeError):
        arrow_frame(spark, [(1, "a")])
    t = pa.table({"a": pa.array([1, None], pa.int64()),
                  "g": pa.array([None, None], pa.null())})
    df = arrow_frame(spark, t)
    assert [f.dataType.typeName() for f in df.schema] == ["long", "void"]
    assert df.count() == 2


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, ["zg_first"])
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker, "_read_stat", {})
    for m in ("zg_first", "zg_second"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    importlib.import_module("zg_first")
    worker.install_zip_guard()

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    time.sleep(0.01)  # a distinct mtime even on coarse clocks
    _write_zip(archive, ["zg_first", "zg_second"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zg_second").NAME == "zg_second"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_prepare_worker_runs_once(monkeypatch):
    """The guard goes in once and the objects alive then are frozen out
    of the cyclic GC once; the driver is not a worker."""
    assert not worker.on_worker()
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    # count the freezes: the frozen count itself drops whenever a frozen
    # object is freed by reference counting
    freezes, freeze = [], gc.freeze
    monkeypatch.setattr(gc, "freeze", lambda: (freezes.append(1), freeze()))
    try:
        worker.prepare_worker()
        guarded = zipimport.zipimporter.invalidate_caches
        assert gc.get_freeze_count() > 0
        worker.prepare_worker()
        assert zipimport.zipimporter.invalidate_caches is guarded
        assert freezes == [1]
    finally:
        gc.unfreeze()


def _probes():
    """(pandas_udf, plain function) reporting '<zip directory reads
    across two invalidate_caches()>,<zipimporters on sys.path>,<objects
    frozen out of the cyclic GC>' for the worker that runs them.  Built
    in a function so they are pickled by value and import nothing from
    the package or the tests."""
    def count():
        import gc as g
        import importlib as il
        import sys as s
        import zipimport as zi
        reads = []
        real = zi._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        n = sum(isinstance(i, zi.zipimporter)
                for i in s.path_importer_cache.values())
        return f"{len(reads)},{n},{g.get_freeze_count()}"

    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        return pd.Series([count()] * len(x))

    return probe, count


def _after_gram_hashes(spark):
    """The probe chained onto `decontam.gram_hashes`, a closure pickled
    by value: both run in one worker, the engine's UDF first."""
    from batukh_spark.operators.decontam import gram_hashes
    from batukh_spark.operators.text import tokens_col
    probe, _ = _probes()
    docs = _docs(spark, 8).repartition(2)
    return docs.select(
        probe(gram_hashes(tokens_col(F.col("text")), 2)).alias("r"))


def _after_kernel(spark):
    """The probe run in the extraction kernel's worker after each of its
    batches; the kernel arrives by reference, as in
    `kernels.extract_turns`."""
    from batukh_spark.corpus import make_transcripts
    from batukh_spark.kernels import extract_turns_lean
    _, count = _probes()

    def kernel_then_probe(batches):
        for b in extract_turns_lean(batches):
            yield pa.RecordBatch.from_pydict({"r": [count()] * b.num_rows})

    src = make_transcripts(spark, 6, partitions=2).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    return src.mapInArrow(kernel_then_probe, "r string")


@pytest.mark.parametrize("crossing", [_after_gram_hashes, _after_kernel])
def test_worker_task_reparses_no_zip_directory(spark, crossing):
    results = {r.r for r in crossing(spark).collect()}
    assert results
    for r in results:
        reads, importers, frozen = map(int, r.split(","))
        assert importers > 0, r   # pyspark.zip is on the worker's path
        assert reads == 0, r
        assert frozen > 0, r
