"""`session.materialize` and `session.named_jobs`: the engine's plan cut
and its driver probes name their jobs and restore the caller's local
properties, and `materialize` is the only checkpoint call site."""

import ast
import pathlib

import pytest

from batukh_spark.session import materialize, named_jobs

PKG = pathlib.Path(__file__).resolve().parent.parent / "batukh_spark"


def _via_materialize(df, name):
    return materialize(df, name).collect()


def _via_named_jobs(df, name):
    with named_jobs(df.sparkSession, name):
        return df.collect()


NAMING = pytest.mark.parametrize(
    "run", [_via_materialize, _via_named_jobs],
    ids=["materialize", "named_jobs"])


@NAMING
def test_name_reaches_tasks_and_is_restored(spark, run):
    from pyspark import TaskContext
    sc = spark.sparkContext
    desc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("batukh.op", "outer")
    try:
        def op_of(batches):
            import pandas as pd
            for b in batches:
                yield pd.DataFrame({"op": [TaskContext.get()
                                           .getLocalProperty("batukh.op")]
                                    * len(b)})

        df = spark.range(0, 40, 1, 4).mapInPandas(op_of, "op string")
        out = run(df, "test_materialize:probe")
        assert len(out) == 40
        assert {r.op for r in out} == {"test_materialize:probe"}
        assert sc.getLocalProperty("batukh.op") == "outer"
        assert sc.getLocalProperty("spark.job.description") == desc
    finally:
        sc.setLocalProperty("batukh.op", None)


@NAMING
def test_properties_restored_on_failure(spark, run):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        with pytest.raises(Exception, match="boom"):
            run(spark.range(1).selectExpr("raise_error('boom')"),
                "test_materialize:fails")
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("batukh.op") is None
    finally:
        sc.setLocalProperty("spark.job.description", None)


def _checkpoint_calls(tree):
    """(enclosing function, line) of every `.localCheckpoint(` or
    `.checkpoint(` call in the module."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("localCheckpoint",
                                            "checkpoint")):
                out.append((fn, child.lineno))
            walk(child, fn)

    walk(tree, None)
    return out


def test_materialize_is_the_only_checkpoint_call():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).as_posix()
        for fn, line in _checkpoint_calls(ast.parse(path.read_text())):
            if (rel, fn) != ("batukh_spark/session.py", "materialize"):
                stray.append(f"{rel}:{line} in {fn}")
    assert not stray, stray
