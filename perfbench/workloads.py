"""The benchmark workloads, each run in one Spark session.

A run is: session start plus a warm-up (together `setup_s`), input
preparation (cached, outside every timing), timed passes until `seconds`
have been measured, and the correctness checks, each outside the window of
the pass it checks.  A traced run then adds one more pass with spans, job
tags and the event log, and derives the per-layer metrics from it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

from perfbench import eventlog, inputs, procstat
from perfbench.fingerprint import Tally, check_result
from perfbench.spans import Spans

# training_batches runs the whole training_mix pipeline and packs its
# output, so timing training_mix on its own would repeat that work
CAPSTONES = ["training_batches", "sft_mix"]
# registry queries over the documents table that the capstones are not:
# the capstones' warm-up runs these, so the JVM and the Python workers are
# warm but each capstone's own planning, codegen and eager
# materializations happen, as in a fresh training job, in the timed pass
WARM_QUERIES = ["token_counts", "dedup_exact", "quality_score", "lang_id"]
EXPECTED_CAPSTONES = os.path.join(os.path.dirname(__file__),
                                  "expected_capstones.json")
SAMPLE_EVERY = 360          # every 360th input turn is oracle-checked
# the JVM keeps compiling hot code for several passes after the first
WARM_PASSES = 3
# extraction passes are short: a median over at least three of them
MIN_EXTRACT_PASSES = 3


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, root: str, cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.cores = traced, cores
        self.tracing = False                 # true during the traced pass
        self.work = os.path.join(root, ".perfbench_work")
        self.scratch = os.path.join(self.work, "run")
        self.tally = Tally()
        self.spans = Spans()
        self.passes: list[dict] = []
        self.traced_pass: dict | None = None
        self.overhead: float | None = None   # traced / untraced wall_s
        self.info: dict = {"workload": workload, "seed": seed,
                           "cores": cores}
        self.layers: dict[str, float] = {}
        self.spark = None

    # -- session --------------------------------------------------------------

    def _conf(self) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.scratch, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def _tag(self, **props) -> dict:
        """Set `perfbench.*` local properties, which the event log records
        on every job; returns the previous values."""
        sc = self.spark.sparkContext
        old = {k: sc.getLocalProperty(f"perfbench.{k}") for k in props}
        for k, v in props.items():
            sc.setLocalProperty(f"perfbench.{k}", v)
        return old

    @contextmanager
    def tagged(self, **props):
        old = self._tag(**props)
        try:
            yield
        finally:
            self._tag(**old)

    def setup(self, warm_up) -> None:
        """Session start, then `warm_up(self)`, which returns the seconds it
        spent making cached inputs (not part of `setup_s`)."""
        from batukh_spark.session import get_spark

        shutil.rmtree(self.scratch, ignore_errors=True)
        for d in ("tmp", "run/eventlog", "spark-local"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               cores=self.cores, extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.tagged(phase="warmup"):
            made_s = warm_up(self)
        t2 = time.perf_counter()
        self.info.update(session_s=t1 - t0, warm_up_s=t2 - t1 - made_s,
                         setup_s=t2 - t0 - made_s,
                         warm_up_retained_cache_mb=self._release())

    def _release(self) -> float:
        """MB of persisted and checkpointed blocks still held, then
        release them (recorded first, so a leaked persist is reported)."""
        sc = self.spark.sparkContext
        held = sum(r.memSize() + r.diskSize()
                   for r in sc._jsc.sc().getRDDStorageInfo()) / 2**20
        self.spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        return held

    def _codegen(self) -> tuple[int, float]:
        """Spark's whole-process counters: classes compiled, seconds."""
        jvm = self.spark._jvm
        count = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME().getCount()
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator.compileTime()
        return count, ns / 1e9

    def stop(self) -> None:
        """Stop the session, then the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- timing ---------------------------------------------------------------

    def _timed(self, body, phase: str):
        """Run `body()` as one pass; returns (result, sample)."""
        # every pass starts from a collected heap, so the JVM's share of
        # the peak RSS does not depend on garbage left by earlier work
        self.spark._jvm.System.gc()
        with self.tagged(phase=phase):
            cg0 = self._codegen()
            cpu0 = procstat.tree_cpu_s()
            with procstat.PeakRss() as rss:
                t0 = time.perf_counter()
                with self.spans.span("pass", phase=phase):
                    result = body()
                wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s() - cpu0
            cg1 = self._codegen()
        return result, {
            "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb,
            "codegen_compiles": cg1[0] - cg0[0],
            "codegen_compile_s": cg1[1] - cg0[1],
            "retained_cache_mb": self._release()}

    def repeat(self, body, check, min_passes: int = 1) -> None:
        """Timed passes until `seconds` have been measured and at least
        `min_passes` made; `check(result)` runs after each pass, outside
        its window.  A traced run then makes one traced pass."""
        start = time.perf_counter()
        while True:
            result, sample = self._timed(body, "timed")
            self.passes.append(sample)
            check(result)
            if time.perf_counter() - start >= self.seconds and \
                    len(self.passes) >= min_passes:
                break
        if self.traced:
            result, self.traced_pass = self._traced(body, "traced")
            check(result)
            self.overhead = self.traced_pass["wall_s"] / \
                self.end_to_end()["wall_s"]

    def once(self, body, check) -> None:
        """One timed pass of work this process has not run before: a
        second pass would measure it warm.  A traced run traces that pass
        instead, then takes the tracing overhead from a traced repeat of
        it between two untraced ones (repeats still get faster, so the
        untraced pair brackets the traced one)."""
        if not self.traced:
            result, sample = self._timed(body, "timed")
            self.passes.append(sample)
            check(result)
            return
        result, self.traced_pass = self._traced(body, "traced")
        check(result)
        kept, self.spans = self.spans, Spans()
        plain = []
        for traced in (False, True, False):
            if traced:
                result, again = self._traced(body, "traced_repeat")
            else:
                result, sample = self._timed(body, "repeat")
                plain.append(sample["wall_s"])
            check(result)
        self.spans = kept
        self.overhead = again["wall_s"] / statistics.mean(plain)

    def _traced(self, body, phase: str):
        self._install_spans()
        self.tracing = True
        try:
            return self._timed(body, phase)
        finally:
            self.tracing = False
            self.spans.unwrap_all()

    def end_to_end(self) -> dict[str, float]:
        # a traced run of a single-pass workload has only its traced pass
        passes = self.passes or [self.traced_pass]
        out = {k: statistics.median(p[k] for p in passes)
               for k in ("wall_s", "cpu_s", "peak_rss_mb")}
        return {"setup_s": self.info["setup_s"], **out}

    # -- traced pass ----------------------------------------------------------

    def _install_spans(self) -> None:
        from batukh_spark import pipeline
        from batukh_spark.sources import io as bio

        self.spans.wrap(pipeline, "run_extraction", "pipeline.run")
        self.spans.wrap(bio, "write_extracted", "io.write")
        self.spans.wrap(bio, "append_manifest", "io.manifest")
        cls = type(self.spark.range(1))
        for attr in ("localCheckpoint", "checkpoint"):
            self.spans.wrap(cls, attr, "operators.checkpoint",
                            around=lambda: self.tagged(step="checkpoint"))

    def trace_layers(self) -> None:
        """Per-layer metrics of the traced pass (call after `stop`)."""
        events = eventlog.read(glob.glob(
            os.path.join(self.scratch, "eventlog", "*"))[0])
        p = self.traced_pass
        d = eventlog.summarize(events, phase="traced").as_dict()
        L = self.layers
        L["session.start_s"] = self.info["session_s"]
        L["kernels.python_run_s"] = d["python_run_s"]
        L["kernels.python_start_s"] = d["python_start_s"]
        L["kernels.to_python_mb"] = d["to_python_mb"]
        L["kernels.from_python_mb"] = d["from_python_mb"]
        L["pipeline.python_busy_share"] = \
            d["python_run_s"] / (self.cores * p["wall_s"])
        L["spark.task_skew"] = d["task_skew"]
        # the traced pass splits into time with a Spark job running and
        # time without: planning, listing, building DataFrames, driver code
        L["spark.job_time_s"] = d["jobs_s"]
        L["driver.plan_s"] = p["wall_s"] - d["jobs_s"]
        for k in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                  "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"):
            L[f"spark.{k}"] = d[k]
        L["operators.checkpoint_jobs"] = eventlog.summarize(
            events, phase="traced", step="checkpoint").jobs
        L["operators.checkpoint_s"] = self.spans.total("operators.checkpoint")
        L["codegen.compiles"] = p["codegen_compiles"]
        L["codegen.compile_s"] = p["codegen_compile_s"]
        L["mem.peak_rss_mb"] = p["peak_rss_mb"]
        L["mem.retained_cache_mb"] = p["retained_cache_mb"]
        L["trace.overhead"] = self.overhead
        # the pipeline's own time before its write starts is planning:
        # file listing, the unit plan and DataFrame construction
        run = self.spans.first("pipeline.run")
        write = self.spans.first("io.write")
        L["pipeline.plan_s"] = write["start"] - run["start"] if write else 0.0
        L["io.write_s"] = self.spans.total("io.write")
        L["io.manifest_s"] = self.spans.total("io.manifest")
        L["pipeline.other_s"] = (self.spans.total("pipeline.run")
                                 - L["pipeline.plan_s"] - L["io.write_s"]
                                 - L["io.manifest_s"])
        for step in ("build", "plan", "exec"):
            L[f"queries.{step}_s"] = self.spans.total(f"query.{step}")
        self.info["per_query"] = {
            q: {**{f"{s}_s": self.spans.total(f"query.{s}", query=q)
                   for s in ("build", "plan", "exec")},
                **eventlog.summarize(events, phase="traced",
                                     query=q).as_dict(),
                "checkpoint_jobs": eventlog.summarize(
                    events, phase="traced", query=q,
                    step="checkpoint").jobs}
            for q in CAPSTONES if self.workload == "train_capstones"}


# ---------------------------------------------------------------------------
# extract_files


def _corpus(run: Run) -> inputs.Corpus:
    with run.tagged(phase="prepare"):
        pool = inputs.ensure_pool(run.spark, run.work)
    return inputs.ensure_corpus(pool, run.work, run.seed, run.cores)


def _extract(run: Run, corpus: inputs.Corpus, out: str) -> dict:
    from batukh_spark import pipeline
    return pipeline.run_extraction(
        run.spark, corpus.path, f"{out}/extracted",
        metrics=f"{out}/manifest", run_id=os.path.basename(out),
        mode="files")


def warm_extraction(run: Run) -> float:
    """Untimed extractions of the seed's corpus: the timed passes then
    start with every worker forked and the JVM's code paths compiled."""
    t0 = time.perf_counter()
    corpus = _corpus(run)
    made_s = time.perf_counter() - t0
    for i in range(WARM_PASSES):
        out = os.path.join(run.scratch, f"warm{i}")
        _extract(run, corpus, out)
        shutil.rmtree(out, ignore_errors=True)
    return made_s


def extract_files(run: Run) -> None:
    """File-mode extraction of the seed's corpus into a fresh output and
    manifest per pass; every pass is checked outside its window."""
    corpus = _corpus(run)
    run.info["corpus"] = {"rows": corpus.rows, "text_bytes": corpus.text_bytes,
                          "files": corpus.n_files}
    run.info["turns"] = corpus.expected_rows
    sample = _input_sample(corpus.path)
    count = iter(range(1 << 30))

    def one_pass():
        out = os.path.join(run.scratch, f"pass{next(count)}")
        return out, _extract(run, corpus, out)

    def check(result):
        out, summary = result
        _check_extraction(run.tally, out, summary, corpus, sample)
        shutil.rmtree(out, ignore_errors=True)

    run.repeat(one_pass, check, MIN_EXTRACT_PASSES)


def _input_sample(path: str) -> list[dict]:
    import pyarrow.dataset as ds
    rows = ds.dataset(path, format="parquet").to_table(
        columns=["conv_id", "turn_idx", "role", "text", "tool"]).to_pylist()
    return rows[::SAMPLE_EVERY]


def _check_extraction(tally: Tally, out: str, summary: dict,
                      corpus: inputs.Corpus, sample: list[dict]) -> None:
    """Row count against the closed form, manifest coverage of every
    planned unit (one per input file), and sampled turns against the
    in-process oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from batukh_spark.oracle.extract import extract

    got = ds.dataset(f"{out}/extracted", format="parquet",
                     partitioning=ds.partitioning(
                         pa.schema([("unit", pa.int64())]), flavor="hive")
                     ).to_table(columns=["conv_id", "turn_idx", "unit",
                                         "family", "extracted_text", "error"])
    want = corpus.expected_rows
    tally.check(got.num_rows == want,
                f"extracted rows {got.num_rows} != expected {want}")
    manifest = ds.dataset(glob.glob(f"{out}/manifest/v*")[0],
                          format="parquet").to_table().to_pylist()
    units = {m["unit"] for m in manifest}
    written = set(got.column("unit").to_pylist())
    rows_out = sum(m["rows_out"] for m in manifest)
    tally.check(len(units) == corpus.n_files and units == written
                and summary.get("units_completed") == corpus.n_files
                and rows_out == want,
                f"manifest covers {len(units)} units with {rows_out} rows; "
                f"{len(written)} units written, {corpus.n_files} planned, "
                f"{summary.get('units_completed')} reported complete")
    convs = pa.array(sorted({s["conv_id"] for s in sample}))
    index = {(r["conv_id"], r["turn_idx"]): r for r in got.filter(
        pc.is_in(got.column("conv_id"), value_set=convs)).to_pylist()}
    bad = 0
    for s in sample:
        r = index.get((s["conv_id"], s["turn_idx"]))
        o = extract(s["text"], role=s["role"], tool=s["tool"])
        if r is None or (r["family"], r["extracted_text"], r["error"]) != \
                (o.family, o.extracted_text, o.error):
            bad += 1
    tally.check(bad == 0, f"{bad} of {len(sample)} sampled turns differ "
                          f"from the oracle")


# ---------------------------------------------------------------------------
# train_capstones


def warm_capstones(run: Run) -> float:
    """Every Python worker started, then the warm-up queries over a small
    document table, so the timed pass starts with the planner's and the
    operators' shared code JIT-compiled."""
    from batukh_spark.queries import QUERIES
    t0 = time.perf_counter()
    sf_dir = inputs.ensure_capstone_warm(run.work)
    made_s = time.perf_counter() - t0
    df = run.spark.range(run.cores, numPartitions=run.cores)
    df.mapInArrow(lambda batches: batches, df.schema).collect()
    for name in WARM_QUERIES:
        QUERIES[name][0](run.spark, sf_dir).collect()
    return made_s


def _query_pass(run: Run, names: list[str], sf_dir: str):
    """Each query built, planned and run to a collected result.  The
    traced pass times the three steps apart and tags their jobs."""
    from batukh_spark.queries import QUERIES

    def body():
        results = {}
        for name in names:
            fn = QUERIES[name][0]
            if not run.tracing:
                df = fn(run.spark, sf_dir)
                results[name] = (df.columns, df.collect())
                continue
            with run.tagged(query=name):
                with run.tagged(step="build"), \
                        run.spans.span("query.build", query=name):
                    df = fn(run.spark, sf_dir)
                with run.tagged(step="plan"), \
                        run.spans.span("query.plan", query=name):
                    df._jdf.queryExecution().executedPlan()
                with run.tagged(step="exec"), \
                        run.spans.span("query.exec", query=name):
                    results[name] = (df.columns, df.collect())
        return results
    return body


def _checker(run: Run, expected: dict):
    def check(results):
        for name, (cols, rows) in results.items():
            check_result(run.tally, name, cols, rows, expected.get(name))
    return check


def train_capstones(run: Run) -> None:
    """The capstones, each for the first time in the process, over the
    fixed document table in the seed's row order, checked against the
    committed DuckDB fingerprints."""
    sf_dir, info = inputs.ensure_capstone_tables(run.work, run.seed,
                                                 run.cores)
    run.info["corpus"] = info
    with open(EXPECTED_CAPSTONES) as f:
        committed = json.load(f)
    expected = committed["fingerprints"]
    if committed["documents_sha256"] != info["sha256"]:
        # the table generator changed: no result can be verified
        run.info["stale_expected"] = EXPECTED_CAPSTONES
        expected = {}
    run.once(_query_pass(run, CAPSTONES, sf_dir), _checker(run, expected))


# name -> (warm-up, timed passes with their checks)
WORKLOADS = {
    "extract_files": (warm_extraction, extract_files),
    "train_capstones": (warm_capstones, train_capstones),
}
