"""Iceberg-or-parquet IO abstraction (SURVEY §0 environment note).

The engine codes against `read_transcripts` / `write_extracted` /
`append_manifest`.  When a table identifier looks like a catalog table
("cat.db.tbl") AND an Iceberg catalog is configured on the session, the
catalog path is used (`spark.read.table`, `writeTo(...).append()`); plain
paths fall back to parquet — the only runtime available in this sandbox
(no Iceberg jars in the local pyspark install).

Scale notes: writes are partitioned by the work-unit column so a resumed
run overwrites ONLY re-processed units (dynamic partition overwrite) —
the job-commit analogue of per-epoch checkpoint files
(/root/reference/batukh/torch/segmenter.py:304-308).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _is_catalog_table(spark: SparkSession, ident: str) -> bool:
    if "/" in ident or ident.endswith(".parquet"):
        return False
    parts = ident.split(".")
    if len(parts) < 2:
        return False
    cat = parts[0]
    return spark.conf.get(f"spark.sql.catalog.{cat}", None) is not None


def _looks_jsonl(source: str) -> bool:
    """JSONL detection: path suffix OR — for a local directory whose
    name lacks a suffix (the common dump layout: dir of .jsonl part
    files) — the contents.  Non-local URIs (s3:// etc.) can't be
    listed cheaply here; pass fmt='jsonl' explicitly for those."""
    import os
    s = source.rstrip("/")
    if s.endswith((".jsonl", ".json")):
        return True
    if os.path.isdir(s):
        try:
            names = os.listdir(s)
        except OSError:
            return False
        data = [n for n in names if not n.startswith(("_", "."))]
        return bool(data) and all(n.endswith((".jsonl", ".json"))
                                  for n in data)
    return False


def source_format(spark: SparkSession, source: str) -> str:
    """'table' for a catalog identifier, else 'jsonl' or 'parquet' (see
    `_looks_jsonl` for how JSONL is detected)."""
    if _is_catalog_table(spark, source):
        return "table"
    return "jsonl" if _looks_jsonl(source) else "parquet"


def read_transcripts(spark: SparkSession, source: str | list[str],
                     fmt: str | None = None) -> DataFrame:
    """source = catalog table ident, parquet path/dir, or JSONL
    (.jsonl/.json) path/dir — web-scale transcript dumps commonly
    arrive as line-delimited JSON before compaction to parquet — or a
    list of data files of one format (a files-mode plan's pending
    files; pass their source's `fmt`).
    `fmt` ('table' | 'jsonl' | 'parquet') overrides detection; without
    it, JSONL is detected by path suffix or by sniffing a local
    directory's contents (a dir of .jsonl part files routes correctly
    even when the dir name has no suffix)."""
    if fmt is None:
        fmt = source_format(spark, source)
    if fmt == "table":
        return spark.read.table(source)
    paths = [source] if isinstance(source, str) else list(source)
    if fmt in ("jsonl", "json"):
        from batukh_spark.schema import TRANSCRIPTS_SCHEMA
        return (spark.read.schema(TRANSCRIPTS_SCHEMA)
                .option("timestampFormat",
                        "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
                .json(paths))
    return spark.read.parquet(*paths)


def write_extracted(df: DataFrame, target: str, partition_col: str = "unit",
                    dynamic_overwrite: bool = True) -> None:
    spark = df.sparkSession
    if _is_catalog_table(spark, target):
        # Iceberg: overwritePartitions == dynamic overwrite semantics
        df.writeTo(target).overwritePartitions()
        return
    writer = df.write.mode("overwrite")
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(partition_col).parquet(target)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` via the JVM gateway — works for
    any Hadoop-supported scheme (file:, hdfs:, s3a:, ...), unlike
    os.rename/shutil which are POSIX-local only."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _version_dirs(spark: SparkSession, target: str,
                  committed_only: bool = True) -> list:
    """Sorted [(n, uri)] of manifest version dirs (vNNNNNN) under
    `target` — by default only COMMITTED ones (containing _SUCCESS).
    `committed_only=False` also returns orphans left by a crashed
    write: callers use that to (a) route versioned-vs-legacy on the
    LAYOUT rather than on commit state and (b) pick the next version
    number above any orphan instead of colliding with it."""
    import re
    jvm = spark._jvm
    fs, root = _hadoop_fs(spark, target)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and re.fullmatch(r"v\d{6}", name):
            if not committed_only or fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        st.getPath(), "_SUCCESS")):
                out.append((int(name[1:]), st.getPath().toString()))
    return sorted(out)


def _legacy_root_files(spark: SparkSession, target: str) -> list:
    """URIs of loose data files at the store ROOT (the legacy
    un-versioned layout): plain files, excluding _-prefixed markers
    and any vNNNNNN version dirs."""
    fs, root = _hadoop_fs(spark, target)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() and not name.startswith(("_", ".")):
            out.append(st.getPath().toString())
    return out


def append_manifest(df: DataFrame, target: str) -> None:
    """Append manifest rows into the CURRENT version dir (vNNNNNN) of
    the versioned layout — created at v000001 on first write.  A
    legacy un-versioned store (loose part files at the root) keeps
    receiving root appends until its first compaction migrates it.

    Crash-window routing: a crashed write can leave an orphan version
    dir without _SUCCESS.  Committed state wins — a committed version
    receives the append; else committed LEGACY root files do (an
    orphan left by a crashed first compaction must not strand the
    still-committed legacy rows); only a store whose ONLY content is
    uncommitted orphans opens the NEXT version number (never writing
    into a possibly-torn orphan — a crash during commitJob can leave a
    subset of task files behind, and committing on top of them would
    surface the torn rows)."""
    spark = df.sparkSession
    if _is_catalog_table(spark, target):
        df.writeTo(target).append()
        return
    vers = _version_dirs(spark, target)
    if vers:
        df.write.mode("append").parquet(vers[-1][1])
        return
    if _legacy_root_files(spark, target):
        df.write.mode("append").parquet(target)     # legacy layout
        return
    allv = _version_dirs(spark, target, committed_only=False)
    if allv:
        # only uncommitted orphans exist: start fresh above the
        # highest orphan (GC'd at the next compaction)
        next_n = allv[-1][0] + 1
        df.write.mode("append").parquet(
            f"{target.rstrip('/')}/v{next_n:06d}")
        return
    df.write.mode("append").parquet(f"{target.rstrip('/')}/v000001")


def rewrite_manifest(df: DataFrame, target: str) -> None:
    """Replace the manifest table contents (retention compaction) with
    object-store-safe commit semantics: the survivor rows are written
    to the NEXT version dir `vNNNNNN` (Spark's committer drops
    _SUCCESS last), readers always pick the highest version that HAS
    _SUCCESS, and only after the new version is committed are older
    versions garbage-collected.  No rename is ever issued on the data
    path — on S3-class stores rename is copy+delete and not atomic,
    which is exactly the crash window the previous tmp-and-rename
    swap reintroduced at scale.  A crash at any point leaves either
    the old version (new one uncommitted, ignored) or both (GC
    unfinished, highest wins; re-collected on the next compaction).
    Single-writer assumption: appends must not race a compaction —
    rows appended to the old version after the survivor snapshot was
    taken would be dropped with it (same caveat as any
    snapshot-compact scheme; the Iceberg branch gets transactions
    from the catalog instead)."""
    spark = df.sparkSession
    if _is_catalog_table(spark, target):
        df.writeTo(target).replace()
        return
    jvm = spark._jvm
    base = target.rstrip("/")
    # number above ANY existing version dir (committed or orphaned) so
    # the new snapshot never lands inside a torn crash leftover
    allv = _version_dirs(spark, target, committed_only=False)
    next_n = (allv[-1][0] + 1) if allv else 1
    df.write.mode("overwrite").parquet(f"{base}/v{next_n:06d}")
    # committed — GC every older version (including orphans), legacy
    # loose root files, and pre-versioning .tmp/.old siblings
    fs, root = _hadoop_fs(spark, target)
    for n, uri in allv:
        if n < next_n:
            fs.delete(jvm.org.apache.hadoop.fs.Path(uri), True)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() and not name.startswith("v"):
            fs.delete(st.getPath(), False)
    for sib in (base + ".tmp", base + ".old"):
        p = jvm.org.apache.hadoop.fs.Path(sib)
        if fs.exists(p):
            fs.delete(p, True)


def read_manifest(spark: SparkSession, target: str) -> DataFrame | None:
    """Read the committed manifest: highest vNNNNNN version dir with
    _SUCCESS, falling back to the legacy un-versioned layout (root
    parquet, then the pre-versioning `.old` swap sibling).

    Errors on the catalog / versioned path PROPAGATE: a transient IO
    failure on a store that has committed versions must not be
    reported as "no manifest" — that would make resume silently
    re-extract every unit and append duplicate manifest rows.  A
    MISSING catalog table, however, is the catalog analogue of the
    missing-path first-run signal and returns None.  The legacy read
    lists the root's loose files EXPLICITLY, so an uncommitted orphan
    version dir (crashed first compaction) can neither hide committed
    legacy rows nor leak its torn part-files into the result."""
    if _is_catalog_table(spark, target):
        if not spark.catalog.tableExists(target):
            return None                  # first run: table not created
        return spark.read.table(target)
    vers = _version_dirs(spark, target)
    if vers:
        return spark.read.parquet(vers[-1][1])
    legacy = _legacy_root_files(spark, target)
    if legacy:
        return spark.read.parquet(*legacy)
    if _version_dirs(spark, target, committed_only=False):
        # only uncommitted orphans: nothing committed yet
        return None
    try:
        return spark.read.parquet(target.rstrip("/") + ".old")
    except Exception:
        return None  # first run (no manifest yet) or mid-swap crash
