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

File metadata (`read_footers`, `partition_footers`) is read on the
driver with pyarrow, never with a Spark job: the manifest takes record
counts, column bounds and null counts from parquet footers, as an
Iceberg manifest does.  `arrow_paths` maps the Hadoop URIs Spark uses
to pyarrow filesystems.
"""

from __future__ import annotations

import posixpath
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession

# driver threads reading file metadata: footer reads are small and
# latency-bound (one or two ranged GETs on an object store)
FOOTER_THREADS = 16
# above this many units, `partition_footers` lists the output once
UNIT_LISTINGS_MAX = 256


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


def read_transcripts(spark: SparkSession, source: str,
                     fmt: str | None = None) -> DataFrame:
    """source = catalog table ident, parquet path/dir, or JSONL
    (.jsonl/.json) path/dir — web-scale transcript dumps commonly
    arrive as line-delimited JSON before compaction to parquet.
    `fmt` ('table' | 'jsonl' | 'parquet') overrides detection; without
    it, JSONL is detected by path suffix or by sniffing a local
    directory's contents (a dir of .jsonl part files routes correctly
    even when the dir name has no suffix)."""
    if fmt is None:
        fmt = source_format(spark, source)
    if fmt == "table":
        return spark.read.table(source)
    if fmt in ("jsonl", "json"):
        from batukh_spark.schema import TRANSCRIPTS_SCHEMA
        return (spark.read.schema(TRANSCRIPTS_SCHEMA)
                .option("timestampFormat",
                        "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
                .json(source))
    return spark.read.parquet(source)


def write_extracted(df: DataFrame, target: str,
                    partition_col: str = "unit") -> None:
    """Overwrite only the partitions `df` holds: a resume never deletes
    the files other units committed."""
    spark = df.sparkSession
    if _is_catalog_table(spark, target):
        # Iceberg: overwritePartitions == dynamic overwrite semantics
        df.writeTo(target).overwritePartitions()
        return
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col).parquet(target))


@dataclass(frozen=True)
class Footer:
    """One parquet file's metadata: its record count, its size in bytes
    and, per requested column, (min, max, null_count) over its row
    groups (min/max None when the column holds no non-null value)."""
    rows: int
    nbytes: int
    stats: dict


def qualify(spark: SparkSession, path: str) -> str:
    """The fully qualified URI Spark reads and writes for `path`: a
    bare or relative path resolves against the session's Hadoop
    `fs.defaultFS` and working directory (hdfs:// or s3a:// on most
    clusters), never against the driver's local disk."""
    fs, hpath = _hadoop_fs(spark, path)
    return fs.makeQualified(hpath).toUri().toString()


def s3a_options(get, bucket: str) -> dict:
    """pyarrow `S3FileSystem` keyword arguments for `bucket` from the
    Hadoop S3A settings that `get(key)` returns (None when unset); a
    per-bucket `fs.s3a.bucket.<bucket>.<key>` wins over
    `fs.s3a.<key>`.  Carries the endpoint, region, static credentials,
    TLS and path-style addressing.  A Hadoop credential-provider class
    has no pyarrow counterpart: without static keys pyarrow uses the
    AWS default chain (environment, profile, instance metadata)."""
    def opt(key):
        return get(f"fs.s3a.bucket.{bucket}.{key}") or get(f"fs.s3a.{key}")

    kw = {"access_key": opt("access.key"), "secret_key": opt("secret.key"),
          "session_token": opt("session.token"),
          "region": opt("endpoint.region"),
          "scheme": ("http" if opt("connection.ssl.enabled") == "false"
                     else "https")}
    endpoint = opt("endpoint")
    if endpoint:
        if "://" in endpoint:
            kw["scheme"], endpoint = endpoint.split("://", 1)
        # pyarrow addresses buckets by path under an endpoint override,
        # S3A by virtual host unless path-style access is on
        kw["endpoint_override"] = endpoint.rstrip("/")
        kw["force_virtual_addressing"] = opt("path.style.access") != "true"
    return {k: v for k, v in kw.items() if v is not None}


def _arrow_fs(spark: SparkSession, scheme: str, netloc: str) -> tuple:
    """(pyarrow FileSystem, path prefix) for one scheme and authority."""
    from pyarrow import fs as pafs
    if scheme == "s3a":
        conf = spark._jsc.hadoopConfiguration()
        return pafs.S3FileSystem(**s3a_options(conf.get, netloc)), netloc
    fs, base = pafs.FileSystem.from_uri(f"{scheme}://{netloc}/")
    return fs, base.rstrip("/")


def arrow_paths(spark: SparkSession, uris: list[str]) -> list[tuple]:
    """[(pyarrow FileSystem, path)] for Hadoop URIs as Spark prints them
    (percent-encoded; a bare path is qualified first, see `qualify`),
    one FileSystem per scheme and authority.  `s3a://` opens pyarrow's
    S3 with the session's S3A settings (`s3a_options`); every other
    scheme goes to `pyarrow.fs.FileSystem.from_uri`, which raises on a
    store pyarrow cannot read.  Resolve paths before a write, so that
    such a store fails the run before anything commits."""
    fss, out = {}, []
    for uri in uris:
        u = urlsplit(uri)
        if not u.scheme:
            u = urlsplit(qualify(spark, uri))
        if (u.scheme, u.netloc) not in fss:
            fss[u.scheme, u.netloc] = _arrow_fs(spark, u.scheme, u.netloc)
        fs, base = fss[u.scheme, u.netloc]
        out.append((fs, base + unquote(u.path)))
    return out


def _footer(fs, path: str, columns: tuple[str, ...] = ()) -> Footer:
    import pyarrow.parquet as pq
    with fs.open_input_file(path) as f:
        md = pq.read_metadata(f)
        nbytes = f.size()
    index = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats = {}
    for name in columns:
        lo = hi = None
        nulls = 0
        for g in range(md.num_row_groups):
            s = md.row_group(g).column(index[name]).statistics
            if s is None or not s.has_null_count:
                raise ValueError(f"{path}: no statistics for column {name}")
            nulls += s.null_count
            if s.has_min_max:
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
        stats[name] = (lo, hi, nulls)
    return Footer(md.num_rows, nbytes, stats)


def _pool(n: int) -> ThreadPoolExecutor:
    return ThreadPoolExecutor(max(1, min(FOOTER_THREADS, n)))


def read_footers(located: list[tuple], columns: tuple[str, ...] = ()
                 ) -> list[Footer]:
    """Parquet footers of `located` [(FileSystem, path)] (see
    `arrow_paths`), in order, read on the driver."""
    with _pool(len(located)) as pool:
        return list(pool.map(lambda fp: _footer(*fp, columns), located))


def partition_footers(location: tuple, units: list, columns: tuple[str, ...]
                      ) -> dict:
    """{unit: [Footer]} over the committed data files of each
    `unit=<unit>/` directory under `location`, the (FileSystem, path)
    of a `write_extracted` target (an absent directory gives []).

    Up to UNIT_LISTINGS_MAX units, each unit directory is listed on its
    own, so a small resume lists only what it wrote; above it, one
    recursive listing of the target takes fewer requests (an object
    store returns about 1000 keys a request).  Every footer is then one
    small ranged read on FOOTER_THREADS threads.  The driver parses
    footers under the GIL, about 1 ms a file (10^4 local files in
    6-10 s on a 4-core host), so this suits runs of up to some 10^5
    committed files; beyond that the footer reads belong on the
    executors."""
    from pyarrow import fs as pafs
    fs, root = location
    root = root.rstrip("/")

    def listing(path, recursive=False):
        return fs.get_file_info(pafs.FileSelector(
            path, recursive=recursive, allow_not_found=True))

    if len(units) <= UNIT_LISTINGS_MAX:
        with _pool(len(units)) as pool:
            infos = [i for part in pool.map(
                lambda u: listing(f"{root}/unit={u}"), units) for i in part]
    else:
        infos = listing(root, recursive=True)
    dirs = {f"{root}/unit={u}": u for u in units}
    files = [(dirs[posixpath.dirname(i.path)], i.path) for i in infos
             if i.is_file and not i.base_name.startswith(("_", "."))
             and posixpath.dirname(i.path) in dirs]
    out = {u: [] for u in units}
    with _pool(len(files)) as pool:
        for (unit, _), footer in zip(files, pool.map(
                lambda up: _footer(fs, up[1], columns), files)):
            out[unit].append(footer)
    return out


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
