"""CLI training-data jobs: extract -> mix -> batches over one corpus.

Each job runs in its OWN subprocess (the CLI stops its SparkSession on
exit, which would kill the shared test session if run in-process);
outputs are verified with DuckDB, independent of Spark.
"""

import json
import os
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "batukh_spark.cli"] + args,
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_cli_extract_mix_batches(tmp_path):
    ext = str(tmp_path / "ext")
    mix = str(tmp_path / "mix")
    batches = str(tmp_path / "batches")

    s0 = _run(["--synthesize", "60", "--output", ext,
               "--metrics", str(tmp_path / "m"),
               "--n-units", "4", "--parallelism", "8"])
    assert s0["units_completed"] == 4

    s1 = _run(["--job", "mix", "--input", ext, "--output", mix,
               "--rates", '{"und": 1.0}', "--default-rate", "1.0",
               "--keep-unknown-lang", "--quality-min", "0.2",
               "--parallelism", "8"])
    assert s1["job"] == "mix" and s1["rows_out"] > 0

    s2 = _run(["--job", "batches", "--input", ext, "--output", batches,
               "--seq-len", "96", "--default-rate", "1.0",
               "--keep-unknown-lang", "--quality-min", "0.2",
               "--parallelism", "8"])
    assert s2["job"] == "batches" and s2["rows_out"] > 0

    convdocs = str(tmp_path / "convdocs")
    s3 = _run(["--job", "convdocs", "--input", ext, "--output", convdocs,
               "--parallelism", "8"])
    assert s3["job"] == "convdocs" and s3["rows_out"] > 0

    con = duckdb.connect()
    # convdocs: one row per conversation, n_turns sums to the turn count
    n_convs, n_turns = con.execute(
        f"select count(distinct conv_id), count(*) from "
        f"read_parquet('{ext}/*/*.parquet')").fetchone()
    got_convs, got_turns = con.execute(
        f"select count(*), sum(n_turns) from "
        f"read_parquet('{convdocs}/*.parquet')").fetchone()
    assert (got_convs, got_turns) == (n_convs, n_turns)
    assert con.execute(
        f"select count(*) from read_parquet('{convdocs}/*.parquet') "
        f"where doc_text not like '<|%'").fetchone()[0] == 0
    cols = {c[0] for c in con.execute(
        f"describe select * from read_parquet('{mix}/*.parquet')"
    ).fetchall()}
    assert {"doc_id", "chunk_idx", "n_tokens", "chunk_text",
            "pred_lang", "quality"} <= cols
    assert con.execute(
        f"select count(*) from read_parquet('{mix}/*.parquet') "
        f"where n_tokens > 64").fetchone()[0] == 0
    # every packed sequence except the last is exactly full
    n_bad = con.execute(
        f"select count(*) from read_parquet('{batches}/*.parquet') "
        f"where n_tokens <> 96 and seq_id <> (select max(seq_id) from "
        f"read_parquet('{batches}/*.parquet'))").fetchone()[0]
    assert n_bad == 0


def test_cli_sft_job(tmp_path):
    ext = str(tmp_path / "ext")
    sft = str(tmp_path / "sft")

    s0 = _run(["--synthesize", "40", "--output", ext,
               "--metrics", str(tmp_path / "m"),
               "--n-units", "4", "--parallelism", "8"])
    assert s0["units_completed"] == 4

    s1 = _run(["--job", "sft", "--input", ext, "--output", sft,
               "--seq-len", "128", "--parallelism", "8"])
    assert s1["job"] == "sft"
    assert s1["rows_out"] > 0 and s1["mask_rows"] > 0

    con = duckdb.connect()
    # manifest: one row per kept conversation, every split valid,
    # trainable accounting internally consistent
    rows = con.execute(
        f"select count(*), count(distinct conv_id), "
        f"sum(case when split not in ('train','val','test') "
        f"    then 1 else 0 end), "
        f"sum(case when trainable_bytes > doc_bytes then 1 else 0 end) "
        f"from read_parquet('{sft}/manifest/*.parquet')").fetchone()
    assert rows[0] == rows[1] and rows[2] == 0 and rows[3] == 0
    # masks: spans inside [0, seq_len), non-empty, trainable role only
    bad = con.execute(
        f"select count(*) from read_parquet('{sft}/masks/*.parquet') "
        f"where seq_start < 0 or seq_end > 128 or seq_start >= seq_end "
        f"   or role <> 'assistant'").fetchone()[0]
    assert bad == 0
    # every masked conversation exists in the extraction
    missing = con.execute(
        f"select count(*) from read_parquet('{sft}/masks/*.parquet') m "
        f"where not exists (select 1 from "
        f"read_parquet('{ext}/*/*.parquet', hive_partitioning=1) e "
        f"where e.conv_id = m.conv_id)").fetchone()[0]
    assert missing == 0


def test_cli_audit_job(tmp_path):
    ext = str(tmp_path / "ext")
    audit = str(tmp_path / "audit")
    s0 = _run(["--synthesize", "40", "--output", ext,
               "--metrics", str(tmp_path / "m"),
               "--n-units", "4", "--parallelism", "8"])
    assert s0["units_completed"] == 4
    s1 = _run(["--job", "audit", "--input", ext, "--output", audit,
               "--parallelism", "8"])
    # synthesized corpus honors the contract: one verdict row per
    # conversation, nothing flagged
    con = duckdb.connect()
    n_convs = con.execute(
        f"select count(distinct conv_id) from "
        f"read_parquet('{ext}/*/*.parquet')").fetchone()[0]
    assert s1["job"] == "audit" and s1["rows_out"] == n_convs
    assert s1["convs_flagged"] == 0
    n_ok = con.execute(
        f"select count(*) from read_parquet('{audit}/*.parquet') "
        f"where ok").fetchone()[0]
    assert n_ok == n_convs


def test_cli_semdedup(tmp_path):
    """SemDeDup CLI job over an embeddings table with planted exact
    twins; written verdicts verified with DuckDB."""
    src = str(tmp_path / "emb.parquet")
    out = str(tmp_path / "verdicts")
    con = duckdb.connect()
    base = "/root/testdata/sf0.001/embeddings.parquet"
    con.execute(f"""
        copy (
          select vec_id, embedding from read_parquet('{base}')
          where vec_id < 100
          union all
          select vec_id + 1000, embedding from read_parquet('{base}')
          where vec_id < 5
        ) to '{src}' (format parquet)
    """)
    s = _run(["--job", "semdedup", "--input", src, "--output", out,
              "--parallelism", "8"])
    assert s["n_vectors"] == 105 and s["rows_out"] == 105
    # raw corpus has no natural pairs above cos 0.52, so the 5 planted
    # copies are the only dups and they fall on the exact_dup reason
    assert (s["kept"], s["exact_dup"], s["near_dup"]) == (100, 5, 0)
    rows = con.execute(
        f"select reason, count(*) from read_parquet('{out}/*.parquet') "
        f"group by 1 order by 1").fetchall()
    assert dict(rows) == {"exact_dup": 5, "unique": 100}
    dropped = {r[0] for r in con.execute(
        f"select vec_id from read_parquet('{out}/*.parquet') "
        f"where not keep").fetchall()}
    assert dropped == {1000, 1001, 1002, 1003, 1004}


def test_cli_semdedup_audit_gate(tmp_path):
    """A dirty embedding table (planted NULL vector) must fail the
    pre-flight audit with a nonzero exit, writing nothing."""
    src = str(tmp_path / "emb.parquet")
    out = str(tmp_path / "verdicts")
    base = "/root/testdata/sf0.001/embeddings.parquet"
    duckdb.connect().execute(f"""
        copy (
          select vec_id, embedding from read_parquet('{base}')
          where vec_id < 50
          union all
          select 9999::bigint as vec_id, null::float[] as embedding
        ) to '{src}' (format parquet)
    """)
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-m", "batukh_spark.cli", "--job", "semdedup",
         "--input", src, "--output", out, "--parallelism", "8"],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO)
    assert r.returncode != 0
    assert "contract audit failed" in r.stderr
    assert not os.path.exists(out)


def test_cli_semdedup_store_rejects_max_bucket(tmp_path):
    """--max-bucket only guards whole-corpus candidate generation; with
    --store it would be silently ignored, so the CLI rejects the pair
    before starting Spark."""
    out = str(tmp_path / "verdicts")
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-m", "batukh_spark.cli", "--job", "semdedup",
         "--input", str(tmp_path / "emb.parquet"), "--output", out,
         "--store", str(tmp_path / "store"), "--max-bucket", "8"],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO)
    assert r.returncode == 2, r.stderr[-2000:]
    assert "--max-bucket" in r.stderr
    assert not os.path.exists(out)


def test_cli_embstore_then_incremental_semdedup(tmp_path):
    """embstore persists the signature store; semdedup --store then
    assigns incremental verdicts for new arrivals against it.
    Artifacts verified with DuckDB."""
    hist = str(tmp_path / "hist.parquet")
    arriving = str(tmp_path / "arr.parquet")
    store = str(tmp_path / "store")
    out = str(tmp_path / "verdicts")
    base = "/root/testdata/sf0.001/embeddings.parquet"
    con = duckdb.connect()
    con.execute(f"""
        copy (select vec_id, embedding from read_parquet('{base}')
              where vec_id < 80) to '{hist}' (format parquet)
    """)
    con.execute(f"""
        copy (
          select vec_id + 1000 as vec_id, embedding
          from read_parquet('{base}') where vec_id < 10   -- re-arrivals
          union all
          select vec_id, embedding from read_parquet('{base}')
          where vec_id between 80 and 99                  -- fresh
        ) to '{arriving}' (format parquet)
    """)
    s0 = _run(["--job", "embstore", "--input", hist, "--output", store,
               "--parallelism", "8"])
    assert s0["n_vectors"] == 80 and s0["sigs_rows"] == 80
    assert con.execute(
        f"select count(*) from read_parquet('{store}/bands/*.parquet')"
    ).fetchone()[0] == 320                                 # 4 bands/vec
    s1 = _run(["--job", "semdedup", "--input", arriving, "--output",
               out, "--store", store, "--parallelism", "8"])
    assert s1["incremental"] is True and s1["rows_out"] == 30
    # raw corpus has no natural cos>0.9 pairs: the 10 re-arrivals are
    # exact_dup, the 20 fresh vectors unique
    assert (s1["kept"], s1["exact_dup"], s1["near_dup"]) == (20, 10, 0)
    rows = dict(con.execute(
        f"select reason, count(*) from read_parquet('{out}/*.parquet') "
        f"group by 1").fetchall())
    assert rows == {"exact_dup": 10, "unique": 20}


def test_cli_annindex_pq(tmp_path):
    """annindex --pq trains and persists the IVF-PQ index; layout and
    code width verified with DuckDB."""
    src = str(tmp_path / "emb.parquet")
    idx = str(tmp_path / "idx")
    base = "/root/testdata/sf0.001/embeddings.parquet"
    con = duckdb.connect()
    con.execute(f"""
        copy (select vec_id, embedding from read_parquet('{base}')
              where vec_id < 120) to '{src}' (format parquet)
    """)
    s = _run(["--job", "annindex", "--pq", "--input", src,
              "--output", idx, "--parallelism", "8"])
    assert s["pq"] is True and s["n_vectors"] == 120
    assert s["index_rows"] == 120
    n, nb, codes_ok = con.execute(
        f"select count(*), count(distinct cluster), "
        f"       bool_and(len(code) = 8 and list_min(code) >= 0 "
        f"               and list_max(code) < 16) "
        f"from read_parquet('{idx}/vectors/*/*.parquet', "
        f"                  hive_partitioning=1)").fetchone()
    assert n == 120 and nb >= 2 and codes_ok
    assert con.execute(
        f"select count(*) from "
        f"read_parquet('{idx}/pq_codebook/*.parquet')").fetchone()[0] \
        == 8 * 16
