"""Seeded benchmark inputs.

Every input is a pure function of `--seed` and the constants below, and is
cached under the work directory, so a repeated seed costs nothing.

* Transcript corpus (extract_files): a pool made once with
  `corpus.make_transcripts`, from which each seed draws one of the pool's
  2000-turn mega-conversations and then regular conversations until the
  corpus holds `CORPUS_TURNS` turns, short by less than one conversation.
  Fixing the turn count keeps the work per pass the same across seeds; the
  seed still changes which conversations, payloads and file layout the job
  sees.  The draw is written as `FILES_PER_CORE` parquet files per core.
* Documents (train_capstones): one fixed table, whose rows each seed
  shuffles and splits into one row group per core.  The capstones' DuckDB
  oracle needs minutes per table, so their expected fingerprints are
  computed once by `make_expected.py` and committed; the seed changes row
  order and layout only, and the check proves the results depend on
  neither.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from batukh_spark import synth

POOL_SEED = 42
POOL_CONVS = 3000           # holds 3 mega-conversations (every 997th)
MEGA_TURNS = 2000
MEGAS_PER_CORPUS = 1        # 11% of the turns, as in a 10k-conv corpus
CORPUS_TURNS = 18_000
FILES_PER_CORE = 4

CAPSTONE_DOCS = 600
CAPSTONE_WARM_DOCS = 40
CAPSTONE_BASE_SEED = 7


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _mark_done(path: str, info: dict) -> None:
    with open(os.path.join(path, "_INFO.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _read_info(path: str) -> dict:
    with open(os.path.join(path, "_INFO.json")) as f:
        return json.load(f)


def _text_bytes(col) -> int:
    return int(pc.sum(pc.binary_length(col)).as_py() or 0)


# ---------------------------------------------------------------------------
# transcript corpus


def ensure_pool(spark, work: str) -> str:
    """The conversation pool every seeded corpus draws from (made once)."""
    from batukh_spark.corpus import make_transcripts
    path = os.path.join(work, f"pool_n{POOL_CONVS}_s{POOL_SEED}")
    if not _done(path):
        make_transcripts(spark, POOL_CONVS, seed=POOL_SEED,
                         mega_turns=MEGA_TURNS) \
            .write.mode("overwrite").parquet(path)
    return path


def _turns(ci: int) -> int:
    return synth.turns_in_conv(ci, seed=POOL_SEED, mega_turns=MEGA_TURNS)


def draw_conversations(seed: int) -> list[int]:
    """Pool conversation indices of one seed's corpus, in file order."""
    rng = random.Random(f"perfbench:{seed}")
    counts = [_turns(ci) for ci in range(POOL_CONVS)]
    megas = [ci for ci, n in enumerate(counts) if n == MEGA_TURNS]
    regular = [ci for ci, n in enumerate(counts) if n != MEGA_TURNS]
    chosen = rng.sample(megas, MEGAS_PER_CORPUS)
    left = CORPUS_TURNS - MEGA_TURNS * MEGAS_PER_CORPUS
    rng.shuffle(regular)
    smallest = min(counts[ci] for ci in regular)
    for ci in regular:
        if counts[ci] <= left:
            chosen.append(ci)
            left -= counts[ci]
            if left < smallest:
                break
    if left >= smallest:
        raise ValueError(f"pool too small for {CORPUS_TURNS} turns")
    rng.shuffle(chosen)
    return chosen


def conv_id(ci: int) -> str:
    return f"conv-{ci:08d}"


@dataclass
class Corpus:
    path: str
    n_files: int
    rows: int
    text_bytes: int
    expected_rows: int


def ensure_corpus(pool: str, work: str, seed: int, cores: int) -> Corpus:
    """Write seed's corpus as `FILES_PER_CORE * cores` parquet files."""
    path = os.path.join(work, f"corpus_t{CORPUS_TURNS}_m{MEGAS_PER_CORPUS}"
                              f"_s{seed}_c{cores}")
    if not _done(path):
        convs = draw_conversations(seed)
        n_files = FILES_PER_CORE * cores
        slot = {conv_id(ci): (i % n_files, i) for i, ci in enumerate(convs)}
        table = pq.read_table(pool).replace_schema_metadata(None)
        ids = table.column("conv_id").to_pylist()
        table = table.take(pa.array(
            [i for i, c in enumerate(ids) if c in slot]))
        # Spark wrote INT96; UTC-adjusted micros read back as timestamp
        table = table.set_column(
            table.schema.get_field_index("ts"), "ts",
            table.column("ts").cast(pa.timestamp("us", tz="UTC")))
        keys = [(slot[c], t) for c, t in zip(
            table.column("conv_id").to_pylist(),
            table.column("turn_idx").to_pylist())]
        os.makedirs(path, exist_ok=True)
        for f in range(n_files):
            rows = sorted((k[0][1], k[1], i) for i, k in enumerate(keys)
                          if k[0][0] == f)
            pq.write_table(table.take(pa.array([i for *_, i in rows])),
                           os.path.join(path, f"part-{f:03d}.parquet"))
        # the closed form `corpus.expected_total_turns` sums per conversation
        _mark_done(path, {"n_files": n_files, "rows": table.num_rows,
                          "text_bytes": _text_bytes(table.column("text")),
                          "expected_rows": sum(_turns(ci) for ci in convs)})
    info = _read_info(path)
    return Corpus(path, info["n_files"], info["rows"], info["text_bytes"],
                  info["expected_rows"])


def oracle_sample(seed: int, per_family: int = 120) -> list[dict]:
    """Turns for the in-process oracle and kernel timings: the first
    `per_family` html, pdf and plain turns of seed's conversations."""
    from batukh_spark.oracle.extract import detect_family
    short = {"html": "html", "pdf_layout": "pdf", "plain": "plain"}
    want = {"html": per_family, "pdf": per_family, "plain": per_family}
    out = []
    for ci in draw_conversations(seed):
        for ti in range(min(_turns(ci), 12)):
            turn = synth.make_turn(ci, ti, seed=POOL_SEED)
            fam = short.get(detect_family(turn["text"]))
            if want.get(fam, 0) > 0:
                want[fam] -= 1
                turn["family"] = fam
                out.append(turn)
        if not any(want.values()):
            break
    return out


# ---------------------------------------------------------------------------
# documents

_WORDS = ("a the data spark scan filter join agg group sort merge hash key "
          "value row column table query window stream batch part line order "
          "customer vector fast slow big small").split()
_LANGS = ["en", "en", "de", "fr", "es", "zh"]


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """A `documents` table in the testdata schema: word-salad texts of
    8-89 words with planted exact and one-word near twins."""
    def words(k):
        return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), k))
    texts = [words(int(k)) for k in rng.integers(8, 90, n)]
    for i in rng.choice(n, max(1, n // 200), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, max(1, n // 60), replace=False):
        src = texts[int(rng.integers(0, n))].split(" ")
        src[int(rng.integers(0, len(src)))] = _WORDS[
            int(rng.integers(0, len(_WORDS)))]
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, 6, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def capstone_base() -> pa.Table:
    """The fixed documents table every train_capstones seed permutes."""
    return documents_table(np.random.default_rng([CAPSTONE_BASE_SEED, 2]),
                           CAPSTONE_DOCS)


def table_digest(table: pa.Table) -> str:
    """Order-independent content hash of a documents table."""
    rows = sorted(zip(*(table.column(c).to_pylist()
                        for c in table.column_names)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def ensure_capstone_tables(work: str, seed: int, cores: int
                           ) -> tuple[str, dict]:
    """The base documents in seed's row order, one row group per core;
    returns (directory, info with the order-independent content hash)."""
    path = os.path.join(work, f"capstones_n{CAPSTONE_DOCS}_s{seed}_c{cores}")
    if not _done(path):
        base = capstone_base()
        perm = np.random.default_rng([seed, 3]).permutation(base.num_rows)
        docs = base.take(pa.array(perm))
        os.makedirs(path, exist_ok=True)
        pq.write_table(docs, os.path.join(path, "documents.parquet"),
                       row_group_size=-(-docs.num_rows // cores))
        _mark_done(path, {"sha256": table_digest(docs),
                          "rows": docs.num_rows,
                          "text_bytes": _text_bytes(docs.column("text"))})
    return path, _read_info(path)


def ensure_capstone_warm(work: str) -> str:
    """A small documents table for the capstones' warm-up."""
    path = os.path.join(work, f"capstones_warm_n{CAPSTONE_WARM_DOCS}")
    if not _done(path):
        docs = documents_table(np.random.default_rng([CAPSTONE_BASE_SEED, 4]),
                               CAPSTONE_WARM_DOCS)
        os.makedirs(path, exist_ok=True)
        pq.write_table(docs, os.path.join(path, "documents.parquet"))
        _mark_done(path, {})
    return path
