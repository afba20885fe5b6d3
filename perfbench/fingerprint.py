"""Order-insensitive result fingerprints, normalized as the repository's
DuckDB gate (`tools/check_queries.py`) compares results: columns sorted by
name, floats to 9 significant digits, rows compared as sorted reprs."""

from __future__ import annotations

import hashlib
import json
import math
import os

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return v


def fingerprint(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(repr(tuple(norm_cell(r[i]) for i in order))
                    for r in rows)
    h = hashlib.sha256()
    h.update(json.dumps([sorted(cols), len(normed)]).encode())
    for line in normed:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def duckdb_fingerprints(sf_dir: str, queries: dict[str, str]) -> dict:
    """Run each oracle SQL over the `<table>.parquet` files in `sf_dir`."""
    import duckdb
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"create view {f[:-len('.parquet')]} as "
                            f"select * from '{os.path.join(sf_dir, f)}'")
        out = {}
        for name, sql in queries.items():
            res = con.execute(sql)
            out[name] = fingerprint([d[0] for d in res.description],
                                    res.fetchall())
        return out
    finally:
        con.close()


class Tally:
    """Operations attempted and failed; a failure keeps its reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def check_result(tally: Tally, name: str, cols, rows,
                 expected: str | None) -> bool:
    got = fingerprint(cols, rows)
    return tally.check(got == expected,
                       f"{name}: fingerprint {got[:12]} != "
                       f"expected {str(expected)[:12]}")
