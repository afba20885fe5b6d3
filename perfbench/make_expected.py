"""Recompute the committed train_capstones fingerprints.

    python3 perfbench/make_expected.py

Runs the capstones' DuckDB oracle SQL over the fixed capstone document
table (several minutes) and writes `expected_capstones.json`.  Needed only
when the table generator in inputs.py or the oracle SQL changes; a run
whose documents no longer match the committed hash fails its checks.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import inputs  # noqa: E402
from perfbench.fingerprint import duckdb_fingerprints  # noqa: E402
from perfbench.workloads import CAPSTONES, EXPECTED_CAPSTONES  # noqa: E402


def main() -> int:
    from batukh_spark.queries import QUERIES
    base = inputs.capstone_base()
    with tempfile.TemporaryDirectory() as d:
        import pyarrow.parquet as pq
        pq.write_table(base, os.path.join(d, "documents.parquet"))
        prints = duckdb_fingerprints(d, {n: QUERIES[n][1]
                                         for n in CAPSTONES})
    with open(EXPECTED_CAPSTONES, "w") as f:
        json.dump({"documents": inputs.CAPSTONE_DOCS,
                   "documents_sha256": inputs.table_digest(base),
                   "fingerprints": prints}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED_CAPSTONES}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
