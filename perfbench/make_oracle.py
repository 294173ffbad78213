"""Recompute ``perfbench/oracle.json``: the row count and normalized-frame
digest of each query_mix entry query, evaluated by its DuckDB twin
(``entryqueries.ORACLE``) over the fixed query_mix tables.

    python3 perfbench/make_oracle.py      (from the repository root)

Run it when the query_mix tables or an oracle SQL text change.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

here = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [os.getcwd()] + [p for p in sys.path if os.path.abspath(p or ".") != here]

import duckdb  # noqa: E402

from mmore_spark.entryqueries import ORACLE  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.workloads import ORACLE_FILE, QUERY_NAMES, frame_digest  # noqa: E402


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as sf:
        inputs.write_sf_tables(sf)
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        out = {}
        for q in QUERY_NAMES:
            df = con.sql(ORACLE[q]).df()
            out[q] = {"rows": len(df), "sha256": frame_digest(df)}
            print(q, out[q]["rows"], flush=True)
    with open(ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
