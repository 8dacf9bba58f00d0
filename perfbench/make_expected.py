"""Regenerate `expected.json`: the digest each head's output must match.

Runs every head's DuckDB oracle (`__spark_entry__.oracle_sql()`) over the
benchmark's generated tables, on a bounded connection (memory limit,
two threads, spill directory inside the work tree), and records the
row count and digest. `ref_elsum` has a closed-form check instead.

    python3 perfbench/make_expected.py

Re-run it when the fixture generator or a head's oracle changes.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import fixtures  # noqa: E402
from workloads import REF_ELSUM, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main() -> None:
    import duckdb

    import __spark_entry__

    data = fixtures.ensure(os.path.join(WORK, "data", "sf0.1"))
    spill = os.path.join(WORK, "duckdb-spill")
    os.makedirs(spill, exist_ok=True)
    oracles = __spark_entry__.oracle_sql()
    out = {}
    for wl in WORKLOADS.values():
        for head in wl["heads"]:
            if head == REF_ELSUM:
                continue
            con = duckdb.connect(config={
                "memory_limit": "4GB", "threads": 2, "temp_directory": spill,
            })
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            t0 = time.perf_counter()
            res = con.execute(oracles[head]).fetch_arrow_table()
            cols = res.schema.names
            rows = [tuple(r[c] for c in cols) for r in res.to_pylist()]
            con.close()
            out[head] = {**check.digest(cols, rows), "source": "duckdb-oracle"}
            print(f"{head}: {out[head]['rows']} rows, "
                  f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(check.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
