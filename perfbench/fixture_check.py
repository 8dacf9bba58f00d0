"""Compare the generated tables with a directory of reference tables.

    python3 perfbench/fixture_check.py <dir of the seed-42 sf0.1 tables>

For each table it prints the row counts, whether the Arrow schemas are
equal, the columns whose distinct or null counts differ by more than 2%,
and the duplicate structure the heads depend on: exact and " dup"
near-duplicate documents, near-parallel embedding pairs, and how many
event timestamps fall on a whole second. Exit code 1 if a row count or
schema differs.
"""

from __future__ import annotations

import collections
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import fixtures


def _counts(col: pa.ChunkedArray) -> tuple[int, int]:
    if pa.types.is_list(col.type):
        col = pc.list_flatten(col)
    return len(pc.unique(col)), col.null_count


def structure(name: str, t: pa.Table) -> dict:
    """The duplicate structure of one table."""
    if name == "documents":
        texts = t["text"].to_pylist()
        first = {}
        for i, s in enumerate(texts):
            first.setdefault(s, i)
        dups = [s for s in texts if s.endswith(" dup")]
        return {
            "exact_dup_groups": sum(c > 1 for c in collections.Counter(texts).values()),
            "dup_docs": len(dups),
            "dup_source_present": sum(s[:-4] in first for s in dups),
            "dup_chained": sum(s.endswith(" dup dup") for s in dups),
        }
    if name == "embeddings":
        v = np.array(t["embedding"].to_pylist(), dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        cos = v @ v.T
        np.fill_diagonal(cos, -1.0)
        return {"pairs_cos>0.5": int((cos > 0.5).sum() // 2),
                "median_max_cos": round(float(np.median(cos.max(1))), 3)}
    if name == "events":
        us = t["ts"].cast(pa.int64()).to_numpy()
        return {"sorted": bool((np.diff(us) >= 0).all()),
                "whole_second": int((us % 1_000_000 == 0).sum())}
    return {}


def main(ref_dir: str) -> int:
    bad = 0
    for name, gen in fixtures.build_tables().items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        same_schema = ref.schema.equals(gen.schema)
        bad += ref.num_rows != gen.num_rows or not same_schema
        off = []
        for c in ref.column_names:
            (rd, rn), (gd, gn) = _counts(ref[c]), _counts(gen[c])
            if abs(rd - gd) > 0.02 * rd or abs(rn - gn) > 0.02 * max(rn, 1):
                off.append(f"{c} distinct {rd}/{gd} nulls {rn}/{gn}")
        print(f"{name}: rows {ref.num_rows}/{gen.num_rows} schema "
              f"{'equal' if same_schema else 'DIFFERS'}; "
              f"off by >2%: {', '.join(off) or 'none'}")
        rs, gs = structure(name, ref), structure(name, gen)
        for k in rs:
            print(f"  {k}: {rs[k]}/{gs[k]}")
    print("(reference/generated)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
