"""Semantic pins for the dedup-order planner (pipeline.py
q_dedup_order_plan) beyond the oracle's engine-parity check: on a
hand-crafted corpus the permutation must match the keep-first dedup
intent — a fully-novel source is processed FIRST (its copies win), a
fully-contained source LAST (its duplicated content gets dropped)."""

from __future__ import annotations

import pandas as pd

from parallelutilities_jl_spark.operators.pipeline import (
    _CONTAM_K,
    q_dedup_order_plan,
)


def _corpus(spark, tmp_path, rows):
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_novel_first_contained_last(spark, tmp_path):
    # srcB's single document is a verbatim copy of one of srcC's two —
    # B is 100% contained in C, C only ~50% contained in B; srcA
    # shares nothing with anyone.
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    c1 = "one two three four five six seven eight nine ten"
    c2 = "red orange yellow green blue indigo violet umber ochre teal"
    rows = [
        (0, a, "en", "srcA", len(a)),
        (1, c1, "en", "srcB", len(c1)),
        (2, c1, "en", "srcC", len(c1)),
        (3, c2, "en", "srcC", len(c2)),
    ]
    sf = _corpus(spark, tmp_path, rows)
    got = {r["src"]: r for r in q_dedup_order_plan(spark, sf).collect()}
    assert set(got) == {"srcA", "srcB", "srcC"}
    # fully-novel source: zero containment, NULL top-overlap, rank 1
    assert got["srcA"]["top_containment_e6"] == 0
    assert got["srcA"]["top_overlap_src"] is None
    assert got["srcA"]["dedup_rank"] == 1
    # fully-contained source ranks last; its worst case is exactly 1.0
    assert got["srcB"]["top_containment_e6"] == 1_000_000
    assert got["srcB"]["top_overlap_src"] == "srcC"
    assert got["srcB"]["dedup_rank"] == 3
    # the partially-contained big source sits between
    assert got["srcC"]["dedup_rank"] == 2
    assert 0 < got["srcC"]["top_containment_e6"] < 1_000_000
    # shingle totals drive the fractions: srcB has 6 5-grams, srcC 12
    n_b = len(c1.split()) - _CONTAM_K + 1
    assert got["srcB"]["n_shingles"] == n_b
    assert got["srcC"]["n_shingles"] == 2 * n_b
    assert got["srcC"]["top_containment_e6"] == (n_b * 1_000_000) // (
        2 * n_b
    )


def test_rank_is_a_permutation_and_ties_break_by_name(spark, tmp_path):
    # two identical novel sources tie on every containment key → name
    # breaks the tie deterministically
    t1 = "aa bb cc dd ee ff gg hh ii jj"
    t2 = "kk ll mm nn oo pp qq rr ss tt"
    rows = [
        (0, t1, "en", "src_y", len(t1)),
        (1, t2, "en", "src_x", len(t2)),
    ]
    sf = _corpus(spark, tmp_path, rows)
    got = sorted(
        q_dedup_order_plan(spark, sf).collect(),
        key=lambda r: r["dedup_rank"],
    )
    assert [r["dedup_rank"] for r in got] == [1, 2]
    assert [r["src"] for r in got] == ["src_x", "src_y"]


def test_results_identical_across_cache_states(spark, sf_dir):
    """The shared shingle frame is a resident materialization for its
    multi-consumer reuse; results must be identical whether served from
    a fresh build, the resident entry, or a rebuild after
    `release_cached_blocks` — the same hygiene the fit caches pin
    bit-identically."""
    from parallelutilities_jl_spark.operators.pipeline import (
        q_dedup_order_plan,
        q_source_overlap_census,
    )
    from parallelutilities_jl_spark.session import release_cached_blocks

    def rows(fn):
        return sorted(tuple(r) for r in fn(spark, sf_dir).collect())

    release_cached_blocks(spark)
    cold_p, cold_c = rows(q_dedup_order_plan), rows(
        q_source_overlap_census
    )
    # both served from the resident entry
    warm_p = rows(q_dedup_order_plan)
    warm_c = rows(q_source_overlap_census)
    release_cached_blocks(spark)
    again_p = rows(q_dedup_order_plan)
    again_c = rows(q_source_overlap_census)
    assert cold_p == warm_p == again_p and len(cold_p) > 0
    assert cold_c == warm_c == again_c and len(cold_c) > 0
