"""Round-10 units: the shared checkpointed mutual-edge frame
(`clustering._mutual_edges_checkpointed`) and the pointer-jump
min-label propagation in `dedup.connected_components` (reference
parity target:
src/mapreduce.jl has no graph ops — these belong to the mandated
LLM-pipeline surface; the loop invariants are documented in
dedup.connected_components' docstring)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _components(spark, pairs):
    from parallelutilities_jl_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {
        r["doc_id"]: r["component_id"]
        for r in connected_components(edges).collect()
    }


def _truth(pairs):
    """Driver-side union-find oracle."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns) for r, ns in comp.items() for n in ns}


def test_components_long_path_random_ids(spark):
    """A 40-node path graph with shuffled node ids — the adversarial
    shape for min-label propagation (diameter = rounds for the naive
    loop; the pointer-jump + fused-init round must still converge
    within max_iters and land on the exact min-member labeling)."""
    # deterministic shuffle: multiply by a unit mod 97 (prime > 40)
    ids = [(i * 31) % 97 + 1000 for i in range(40)]
    assert len(set(ids)) == 40
    pairs = [(ids[i], ids[i + 1]) for i in range(39)]
    assert _components(spark, pairs) == _truth(pairs)


def test_components_mixed_shapes(spark):
    """Cliques + chains + stars + an isolated pair, ids interleaved so
    min labels must cross shape boundaries only where edges exist."""
    pairs = (
        [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]  # clique
        + [(100 + i, 101 + i) for i in range(7)]  # chain
        + [(5, 200 + i) for i in range(6)]  # star centered at 5
        + [(9000, 8999)]  # pair
    )
    assert _components(spark, pairs) == _truth(pairs)


def test_components_nonconvergence_raises(spark):
    """max_iters too small for the diameter must raise, never return
    intermediate (wrong) dedup groups silently."""
    from parallelutilities_jl_spark.operators.dedup import (
        connected_components,
    )

    from parallelutilities_jl_spark.operators import dedup

    ids = [(i * 31) % 97 + 1000 for i in range(40)]
    pairs = [(ids[i], ids[i + 1]) for i in range(39)]
    # one edge per partition defeats the partition-local union-find
    # contraction, so the propagation loop sees the full path diameter
    # (the contraction would otherwise solve a co-partitioned path in
    # phase 1 and the bound under test would never bind); the tiny-graph
    # gate is pinned to 0 so the single-task fast path (which cannot
    # fail to converge) does not bypass the loop under test
    edges = spark.createDataFrame(
        pairs, "doc_a long, doc_b long"
    ).repartition(39)
    old_tiny = dedup._CC_TINY_MAX_ROWS
    try:
        dedup._CC_TINY_MAX_ROWS = 0
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iters=2)
    finally:
        dedup._CC_TINY_MAX_ROWS = old_tiny


def test_components_spill_honors_checkpoint_dir_and_cleans_up(
    spark, tmp_path
):
    """Round-11 advisor fix: with a Spark checkpoint dir configured,
    the stats-reset spill writes UNDER it (a shared filesystem on a
    real cluster — a driver-local tempdir is silently empty to remote
    executors), the labels stay exact, and no pu_cc_spill_* dirs
    survive the call."""
    import os

    from parallelutilities_jl_spark.operators.dedup import (
        connected_components,
    )

    from parallelutilities_jl_spark.operators import dedup

    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    old = sc._jsc.sc().getCheckpointDir()
    sc.setCheckpointDir(ckpt)
    old_tiny = dedup._CC_TINY_MAX_ROWS
    try:
        dedup._CC_TINY_MAX_ROWS = 0  # pin the loop path under test
        ids = [(i * 31) % 97 + 1000 for i in range(40)]
        pairs = [(ids[i], ids[i + 1]) for i in range(39)]
        # single-edge partitions keep the contracted graph a full-
        # diameter path, so the loop still crosses the spill rounds
        edges = spark.createDataFrame(
            pairs, "doc_a long, doc_b long"
        ).repartition(39)
        got = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(edges).collect()
        }
        assert got == _truth(pairs)  # ≥7 spill rounds on this graph
        leftovers = [
            d
            for root, dirs, _ in os.walk(ckpt)
            for d in dirs
            if d.startswith("pu_cc_spill_")
        ]
        assert leftovers == []
    finally:
        dedup._CC_TINY_MAX_ROWS = old_tiny
        if old.isDefined():
            sc.setCheckpointDir(old.get())
        else:
            # Spark has no API to UNSET a checkpoint dir on a live
            # context, so the pre-test state (unset) is unrestorable.
            # Park it on a stable per-application location instead of
            # leaving it pointed at this test's pytest tmp_path —
            # otherwise later tests' connected_components spills would
            # take the shared-FS path into a dir pytest deletes
            # (round-11 advisor finding: order-dependent coupling).
            import tempfile

            stable = os.path.join(
                tempfile.gettempdir(),
                f"pu_test_ckpt_{sc.applicationId}",
            )
            sc.setCheckpointDir(stable)


def test_components_spill_cleaned_up_on_exception(spark):
    """An exception mid-loop (non-convergence raise is the easiest to
    force past the first spill) must not leak local pu_cc_spill_*
    tempdirs."""
    import glob
    import tempfile

    import pytest

    from parallelutilities_jl_spark.operators.dedup import (
        connected_components,
    )

    from parallelutilities_jl_spark.operators import dedup

    before = set(glob.glob(tempfile.gettempdir() + "/pu_cc_spill_*"))
    ids = [(i * 31) % 97 + 1000 for i in range(40)]
    pairs = [(ids[i], ids[i + 1]) for i in range(39)]
    # single-edge partitions defeat the contraction (see above) so the
    # loop crosses the round-6 spill before the forced non-convergence
    edges = spark.createDataFrame(
        pairs, "doc_a long, doc_b long"
    ).repartition(39)
    old_tiny = dedup._CC_TINY_MAX_ROWS
    try:
        dedup._CC_TINY_MAX_ROWS = 0  # pin the loop path under test
        # max_iters=8 crosses the round-6 spill, then fails to converge
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iters=8)
    finally:
        dedup._CC_TINY_MAX_ROWS = old_tiny
    after = set(glob.glob(tempfile.gettempdir() + "/pu_cc_spill_*"))
    assert after == before


def test_mutual_edges_resident_shared(spark, sf_dir):
    """`_mutual_edges_checkpointed` returns the SAME resident frame on
    repeat calls within one application (the one-build/many-consumers
    contract `q_knn_components` rides), and its rows equal the lazy
    `q_knn_mutual_graph` plan's."""
    from parallelutilities_jl_spark import session as S
    from parallelutilities_jl_spark.operators import clustering as C

    S._RESIDENT.clear()
    first = C._mutual_edges_checkpointed(spark, sf_dir)
    again = C._mutual_edges_checkpointed(spark, sf_dir)
    assert first is again
    lazy = {
        (r["src"], r["dst"], r["score_e6"])
        for r in C.q_knn_mutual_graph(spark, sf_dir).collect()
    }
    resident = {
        (r["src"], r["dst"], r["score_e6"]) for r in first.collect()
    }
    assert lazy == resident and resident


def test_fit_cache_evicts_foreign_application(spark, sf_dir):
    from parallelutilities_jl_spark import session as S
    from parallelutilities_jl_spark.operators import clustering as C

    emb_all, cents = C._sampled_fit(spark, sf_dir)
    S._RESIDENT[("dead-app", "sampled_fit", sf_dir, 1, 2, 3)] = (
        emb_all, cents,
    )
    C._sampled_fit(spark, sf_dir)
    assert all(
        k[0] == spark.sparkContext.applicationId for k in S._RESIDENT
    )


def test_components_partitioning_invariance(spark):
    """Round-16: the partition-local union-find contraction must give
    the identical min-member labeling under ANY edge partitioning —
    fully co-partitioned (phase 1 solves everything), one edge per
    partition (contraction is a no-op), and in between."""
    pairs = (
        [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
        + [(100 + i, 101 + i) for i in range(7)]
        + [(5, 200 + i) for i in range(6)]
        + [(9000, 8999)]
    )
    from parallelutilities_jl_spark.operators import dedup

    want = _truth(pairs)
    # all THREE paths — tiny single-task union-find (production gate:
    # this fixture is under it), contraction (both gates pinned to 0),
    # and the flat loop (tiny gate 0, contraction gate at default) —
    # must land on the identical labeling under every edge partitioning
    old_gate = dedup._CC_CONTRACT_MIN_ROWS
    old_tiny = dedup._CC_TINY_MAX_ROWS
    try:
        for tiny, gate, parts in [
            (old_tiny, old_gate, (1, 3, 17)),  # tiny fast path
            (0, 0, (1, 3, 17, len(pairs))),  # contraction, every split
            (0, old_gate, (3,)),  # flat loop
        ]:
            dedup._CC_TINY_MAX_ROWS = tiny
            dedup._CC_CONTRACT_MIN_ROWS = gate
            for n_parts in parts:
                edges = spark.createDataFrame(
                    pairs, "doc_a long, doc_b long"
                ).repartition(n_parts)
                got = {
                    r["doc_id"]: r["component_id"]
                    for r in dedup.connected_components(edges).collect()
                }
                assert got == want, (tiny, gate, n_parts)
    finally:
        dedup._CC_CONTRACT_MIN_ROWS = old_gate
        dedup._CC_TINY_MAX_ROWS = old_tiny
