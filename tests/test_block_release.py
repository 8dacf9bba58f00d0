"""Cached-block lifetime policy (round-13 verdict items 1/4): after a
query's result is materialized, `release_cached_blocks` must leave ZERO
persistent RDD blocks in the session — the engine's `materialize` sites
otherwise accumulate storage memory linearly across a long-lived roster
(the mechanism behind the round-13 driver bench's progressive 5-8x
heavy-head inflation), and the resident memo of fits and graphs
(`session.resident`) must drop its handles first so nothing dangles on
a truncated-lineage frame. `materialize` is the only call that pins a
frame; a frame reused across queries is a `resident` materialization."""

from __future__ import annotations

import ast
import pathlib

import pytest

from parallelutilities_jl_spark import session as sess
from parallelutilities_jl_spark.session import (
    block_scope,
    materialize,
    release_cached_blocks,
)


def _n_persistent(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _materialize(df) -> int:
    return df.count()


def _artifacts() -> set[str]:
    return {k[1] for k in sess._RESIDENT}


def test_release_after_checkpoint_heavy_query(spark, sf_dir):
    """A localCheckpoint-using query pins blocks; release drops ALL of
    them (getPersistentRDDs empty) and reports how many it freed."""
    from parallelutilities_jl_spark.operators.dedup import q_minhash_near_dup

    release_cached_blocks(spark)  # clean slate
    assert _n_persistent(spark) == 0

    n_rows = _materialize(q_minhash_near_dup(spark, sf_dir))
    assert _n_persistent(spark) > 0, (
        "expected the minhash localCheckpoint to pin blocks — if this "
        "stops holding, pick another checkpoint-heavy query"
    )
    freed = release_cached_blocks(spark)
    assert freed > 0
    assert _n_persistent(spark) == 0

    # the query still runs correctly from a cold state
    assert _materialize(q_minhash_near_dup(spark, sf_dir)) == n_rows
    release_cached_blocks(spark)


def test_release_clears_fit_caches_and_query_recovers(spark, sf_dir):
    """The resident memo holds localCheckpoint'ed frames; release must
    clear it BEFORE unpersisting (a surviving handle would be
    unrecomputable — truncated lineage), and the query must rebuild the
    fit transparently on its next call."""
    from parallelutilities_jl_spark.operators import clustering as cl

    release_cached_blocks(spark)
    n1 = _materialize(cl.q_kmeans_assign(spark, sf_dir))
    assert _artifacts() == {"flat_fit"}, "kmeans fit should be resident"

    release_cached_blocks(spark)
    assert not sess._RESIDENT
    assert _n_persistent(spark) == 0

    # rebuilds from scratch — no dangling handle, identical result size
    n2 = _materialize(cl.q_kmeans_assign(spark, sf_dir))
    assert n2 == n1
    release_cached_blocks(spark)


def test_release_is_idempotent_on_empty_session(spark):
    release_cached_blocks(spark)
    assert release_cached_blocks(spark) == 0


# ---- per-query scope (round-15: the resident-service shape) ---------------


def test_block_scope_releases_only_scope_created_blocks(spark, sf_dir):
    """A block pinned BEFORE the scope survives it; blocks pinned inside
    are freed on exit — the per-query lifetime a resident multi-query
    service needs (the global release would clobber the outer block)."""
    from parallelutilities_jl_spark.session import block_scope

    release_cached_blocks(spark)
    outer = spark.range(1000).localCheckpoint()
    outer.count()
    n_outer = _n_persistent(spark)
    assert n_outer > 0

    from parallelutilities_jl_spark.operators.dedup import q_minhash_near_dup

    with block_scope(spark) as stats:
        n_rows = _materialize(q_minhash_near_dup(spark, sf_dir))
        assert _n_persistent(spark) > n_outer
    assert stats["released"] > 0
    assert _n_persistent(spark) == n_outer
    # the pre-existing block is still usable AND the query recomputes
    assert outer.count() == 1000
    assert _materialize(q_minhash_near_dup(spark, sf_dir)) == n_rows
    release_cached_blocks(spark)


def test_block_scope_evicts_only_scope_added_cache_entries(spark, sf_dir):
    """A memo entry created inside a scope is evicted on exit (its
    checkpoint blocks are freed — a surviving handle would dangle on
    truncated lineage); an entry warmed BEFORE the scope keeps both its
    handle and its blocks, and still serves queries afterwards."""
    from parallelutilities_jl_spark.operators import clustering as cl
    from parallelutilities_jl_spark.session import block_scope

    release_cached_blocks(spark)
    n_warm = _materialize(cl.q_kmeans_assign(spark, sf_dir))
    warm = dict(sess._RESIDENT)
    assert _artifacts() == {"flat_fit"}, "kmeans fit should be resident"

    with block_scope(spark) as stats:
        _materialize(cl.q_ann_pq_topk(spark, sf_dir))
        assert "pq_fit" in _artifacts(), "PQ fit should be resident in-scope"
    assert stats["evicted"] > 0
    # scope-added: evicted with its blocks; pre-existing: intact
    assert set(sess._RESIDENT) == set(warm)
    assert all(sess._RESIDENT[k] is v for k, v in warm.items())
    # the warm memo still serves from its intact blocks
    assert _materialize(cl.q_kmeans_assign(spark, sf_dir)) == n_warm
    release_cached_blocks(spark)


def test_index_built_in_a_scope_is_rebuilt_resident_after_it(spark, sf_dir):
    """The int8 ANN index first built inside a `block_scope` is freed
    with the scope; the next call rebuilds it as a resident entry with
    pinned blocks, and the call after that reuses it without pinning
    anything new (the reuse across calls bench.py's reps measure)."""
    from parallelutilities_jl_spark.operators.similarity import q_ann_int8_topk

    release_cached_blocks(spark)
    with block_scope(spark) as stats:
        n_rows = _materialize(q_ann_int8_topk(spark, sf_dir))
    assert stats["released"] > 0
    assert _n_persistent(spark) == 0

    assert _materialize(q_ann_int8_topk(spark, sf_dir)) == n_rows
    assert "ann_int8_index" in _artifacts()
    n_pinned = _n_persistent(spark)
    assert n_pinned > 0, "the rebuilt index pins no blocks"

    assert _materialize(q_ann_int8_topk(spark, sf_dir)) == n_rows
    assert _n_persistent(spark) == n_pinned
    release_cached_blocks(spark)


def test_resident_drops_other_applications_on_any_lookup(spark, sf_dir):
    """An entry stored under a dead application id is dropped on the
    next lookup of ANY key, whatever artifact it names: its
    checkpointed blocks died with that SparkContext. A hit returns the
    stored value without calling `build`."""
    from parallelutilities_jl_spark.operators import clustering as cl

    app = spark.sparkContext.applicationId
    dead = ("app-dead-0000", "power_direction", sf_dir, 2, 20)
    sess._RESIDENT[dead] = object()
    cl._fit_state(spark, sf_dir)  # a lookup of another artifact
    assert dead not in sess._RESIDENT
    assert all(k[0] == app for k in sess._RESIDENT)

    sess._RESIDENT[dead] = object()
    key = ("probe", sf_dir)
    value = sess.resident(spark, key, object)
    assert dead not in sess._RESIDENT

    def rebuild():
        raise AssertionError("resident rebuilt on a hit")

    assert sess.resident(spark, key, rebuild) is value
    del sess._RESIDENT[(app, *key)]


def test_no_module_cache_dict_and_release_empties_resident(spark):
    """One memo, nothing to register: no module in the engine package
    defines a module-level dict named *CACHE* (a hand-rolled cache
    would dangle on truncated lineage the first time a release runs),
    and `release_cached_blocks` leaves `session._RESIDENT` empty."""
    import importlib
    import pkgutil

    import parallelutilities_jl_spark as pkg

    walked, found = set(), []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        walked.add(mod.__name__)
        for name, val in vars(mod).items():
            if isinstance(val, dict) and "CACHE" in name.upper():
                found.append(f"{mod.__name__}.{name}")
    assert "parallelutilities_jl_spark.operators.clustering" in walked
    assert not found, f"module-level caches outside session.resident: {found}"

    sess.resident(spark, ("lint_probe",), object)
    assert sess._RESIDENT
    release_cached_blocks(spark)
    assert not sess._RESIDENT


def test_block_scope_evicts_overwritten_entries(spark):
    """Round-15 ADVICE: an entry OVERWRITTEN under a pre-existing key
    during the scope must be evicted on exit (its replacement's blocks
    are unpersisted; a surviving handle would dangle), while untouched
    pre-existing entries survive. Pinned by writing the memo directly,
    since `resident` itself never overwrites."""
    app = spark.sparkContext.applicationId
    keep, clobber, fresh = (app, "keep"), (app, "clobber"), (app, "fresh")
    sess._RESIDENT.update({keep: object(), clobber: object()})
    try:
        with sess.block_scope(spark) as stats:
            sess._RESIDENT[clobber] = object()  # overwrite existing key
            sess._RESIDENT[fresh] = object()  # plain scope-added entry
        assert stats["evicted"] >= 2
        assert keep in sess._RESIDENT  # untouched entry survives
        assert clobber not in sess._RESIDENT  # overwritten: evicted
        assert fresh not in sess._RESIDENT  # scope-added: evicted
    finally:
        for k in (keep, clobber, fresh):
            sess._RESIDENT.pop(k, None)


def test_block_scope_evicts_del_then_recompute(spark):
    """Round-16 review finding: an entry DELETED and RECOMPUTED inside
    the scope must be evicted on exit even if CPython hands the
    replacement the freed object's address — the snapshot must hold
    value references and compare identity, not id() integers."""
    key = (spark.sparkContext.applicationId, "k")
    sess._RESIDENT[key] = object()
    try:
        with sess.block_scope(spark) as stats:
            del sess._RESIDENT[key]
            sess._RESIDENT[key] = object()  # may reuse the freed address
        assert stats["evicted"] >= 1
        assert key not in sess._RESIDENT
    finally:
        sess._RESIDENT.pop(key, None)


def test_released_materialization_raises(spark):
    """A `materialize`d frame has no lineage to recompute from: once its
    blocks are released, an action raises a named error rather than
    returning rows — after `release_cached_blocks`, and after a
    `block_scope` exit for a frame made inside the scope."""
    release_cached_blocks(spark)
    df = materialize(spark.range(1000))
    assert df.count() == 1000
    release_cached_blocks(spark)
    with pytest.raises(Exception, match="Checkpoint block rdd_"):
        df.collect()

    with block_scope(spark):
        scoped = materialize(spark.range(1000))
        assert scoped.count() == 1000
    with pytest.raises(Exception, match="Checkpoint block rdd_"):
        scoped.collect()


_PINNING = {"localCheckpoint", "checkpoint", "cache", "persist"}


def test_materialize_is_the_only_pinning_call():
    """No `localCheckpoint`, `checkpoint`, `cache` or `persist` call in
    the engine package outside `session.py`."""
    import parallelutilities_jl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "session.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _PINNING
            ):
                found.append(f"{rel}:{node.lineno} .{node.func.attr}()")
    assert not found, f"pin through session.materialize: {sorted(set(found))}"
