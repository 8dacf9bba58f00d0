"""Parallel-vs-serial equivalence + worker-count invariance for the
map-reduce engine (the reference's dominant end-to-end test pattern,
test/paralleltests.jl:488-590 and the np matrix in test/singlehost.jl:7-15).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parallelutilities_jl_spark.operators.mapreduce import (
    map_product_splits,
    ordered_concat,
    ordered_fold,
    pmapbatch,
    pmapreduce,
)
from parallelutilities_jl_spark.operators.reductions import (
    MAX,
    MIN,
    PROD,
    SUM,
    Commutative,
    broadcast_stack,
    elementwise_reduce,
    explode_long,
    zip_with_combine,
)
from parallelutilities_jl_spark.plans.dataframe import product_df, zip_df
from parallelutilities_jl_spark.plans.productsplit import ProductSpec
from parallelutilities_jl_spark.sources.ranges import rng


@pytest.mark.parametrize("np_parts", [1, 2, 4, 8])
def test_pmapreduce_equals_serial_mapreduce(spark, np_parts):
    # pmapreduce(x -> x^2, +, 1:100) == mapreduce(x -> x^2, +, 1:100)
    got = pmapreduce(
        spark, lambda x: x * x, Commutative(SUM), [rng(1, 100)], np=np_parts
    ).collect()[0]["result"]
    assert got == sum(x * x for x in range(1, 101))


@pytest.mark.parametrize("np_parts", [1, 3, 8])
def test_pmapreduce_product_iterators(spark, np_parts):
    # product analog: mapreduce over 1:10 × 4:6
    got = pmapreduce(
        spark,
        lambda a, b: a * b,
        Commutative(SUM),
        [rng(1, 10), rng(4, 6)],
        product=True,
        np=np_parts,
    ).collect()[0]["result"]
    assert got == sum(a * b for b in range(4, 7) for a in range(1, 11))


def test_init_applied_exactly_once(spark):
    # reference strips init on all ranks but one (src/mapreduce.jl:110-117);
    # a per-partition zeroValue would give 42 * np instead.
    for np_parts in (1, 4, 8):
        got = pmapreduce(
            spark,
            lambda x: x,
            Commutative(SUM),
            [rng(1, 50)],
            np=np_parts,
            init=F.lit(42).cast("long"),
        ).collect()[0]["result"]
        assert got == 42 + sum(range(1, 51))


@pytest.mark.parametrize("np_parts", [1, 2, 5, 16])
def test_ordered_fold_matches_commutative(spark, np_parts):
    df = zip_df(spark, (rng(1, 500),), np=np_parts)
    mapped = df.select("p", (F.col("z1") * 2).alias("v"))
    ordered = ordered_fold(mapped, SUM, zero_type="bigint").collect()[0]["result"]
    plain = mapped.agg(F.sum("v")).collect()[0][0]
    assert ordered == plain == 500 * 501


def test_ordered_fold_min_max(spark):
    df = zip_df(spark, (rng(1, 100),), np=7)
    mapped = df.select("p", F.col("z1").alias("v"))
    assert ordered_fold(mapped, MIN, "bigint").collect()[0]["result"] == 1
    assert ordered_fold(mapped, MAX, "bigint").collect()[0]["result"] == 100


@pytest.mark.parametrize("np_parts", [1, 3, 6])
def test_ordered_concat_is_rank_then_local_order(spark, np_parts):
    # pmapbatch == pmap: concat order must equal serial enumeration
    # (reference test/paralleltests.jl:661-677)
    spec = ProductSpec((rng(1, 5), rng(2, 4)))
    df = product_df(spark, spec, np=np_parts)
    out = ordered_concat(
        df.select("p", "i", (F.col("c1") * 10 + F.col("c2")).alias("v")),
        "p",
        "i",
        "v",
    ).collect()
    serial = [
        a * 10 + b for b in range(2, 5) for a in range(1, 6)
    ]
    got = [r["val"] for r in sorted(out, key=lambda r: r["pos"])]
    assert got == serial


def test_pmapbatch_preserves_order(spark):
    out = pmapbatch(
        spark, lambda x: x * 7, [rng(1, 30)], np=4
    ).orderBy("i").collect()
    assert [r["fx"] for r in out] == [x * 7 for x in range(1, 31)]


def test_map_product_splits_descriptor_consistency(spark):
    # every rank's descriptor metadata must agree with the rows it got
    spec = ProductSpec((rng(1, 12), rng(1, 7)))
    np_parts = 5

    def f(ps, pdf: pd.DataFrame) -> pd.DataFrame:
        assert len(ps) == len(pdf)  # O(1) length == actual rows
        assert ps.minimumelement(0) == int(pdf["c1"].min())
        assert ps.maximumelement(1) == int(pdf["c2"].max())
        assert ps.nelements(0) == pdf["c1"].nunique()
        return pd.DataFrame({"p": [ps.p], "n": [len(ps)]})

    rows = map_product_splits(spark, spec, np_parts, f, "p long, n long").collect()
    assert sorted((r["p"], r["n"]) for r in rows) == [
        (p, len(spec.split(np_parts, p))) for p in range(1, np_parts + 1)
    ]


def _slots(monkeypatch, hosts, threads):
    """Run the dense-elsum host stage as `hosts` host tasks of `threads`
    threads each, whatever the session's executors are."""
    from parallelutilities_jl_spark.operators import mapreduce

    monkeypatch.setattr(mapreduce, "_host_slots", lambda sc: (hosts, threads))


@pytest.mark.parametrize("n_hosts", [1, 4, 8])
def test_pmapreduce_dense_elsum(spark, monkeypatch, n_hosts):
    # reference docs/src/index.md:22-46 workload shape: per-task arrays,
    # in-place elementwise sum; result invariant to the host count, which
    # in local mode takes the driver fold (collect) and the cross-host
    # chunk fold (sink) through 1, 4 and 8 host partials
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
        pmapreduce_dense_elsum_long,
    )

    _slots(monkeypatch, n_hosts, 2)

    def gen(i):
        return np.full((20, 30), float(i))

    out = pmapreduce_dense_elsum(spark, 10, gen)
    assert out.shape == (20, 30)
    assert np.all(out == sum(range(10)))
    rows = pmapreduce_dense_elsum_long(spark, 10, gen).collect()
    assert sorted(r["idx"] for r in rows) == list(range(600))
    assert {r["value"] for r in rows} == {float(sum(range(10)))}


def test_dense_elsum_long_narrow_dtype_identical(spark):
    # the sink twin accumulates and ships the int16 its generator
    # returns (4x fewer shuffled bytes) and casts to float64 only at the
    # output column — rows must be identical to the float64 pipeline,
    # and the periodic-base generation identity (i·j) mod 13 ==
    # ((i mod 13)·(j mod 13)) mod 13 must hold exactly
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum_long,
    )

    npix = 600
    base = (np.arange(npix, dtype=np.int64) % 13).astype(np.int16)
    for i in (0, 1, 12, 13, 31):
        direct = (i * np.arange(npix, dtype=np.int64)) % 13
        periodic = (base * np.int16(i % 13)) % np.int16(13)
        assert np.array_equal(direct, periodic.astype(np.int64))

    def gen_f8(i):
        return ((i * np.arange(npix, dtype=np.int64)) % 13).astype(
            np.float64
        ).reshape(20, 30)

    def gen_i2(i):
        return ((base * np.int16(i % 13)) % np.int16(13)).reshape(20, 30)

    ref = pmapreduce_dense_elsum_long(spark, 10, gen_f8).collect()
    got = pmapreduce_dense_elsum_long(spark, 10, gen_i2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


@pytest.mark.parametrize("dtype", ["float32", "int16", "int8"])
def test_dense_elsum_long_decodes_the_accumulated_dtype(spark, dtype):
    # each chunk row carries the dtype its pieces were summed in; a
    # decoder fixed at float64 read the sum of two float32 ones as rows
    # of 2.0000004768 and could not decode an int8 sum at all
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum_long,
    )

    rows = pmapreduce_dense_elsum_long(
        spark, 2, lambda i: np.ones((2, 4), dtype=dtype)
    ).collect()
    assert sorted((r["idx"], r["value"]) for r in rows) == [
        (j, 2.0) for j in range(8)
    ]


def test_dense_elsum_collect_narrow_dtype_identical(spark):
    # operator-level pin: the collect twin is dtype-agnostic (the dtype
    # is make_array's), so a ones workload generated, accumulated and
    # shipped in int8 must be elementwise identical to the float64
    # pipeline after the final cast
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
    )

    ref = pmapreduce_dense_elsum(spark, 10, lambda i: np.ones((20, 30)))
    got = pmapreduce_dense_elsum(
        spark, 10, lambda i: np.ones((20, 30), dtype=np.int8)
    )
    assert got.shape == ref.shape
    assert np.array_equal(got.astype(np.float64), ref)
    assert float(got.sum()) == float(ref.sum()) == 6000.0


def test_dense_elsum_int_overflow_raises(spark):
    # round-16 advisor: a narrow integer accumulation without headroom
    # must raise, not silently risk wrong sums — 10 tasks of int8(12)
    # sum to 120, inside int8's range but past the half-range guard
    # band (63), i.e. one more add could wrap; the fold's headroom
    # guard must trip BEFORE any wrap corrupts data (OverflowError
    # surfaces through Spark as a PythonException naming it)
    import numpy as np
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
    )

    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        pmapreduce_dense_elsum(
            spark, 10, lambda i: np.full((20, 30), 12, dtype=np.int8)
        )
    assert "headroom" in str(ei.value)


def test_checked_add_bounds_every_add():
    # ADVICE r17: a guard run once after the fold missed this — four
    # int8 partials of 60 sum to 240, which wraps to -16 and lands back
    # inside the post-fold band; the pre-add bound trips on the way
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import _checked_add

    acc = np.full(8, 60, dtype=np.int8)
    with pytest.raises(OverflowError, match="headroom"):
        for _ in range(3):
            acc = _checked_add(acc, np.full(8, 60, dtype=np.int8), out=acc)
    # float accumulations are never bounded (IEEE saturates to inf)
    big = np.full(4, 1e308)
    with np.errstate(over="ignore"):
        assert np.isinf(_checked_add(big, big)).all()


@pytest.mark.parametrize("twin", ["collect", "sink"])
def test_dense_elsum_four_int8_partials_of_60_raise(spark, monkeypatch, twin):
    # the same counterexample end to end: four partials of 60 meet in
    # the cross-host fold (the driver's for collect, the chunk fold for
    # sink) of 4 hosts x 1 thread, and in the host fold of 1 host x 4
    # threads
    import numpy as np
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
        pmapreduce_dense_elsum_long,
    )

    def gen(i):
        return np.full((4, 5), 60, dtype=np.int8)

    for hosts, threads in ((4, 1), (1, 4)):
        _slots(monkeypatch, hosts, threads)
        with pytest.raises(
            (OverflowError, PythonException, Py4JJavaError)
        ) as ei:
            if twin == "collect":
                pmapreduce_dense_elsum(spark, 4, gen)
            else:
                pmapreduce_dense_elsum_long(spark, 4, gen).collect()
        assert ei.type is OverflowError or "OverflowError" in str(ei.value)


@pytest.mark.parametrize("twin", ["collect", "sink"])
def test_dense_elsum_shared_make_array_is_not_written(spark, twin):
    # a make_array that hands out the SAME matrix on every call: the
    # in-partition accumulator must never be the caller's array, or
    # each add doubles it (8 tasks of ones summed to 16, not 8)
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
        pmapreduce_dense_elsum_long,
    )

    shared = np.ones((4, 3))

    def gen(i):
        return shared

    if twin == "collect":
        vals = pmapreduce_dense_elsum(spark, 8, gen).reshape(-1).tolist()
    else:
        vals = [
            r["value"]
            for r in pmapreduce_dense_elsum_long(spark, 8, gen).collect()
        ]
    assert vals == [8.0] * 12


def test_partition_sum_holds_two_arrays():
    # the in-place combine holds the accumulator and the array being
    # added, never a third: no earlier make_array result may still be
    # alive when the next one is built, and the traced peak stays under
    # three arrays (the previous array, kept until its name was rebound,
    # made three)
    import gc
    import tracemalloc
    import weakref

    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import _partition_sum

    shape = (256, 1024)  # 2 MiB of float64
    nbytes = np.dtype(np.float64).itemsize * shape[0] * shape[1]
    made = []

    def gen(i):
        gc.collect()
        assert [r for r in made if r() is not None] == []
        a = np.full(shape, float(i))
        made.append(weakref.ref(a))
        return a

    tracemalloc.start()
    try:
        acc = _partition_sum(gen, range(6))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 2.5 * nbytes
    assert acc.dtype == np.float64 and np.all(acc == 15.0)
    assert all(acc is not r() for r in made)


def test_host_fold_holds_two_arrays_per_thread():
    # the threaded host fold: its k threads share one accumulator and
    # each holds the one array it generated, so k + 1 arrays are alive
    # (`test_host_fold_holds_k_plus_one_arrays`), inside this looser
    # bound of two arrays per thread
    import os
    import tracemalloc

    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import _host_fold

    shape = (256, 1024)  # 2 MiB of float64
    nbytes = np.dtype(np.float64).itemsize * shape[0] * shape[1]
    k = min(3, len(os.sched_getaffinity(0)))

    tracemalloc.start()
    try:
        acc = _host_fold(lambda i: np.full(shape, float(i)), range(12), 3)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < (2 * k + 0.5) * nbytes
    assert acc.dtype == np.float64 and np.all(acc == float(sum(range(12))))


def test_host_fold_holds_k_plus_one_arrays():
    # k threads generate one array each into the round, then add their
    # stripes of it into ONE shared accumulator, and the round is dropped
    # before the next is generated: k + 1 arrays, never 2k
    import os
    import tracemalloc

    from parallelutilities_jl_spark.operators.mapreduce import _host_fold

    shape = (256, 1024)  # 2 MiB of float64
    nbytes = np.dtype(np.float64).itemsize * shape[0] * shape[1]
    k = min(4, len(os.sched_getaffinity(0)))

    tracemalloc.start()
    try:
        acc = _host_fold(lambda i: np.full(shape, float(i)), range(13), 4)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < (k + 1.5) * nbytes
    assert acc.dtype == np.float64 and np.all(acc == float(sum(range(13))))


def _order_sensitive(i):
    # float64 arrays whose magnitudes differ by up to 1e8 between ids, so
    # any reassociation of the sum changes low bits; odd ids are F-ordered
    scale = 10.0 ** (i % 9 - 4)
    a = np.random.default_rng(i).standard_normal((37, 11)) * scale
    return np.asfortranarray(a) if i % 2 else a


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_host_fold_is_the_sequential_fold_bit_for_bit(k):
    # every element is summed in id order whatever the thread count, so
    # the result is byte-identical to the one-thread left fold, on every
    # run (no lock decides an order); a short switch interval makes the
    # threads interleave as often as they can
    import functools
    import sys

    from parallelutilities_jl_spark.operators.mapreduce import _host_fold

    ref = functools.reduce(np.add, map(_order_sensitive, range(13)))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            got = _host_fold(_order_sensitive, range(13), k)
            assert got.dtype == ref.dtype and got.flags.c_contiguous
            assert got.tobytes() == ref.tobytes()
    finally:
        sys.setswitchinterval(interval)


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_host_fold_promotes_where_np_add_does(k):
    # float32 adds stay float32 until the first float64 array, as in the
    # left fold; a sum promoted up front would round differently
    import functools

    from parallelutilities_jl_spark.operators.mapreduce import _host_fold

    dtypes = [np.int8, np.float32, np.float32, np.float32, np.float64, np.int8]

    def gen(i):
        return np.full((9, 4), 0.1 + i, dtype=dtypes[i % len(dtypes)])

    ref = functools.reduce(np.add, map(gen, range(11)))
    got = _host_fold(gen, range(11), k)
    assert got.dtype == ref.dtype == np.float64
    assert got.tobytes() == ref.tobytes()


def _fold_in_thread(make_array, ids, threads):
    """Run `_host_fold` on a side thread; return what it raised, after
    failing the test if it has not finished within 60 s."""
    import threading

    from parallelutilities_jl_spark.operators.mapreduce import _host_fold

    raised = []

    def body():
        try:
            _host_fold(make_array, ids, threads)
        except BaseException as e:  # noqa: BLE001 - handed to the test
            raised.append(e)

    t = threading.Thread(target=body, daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "the host fold hung"
    return raised


def test_host_fold_side_thread_error_surfaces():
    # make_array raising on a thread other than the first ends the fold,
    # and the error raised is the original one
    def gen(i):
        if i == 5:  # thread 1 of the second round
            raise ValueError("make_array failed on id 5")
        return np.ones((8, 5))

    raised = _fold_in_thread(gen, range(8), 4)
    assert len(raised) == 1 and type(raised[0]) is ValueError
    assert "id 5" in str(raised[0])


def test_host_fold_overflow_in_one_stripe_surfaces():
    # only the last rows overflow int8, so only the last thread's
    # stripe add raises; the fold must end, and the OverflowError itself
    # must reach the caller
    def gen(i):
        a = np.zeros((8, 5), dtype=np.int8)
        a[6:] = 60
        return a

    raised = _fold_in_thread(gen, range(4), 4)
    assert len(raised) == 1 and type(raised[0]) is OverflowError
    assert "headroom" in str(raised[0])


@pytest.mark.parametrize("k", [1, 3])
def test_host_fold_refuses_mismatched_shapes(k):
    # one shape rule on every path: shapes that np.add would broadcast
    # are refused whatever the thread count, and by the driver fold
    from parallelutilities_jl_spark.operators.mapreduce import _fold

    def gen(i):
        return np.ones((1, 3)) if i == 2 else np.ones((4, 3))

    raised = _fold_in_thread(gen, range(6), k)
    assert len(raised) == 1 and type(raised[0]) is ValueError
    assert "shape (1, 3)" in str(raised[0])
    with pytest.raises(ValueError, match="shape"):
        _fold([np.ones((4, 3)), np.ones((1, 3))])


def _frames(data):
    """The (length, payload) frames of a byte stream."""
    import struct

    out, pos = [], 0
    while pos < len(data):
        (n,) = struct.unpack("!i", data[pos : pos + 4])
        out.append(data[pos + 4 : pos + 4 + n])
        pos += 4 + n
    return out


_FRAME_CASES = {
    "f_order": lambda i: np.asfortranarray(
        np.arange(60.0).reshape(6, 10) * (i + 1)
    ),
    "empty": lambda i: np.ones((0, 3)),
    "float32": lambda i: np.full((5, 3), 0.1 * (i + 1), dtype=np.float32),
    "int16": lambda i: np.full((5, 3), i, dtype=np.int16),
    "int8": lambda i: np.full((5, 3), i, dtype=np.int8),
}


@pytest.mark.parametrize("case", sorted(_FRAME_CASES))
def test_array_frames_round_trip(case):
    # a header frame, then the C-order bytes as one frame (empty for an
    # empty array), read back by readinto into a writeable array of the
    # same dtype and shape
    import io
    import json

    from parallelutilities_jl_spark.operators.mapreduce import _ArrayFrames

    arrays = [_FRAME_CASES[case](i) for i in range(3)]
    out = io.BytesIO()
    _ArrayFrames().dump_stream(iter(arrays), out)
    frames = _frames(out.getvalue())
    assert len(frames) == 2 * len(arrays)
    for a, head, data in zip(arrays, frames[::2], frames[1::2]):
        dtype, shape = json.loads(head)
        assert (dtype, tuple(shape)) == (a.dtype.str, a.shape)
        assert data == np.ascontiguousarray(a).tobytes()
    back = list(_ArrayFrames().load_stream(io.BytesIO(out.getvalue())))
    assert len(back) == len(arrays)
    for a, b in zip(arrays, back):
        assert b.dtype == a.dtype and b.shape == a.shape
        assert b.flags.writeable and b.flags.c_contiguous
        assert np.array_equal(a, b)


@pytest.mark.parametrize("case", sorted(_FRAME_CASES))
def test_dense_elsum_collect_keeps_dtype_and_bytes(spark, monkeypatch, case):
    # the collect twin end to end: every host partial crosses Python ->
    # JVM -> driver as raw frames and is rebuilt in place; the sum equals
    # the left fold in dtype, shape and bytes
    import functools

    from parallelutilities_jl_spark.operators import mapreduce

    gen = _FRAME_CASES[case]
    _slots(monkeypatch, 2, 2)
    out = mapreduce.pmapreduce_dense_elsum(spark, 6, gen)
    ref = functools.reduce(np.add, map(gen, range(6)))
    assert out.dtype == ref.dtype and out.shape == ref.shape
    assert out.tobytes() == ref.tobytes()
    assert out.flags.writeable


def test_dense_elsum_driver_holds_two_arrays(spark, monkeypatch):
    # the driver folds the host partials as they come off the result
    # socket, in partition order, so its Python process holds the
    # accumulator and the partial being read: 8 hosts, yet under 2.5
    # arrays traced (tracemalloc sees no JVM heap)
    import tracemalloc

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
    )

    shape = (512, 1024)  # 4 MiB of float64
    nbytes = np.dtype(np.float64).itemsize * shape[0] * shape[1]
    _slots(monkeypatch, 8, 2)
    tracemalloc.start()
    try:
        out = pmapreduce_dense_elsum(
            spark, 16, lambda i: np.full(shape, float(i))
        )
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 2.5 * nbytes
    assert np.all(out == float(sum(range(16))))


def test_partition_sum_promotes_like_np_add():
    # an int8 first array followed by float64 ones sums to float64, as
    # np.add promotes; the narrow first array is never written
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import _partition_sum

    first = np.full((3, 4), 3, dtype=np.int8)

    def gen(i):
        return first if i == 0 else np.full((3, 4), 0.5)

    acc = _partition_sum(gen, range(3))
    assert acc.dtype == np.float64
    assert np.all(acc == 4.0)
    assert np.all(first == 3)


@pytest.mark.parametrize("n_tasks", [0, -2])
@pytest.mark.parametrize("twin", ["collect", "sink"])
def test_dense_elsum_rejects_fewer_than_one_task(spark, twin, n_tasks):
    # an elementwise sum over no arrays has no shape to return (the
    # reference's mapreduce over an empty collection without `init` is
    # an error too); n_tasks=0 used to die in a ZeroDivisionError
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
        pmapreduce_dense_elsum_long,
    )

    twin_fn = {
        "collect": pmapreduce_dense_elsum,
        "sink": pmapreduce_dense_elsum_long,
    }[twin]
    with pytest.raises(ValueError, match="n_tasks"):
        twin_fn(spark, n_tasks, lambda i: np.ones((2, 3)))


def test_flip_swaps_arguments():
    from parallelutilities_jl_spark.operators.reductions import ReduceOp, flip

    op = ReduceOp("custom", F.sum, "acc - x", "0")
    assert flip(op).merge_sql == "x - acc"


def test_broadcast_stack_offset_axes(spark):
    # reference misctests_singleprocess.jl:55-63: axes 2:4 ∪ 3:5 — overlap
    # combined, flanks copied
    a = spark.createDataFrame([(2, 10.0), (3, 20.0), (4, 30.0)], "idx long, val double")
    b = spark.createDataFrame([(3, 1.0), (4, 2.0), (5, 3.0)], "idx long, val double")
    got = {
        r["idx"]: r["val"] for r in broadcast_stack(a, b, "x + y").collect()
    }
    assert got == {2: 10.0, 3: 21.0, 4: 32.0, 5: 3.0}


def test_elementwise_reduce_matches_pandas(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [1, 2, 3], "arr": [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]}
        )
    )
    long_df = explode_long(df, "arr", ["vec_id"])
    got = {
        r["idx"]: r["val"]
        for r in elementwise_reduce(long_df, SUM).collect()
    }
    assert got == {1: 9.0, 2: 12.0}


def test_zip_with_combine_ops(spark):
    df = spark.createDataFrame(
        [([1.0, 5.0], [4.0, 2.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        zip_with_combine(F.col("a"), F.col("b"), "x + y").alias("add"),
        zip_with_combine(F.col("a"), F.col("b"), "x * y").alias("mul"),
        zip_with_combine(F.col("a"), F.col("b"), "least(x, y)").alias("mn"),
        zip_with_combine(F.col("a"), F.col("b"), "greatest(x, y)").alias("mx"),
    ).collect()[0]
    assert row["add"] == [5.0, 7.0]
    assert row["mul"] == [4.0, 10.0]
    assert row["mn"] == [1.0, 2.0]
    assert row["mx"] == [4.0, 5.0]


def test_reference_export_surface():
    # the reference's five exports resolve at package top level
    # (reference src/ParallelUtilities.jl:6-10)
    import parallelutilities_jl_spark as pu

    for name in (
        "pmapreduce",
        "pmapreduce_productsplit",
        "pmapbatch",
        "pmapbatch_productsplit",
        "workerrank",
    ):
        assert callable(getattr(pu, name))


def test_pmapreduce_productsplit_end_to_end(spark):
    # rank program: emit each split's length (computed from the O(1)
    # descriptor), sum across ranks == total product size
    import pandas as pd

    import parallelutilities_jl_spark as pu
    from parallelutilities_jl_spark.operators.reductions import SUM

    spec = pu.ProductSpec((pu.RangeSpec(1, 1, 6), pu.RangeSpec(0, 2, 5)))

    def f(ps, pdf: pd.DataFrame) -> pd.DataFrame:
        assert len(pdf) == len(ps)  # descriptor agrees with Arrow rows
        return pd.DataFrame({"p": [ps.workerrank], "v": [float(len(ps))]})

    out = pu.pmapreduce_productsplit(
        spark, spec, 4, f, "p long, v double", SUM
    )
    assert out.collect()[0]["result"] == float(spec.total)


def test_mapper_error_propagates_through_task_failure(spark):
    # Reference: pmapreduce(x -> error("map"), +, 1:10) throws and the
    # original error reaches the caller (test/paralleltests.jl:644-659).
    # Our analog of a throwing worker function is the applyInPandas rank
    # program: Spark must fail the job AND surface the original Python
    # exception type/message, not swallow it into a partial result.
    import pandas as pd

    import parallelutilities_jl_spark as pu
    from parallelutilities_jl_spark.operators.reductions import SUM

    spec = pu.ProductSpec((pu.RangeSpec(1, 1, 6), pu.RangeSpec(0, 2, 5)))

    def bad_mapper(ps, pdf: pd.DataFrame) -> pd.DataFrame:
        raise ValueError("boom from mapper rank %d" % ps.workerrank)

    with pytest.raises(Exception) as excinfo:
        pu.pmapreduce_productsplit(
            spark, spec, 4, bad_mapper, "p long, v double", SUM
        ).collect()
    msg = str(excinfo.value)
    assert "ValueError" in msg and "boom from mapper" in msg


def test_reducer_error_propagates_through_task_failure(spark):
    # pmapreduce(identity, x -> error("reduce"), 1:10) analog: the
    # throwing stage is the reduction UDF consuming mapped output.
    def bad_reduce(a, b):
        raise RuntimeError("boom from reducer")

    from parallelutilities_jl_spark.operators.mapreduce import pmapreduce_rdd

    df = spark.range(1, 11).selectExpr("id AS v")
    with pytest.raises(Exception) as excinfo:
        pmapreduce_rdd(df, lambda r: r.v, bad_reduce, depth=2)
    msg = str(excinfo.value)
    assert "boom from reducer" in msg
