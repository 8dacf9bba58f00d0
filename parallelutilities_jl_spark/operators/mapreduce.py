"""The map-reduce engine — the reference's five public entry points
re-expressed Spark-first (reference src/ParallelUtilities.jl:6-10:
pmapreduce, pmapreduce_productsplit, pmapbatch, pmapbatch_productsplit,
workerrank).

Execution mapping (SURVEY §3):
* `pmapreduce(f, op, iters...)` → `product/zip DF → select(f) → agg(op)`.
  Catalyst plans the partial/final hash aggregation that replaces the
  reference's hand-built segmented tree (reference src/trees.jl:42-137);
  same results, the 3-stage local→per-host→cross-host reduce becomes
  map-side partial agg → shuffle → final agg.
* **Ordered (non-commutative) reduction** — the one semantic Spark does
  not give us (reference rank-sorts `pval`s before combining unless the op
  is `Commutative`, src/mapreduce.jl:138-146): per-partition partials are
  collected as (rank, value) structs, `array_sort`ed by rank, then folded
  left with SQL higher-order `aggregate()` — a deterministic left fold in
  worker-rank order. Skipped for commutative ops.
* **init-once** — the reference applies `init` exactly once globally, not
  per partition (src/mapreduce.jl:110-117,213-214); Spark's zeroValue is
  per-partition, so `init` is folded in *after* the global combine.
* `pmapreduce_productsplit` → `groupBy(p).applyInPandas` where the UDF
  receives the O(1) `ProductSplit` descriptor alongside its rows — the
  MPI-style rank program (reference docs/src/pmapreduce.md:58-91).
* `pmapbatch` → plain projection; order restored by the explicit linear
  index (reference: vcat of rank-tagged singletons, src/mapreduce.jl:316-324).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

import pandas as pd
from pyspark.serializers import (
    FramedSerializer,
    SpecialLengths,
    read_int,
    write_with_length,
)
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.operators.reductions import (
    Commutative,
    ReduceOp,
    is_commutative,
    unwrap,
)
from parallelutilities_jl_spark.plans.dataframe import product_df, zip_df
from parallelutilities_jl_spark.plans.productsplit import ProductSpec, ProductSplit
from parallelutilities_jl_spark.sources.ranges import RangeSpec


def pmapreduce(
    spark: SparkSession,
    f: Callable[..., Column],
    op: ReduceOp | Commutative,
    iterators: Sequence[RangeSpec],
    *,
    product: bool = False,
    np: int = 32,
    init: Optional[Column] = None,
) -> DataFrame:
    """Parallel mapreduce over zipped (default) or producted iterators
    (reference pmapreduce, src/mapreduce.jl:266-287). Returns a 1-row
    DataFrame with column `result`.

    ``f`` receives the coordinate Columns and returns the mapped Column;
    ``op`` a ReduceOp (optionally Commutative-tagged).
    """
    if product:
        spec = ProductSpec(tuple(iterators))
        df = product_df(spark, spec, np=np)
        cols = [F.col(c) for c in spec.colnames]
    else:
        df = zip_df(spark, tuple(iterators), np=np)
        cols = [F.col(f"z{k + 1}") for k in range(len(iterators))]
    mapped = df.select(F.col("p"), f(*cols).alias("v"))
    return reduce_mapped(mapped, op, init=init)


def reduce_mapped(
    mapped: DataFrame, op: ReduceOp | Commutative, *, init: Optional[Column] = None
) -> DataFrame:
    """Reduce a (p, v) DataFrame with the ordered/commutative dichotomy and
    init-once semantics."""
    base = unwrap(op)
    if is_commutative(op):
        out = mapped.agg(base.agg(F.col("v")).alias("result"))
    else:
        out = ordered_fold(mapped, base)
    if init is not None:
        # init participates exactly once, after the global combine
        # (reference src/mapreduce.jl:110-117)
        out = out.withColumn("init_v", init).select(
            _merge_cols(base, F.col("init_v"), F.col("result")).alias("result")
        )
    return out


def _merge_cols(op: ReduceOp, acc: Column, x: Column) -> Column:
    if op.name == "sum":
        return acc + x
    if op.name == "min":
        return F.least(acc, x)
    if op.name == "max":
        return F.greatest(acc, x)
    if op.name == "prod":
        return acc * x
    raise ValueError(f"no column merge for op {op.name}")


def ordered_fold(
    mapped: DataFrame, op: ReduceOp, zero_type: str | None = None
) -> DataFrame:
    """Rank-ordered reduction for non-commutative ops: per-partition
    partial (associativity), then a deterministic left fold in rank order
    (reference pval sort, src/mapreduce.jl:138-146). The partial agg is
    map-side; only np partials reach the fold.

    The fold accumulator's type defaults to the mapped column's own type
    (an integer reduction folded in double would silently lose exactness
    past 2^53); `x` is substituted on word boundaries so identifiers that
    merely contain the letter (max, xor) survive."""
    from parallelutilities_jl_spark.operators.reductions import _sub_word

    if zero_type is None:
        zero_type = mapped.schema["v"].dataType.simpleString()
    partials = mapped.groupBy("p").agg(op.agg(F.col("v")).alias("pv"))
    return partials.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(p, pv))), "
            f"CAST({op.zero_sql} AS {zero_type}), "
            f"(acc, s) -> {_sub_word(op.merge_sql, 'x', 's.pv')})"
        ).alias("result")
    )


def ordered_concat(
    df: DataFrame, p: str, local_order: str, val: str
) -> DataFrame:
    """The vcat analog: concatenate per-rank sequences in rank order,
    emitting (pos, val) with a deterministic global position — the
    rank-tagged `pval` ordering (reference src/mapreduce.jl:2-16,138-146).

    Global position = (elements in earlier ranks) + within-rank position.
    The within-rank row_number is a partitioned window (scales); the
    running offsets are a window over only np per-rank counts — the same
    np-sized funnel as the reference's rank-sorted combine — broadcast
    back onto the data. No data-sized global window anywhere."""
    from pyspark.sql.window import Window as W

    w_local = W.partitionBy(p).orderBy(F.col(local_order))
    with_rn = df.select(
        F.col(p),
        F.col(val).alias("val"),
        F.row_number().over(w_local).cast("long").alias("rn"),
    )
    counts = with_rn.groupBy(p).agg(F.max("rn").alias("cnt"))
    w_off = W.orderBy(F.col(p)).rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        F.col(p),
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    return with_rn.join(F.broadcast(offsets), p).select(
        (F.col("off") + F.col("rn")).alias("pos"), "val"
    )


def pmapbatch(
    spark: SparkSession,
    f: Callable[..., Column],
    iterators: Sequence[RangeSpec],
    *,
    product: bool = False,
    np: int = 32,
) -> DataFrame:
    """Order-preserving parallel map (reference pmapbatch,
    src/mapreduce.jl:316-324): a projection; the linear index `i` carries
    the global order so no concat/sort is ever needed."""
    if product:
        spec = ProductSpec(tuple(iterators))
        df = product_df(spark, spec, np=np)
        cols = [F.col(c) for c in spec.colnames]
    else:
        df = zip_df(spark, tuple(iterators), np=np)
        cols = [F.col(f"z{k + 1}") for k in range(len(iterators))]
    return df.select("i", f(*cols).alias("fx"))


def map_product_splits(
    spark: SparkSession,
    spec: ProductSpec,
    np: int,
    f: Callable[[ProductSplit, pd.DataFrame], pd.DataFrame],
    out_schema: str,
) -> DataFrame:
    """pmapreduce_productsplit's map stage: each rank's function receives
    the whole split once — as (O(1) descriptor, pandas rows) — mirroring
    worker code that interrogates `ps` for its bounds/extents (reference
    src/mapreduce.jl:300-307, docs/src/pmapreduce.md:98-160).

    Arrow-batched `applyInPandas` keyed by the *logical* rank column, so
    the physical partitioning is free to differ (AQE may coalesce) while
    rank semantics stay exact."""
    from parallelutilities_jl_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    df = product_df(spark, spec, np=np)

    def apply(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ps = spec.split(np, int(key[0]))
        return f(ps, pdf)

    return df.groupBy("p").applyInPandas(apply, out_schema)


def pmapreduce_productsplit(
    spark: SparkSession,
    spec: ProductSpec,
    np: int,
    f: Callable[[ProductSplit, pd.DataFrame], pd.DataFrame],
    out_schema: str,
    op: "ReduceOp | Commutative",
    val: str = "v",
    *,
    init: Optional[Column] = None,
) -> DataFrame:
    """Reference `pmapreduce_productsplit` (src/mapreduce.jl:300-307):
    each rank's `f` receives its whole split once (descriptor + Arrow
    rows, must emit a `p` column and a `val` column), then the per-rank
    values reduce with the ordered/commutative + init-once semantics."""
    mapped = map_product_splits(spark, spec, np, f, out_schema).select(
        F.col("p"), F.col(val).alias("v")
    )
    return reduce_mapped(mapped, op, init=init)


def workerrank(ps: ProductSplit) -> int:
    """Reference `workerrank(ps)` (src/productsplit.jl:169): the 1-based
    rank a split descriptor belongs to; executor-side the same value is
    the split's `p` column (spark_partition_id()+1 on aligned layouts)."""
    return ps.workerrank


def nworkers(ps: ProductSplit) -> int:
    """Reference `nworkers(ps)` (src/productsplit.jl:170)."""
    return ps.nworkers


def pmapbatch_productsplit(
    spark: SparkSession,
    spec: ProductSpec,
    np: int,
    f: Callable[[ProductSplit, pd.DataFrame], pd.DataFrame],
    out_schema: str,
) -> DataFrame:
    """Batch variant (reference src/mapreduce.jl:334-342): per-rank outputs
    concatenated in rank order — callers sort by the rank column the UDF
    emits."""
    return map_product_splits(spark, spec, np, f, out_schema)


def pmapreduce_rdd(
    df: DataFrame, f, op, depth: int = 2
):
    """RDD tree-reduce path for API parity with the reference's segmented
    binary tree (reference src/trees.jl:42-137 → `treeAggregate(depth)`):
    hierarchical combine in ``depth`` rounds. Only for genuinely opaque
    Python `f`/`op`; the DataFrame path above is the fast path."""
    return df.rdd.map(f).treeReduce(op, depth)


def _checked_add(a, b, out=None):
    """`np.add(a, b, out=out)` that refuses to wrap. A caller that
    accumulates in an integer dtype promises its sums fit, but `np.add`
    wraps silently, so a broken promise would produce wrong sums with
    no error anywhere. Before every integer add, the operands' summed
    extrema (min a + min b, max a + max b, as exact Python ints) bound
    the true sum; the add raises `OverflowError` unless that bound sits
    inside HALF the dtype's range, so every accumulated partial keeps
    headroom for one more add. The bound is taken before the add, so no
    run of partials can wrap back into range unseen (four int8
    partials of 60 raise; checked only after the fold they would wrap to
    -16 and pass). Float accumulations (inf-safe by IEEE saturation
    semantics) skip it."""
    import numpy as np

    dt = out.dtype if out is not None else np.result_type(a, b)
    if np.issubdtype(dt, np.integer) and np.size(a) and np.size(b):
        info = np.iinfo(dt)
        lo = int(np.min(a)) + int(np.min(b))
        hi = int(np.max(a)) + int(np.max(b))
        if lo < info.min // 2 or hi > info.max // 2:
            raise OverflowError(
                f"dense-elsum partial sum bound [{lo}, {hi}] exceeds the "
                f"safe headroom of {dt} ([{info.min // 2}, "
                f"{info.max // 2}]) — the narrow accumulation dtype is "
                "too small for these values; accumulate in a wider dtype."
            )
    return np.add(a, b, out=out)


def _same_shape(acc, m):
    """Refuse an array whose shape is not the accumulator's. The
    elementwise sum never broadcasts, on any path or thread count."""
    if m.shape != acc.shape:
        raise ValueError(
            f"make_array returned shape {m.shape}, not {acc.shape}"
        )


def _add_into(acc, m):
    """`acc + m` through `_checked_add`, written into `acc` when `acc` is
    writeable and already has the sum's dtype, else into a new array (a
    wider `m` promotes, as `np.add` would; a deserialized `acc` can be
    read-only). The shapes must be equal (`_same_shape`)."""
    import numpy as np

    _same_shape(acc, m)
    if acc.flags.writeable and np.result_type(acc, m) == acc.dtype:
        return _checked_add(acc, m, out=acc)
    return _checked_add(acc, m)


def _partition_sum(make_array, ids):
    """Elementwise sum of `make_array(i)` over `ids` (None for no ids),
    in place like the reference's `broadcastinplace`
    (src/reductionfunctions.jl:69-71): `_host_fold` on one thread, so at
    most two arrays are alive at once, the accumulator and the array
    just generated, which is dropped before the next `make_array` call.
    A `make_array` result is never written, and a wider operand promotes
    the accumulator (int8 then float64 sums to float64, as `np.add`
    would)."""
    return _host_fold(make_array, ids, 1)


def _fold(arrays):
    """Elementwise sum of a non-empty iterable of owned arrays, in order.
    Each array is dropped once it is added, so a lazy iterable keeps at
    most two alive."""
    it = iter(arrays)
    acc = next(it)
    for m in it:
        acc = _add_into(acc, m)
        del m
    return acc


def _stripe(a, j, k):
    """Row stripe j of k of `a`, as a view (a 0-d array is one row)."""
    a = a.reshape(1) if a.ndim == 0 else a
    n = a.shape[0]
    return a[n * j // k : n * (j + 1) // k]


def _plan_round(acc, arrays):
    """The steps that add one `_host_fold` round's `arrays`, in id order,
    to `acc` (None before the first round), and the accumulator they
    leave. A step (src, out, m) writes `src + m` into `out`, or copies
    `m` into `out` when src is None. The first array is copied into a new
    C-ordered accumulator; where a wider array promotes the sum, as
    `np.add` would, a promoted accumulator is allocated at that array."""
    import numpy as np

    steps = []
    for m in arrays:
        if acc is None:
            acc = np.empty(m.shape, m.dtype)
            steps.append((None, acc, m))
            continue
        _same_shape(acc, m)
        dt = np.result_type(acc, m)
        out = acc if dt == acc.dtype else np.empty(acc.shape, dt)
        steps.append((acc, out, m))
        acc = out
    return acc, steps


def _add_stripes(steps, j, k):
    """Thread j's share of one `_host_fold` round: stripe j of every
    step of `_plan_round`, in id order."""
    import numpy as np

    for src, out, m in steps:
        if src is None:
            np.copyto(_stripe(out, j, k), _stripe(m, j, k))
        else:
            _checked_add(
                _stripe(src, j, k), _stripe(m, j, k), out=_stripe(out, j, k)
            )


def _host_fold(make_array, ids, threads):
    """One host's elementwise sum of `make_array(i)` over `ids` (None for
    no ids), the reference's local and per-host stages
    (src/trees.jl:42-137), on k = min(len(ids), threads, usable cores)
    threads that share one accumulator, as the reference sums in place
    into one output (`broadcastinplace`, src/reductionfunctions.jl:69-71).
    It runs in rounds of k ids. Thread j generates the array of
    `ids[r·k + j]`; once the round is generated, thread j adds row
    stripe j of every array of the round, in id order, into the same
    stripe of the accumulator; the round's arrays are dropped before the
    next round is generated. The pool's `map` is the barrier between the
    two phases, and it re-raises the first exception of either.

    So at most k + 1 arrays are alive, no lock is taken (no two threads
    write one stripe), and every element is summed in id order whatever
    k is: the result is byte-identical to `functools.reduce(np.add, …)`
    over the ids' arrays, which must all have one shape. The accumulator
    is C-ordered and owned, so a `make_array` result is never written.
    `_checked_add` bounds each stripe's add, so with k > 1 it can accept
    an integer sum that the one-thread bound refuses, never one that
    wraps."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    ids = list(ids)
    if not ids:
        return None
    k = min(len(ids), threads, len(os.sched_getaffinity(0)))
    acc = None
    with ThreadPoolExecutor(k) as pool:
        for r in range(0, len(ids), k):
            arrays = list(
                pool.map(lambda i: np.asarray(make_array(i)), ids[r : r + k])
            )
            acc, steps = _plan_round(acc, arrays)
            del arrays
            list(pool.map(lambda j: _add_stripes(steps, j, k), range(k)))
            del steps
    return acc


def _host_slots(sc) -> tuple[int, int]:
    """(hosts, threads per host) of the dense-elsum host stage: one host
    task per registered executor, each on its share of
    `defaultParallelism`. Local mode registers no executor, so it is one
    host on every core."""
    hosts = max(1, sc._jsc.sc().getExecutorIds().size())
    return hosts, max(1, sc.defaultParallelism // hosts)


class _ArrayFrames(FramedSerializer):
    """A stream of ndarrays as raw frames, with no pickle. Each array is
    two frames: a header (the JSON of its `dtype.str` and shape), then
    its C-order bytes as one `memoryview`. `load_stream` reads each
    payload with `readinto` straight into an `np.empty` of that dtype
    and shape, so an array arrives writeable, with no unpickle and no
    second copy, and the next array is not read until the caller asks
    for it. pyspark packs a frame length as a signed 32-bit int
    (`write_int`), so an array must stay under 2 GiB; a task result
    that large is refused first by `spark.driver.maxResultSize` (1 GiB
    by default)."""

    def dump_stream(self, iterator, stream):
        import json

        import numpy as np

        for a in iterator:
            a = np.ascontiguousarray(a)
            # raises TypeError for an object array, whose buffer holds
            # pointers
            buf = memoryview(a.reshape(-1).view(np.uint8))
            head = json.dumps([a.dtype.str, a.shape]).encode()
            write_with_length(head, stream)
            write_with_length(buf, stream)

    def load_stream(self, stream):
        while True:
            try:
                n = read_int(stream)
            except EOFError:
                return
            if n == SpecialLengths.END_OF_DATA_SECTION:
                return
            # yielded unnamed, so this frame holds no array while the
            # next one is read
            yield self._read_array(stream, n)

    @staticmethod
    def _read_array(stream, head_len):
        import json

        import numpy as np

        dtype, shape = json.loads(stream.read(head_len))
        a = np.empty(shape, dtype)
        buf = memoryview(a.reshape(-1).view(np.uint8))
        if read_int(stream) != buf.nbytes:
            raise ValueError("array frame length does not match its header")
        pos = 0
        while pos < buf.nbytes:
            got = stream.readinto(buf[pos:])
            if not got:
                raise EOFError("array frame cut short")
            pos += got
        return a


def _host_partials(spark: SparkSession, n_tasks: int, make_array):
    """The host stage both dense-elsum twins share: an RDD of one summed
    partial per host (`_host_fold`), never an array per task."""
    from parallelutilities_jl_spark.session import ensure_package_on_executors

    if n_tasks < 1:
        # the reference's mapreduce over an empty collection without
        # `init` is an error too; there is no array to return
        raise ValueError(f"n_tasks must be >= 1, got {n_tasks}")
    # the host tasks call `_host_fold`, which cloudpickle ships by
    # reference to this module
    ensure_package_on_executors(spark)
    sc = spark.sparkContext
    hosts, threads = _host_slots(sc)

    def host_stage(it):
        acc = _host_fold(make_array, it, threads)
        if acc is not None:
            yield acc

    return sc.range(0, n_tasks, numSlices=hosts).mapPartitions(host_stage)


def pmapreduce_dense_elsum(spark: SparkSession, n_tasks: int, make_array):
    """The reference's headline workload: `pmapreduce(f, elsum, 1:n)` over
    dense arrays (reference docs/src/index.md:22-46 — in-place elementwise
    sum of one generated matrix per worker), reduced in the reference's
    stages: every host sums its tasks on its cores into one accumulator
    (`_host_partials`), and the driver adds the host partials.

    A host partial leaves its task as raw frames (`_ArrayFrames`), not a
    pickle, and the driver folds the partials in partition order as they
    come off the result socket, so the driver's Python process holds at
    most two arrays whatever the host count. The driver JVM still holds
    every host partial at once: `collectAndServe` collects them all
    before it serves the first. With one host that is one array crossing
    to the driver, with no shuffle, no pickle and no second output
    buffer; the returned array is writeable.

    `make_array` runs on up to k threads of a host at once (see
    `_host_fold`): it must be thread-safe, and it should release the GIL,
    as numpy's generators do. In local mode the one host task holds one
    task slot while it uses k cores; Spark 4.1 refuses a stage-level
    `TaskResourceRequests` in local mode."""
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import _load_from_socket

    frames = _ArrayFrames()
    rdd = _host_partials(spark, n_tasks, make_array)._reserialize(frames)
    sc = spark.sparkContext
    # `collect()` without its `list(...)`: the partials are folded lazily
    with SCCallSiteSync(sc):
        sock_info = sc._jvm.PythonRDD.collectAndServe(rdd._jrdd.rdd())
        return _fold(_load_from_socket(sock_info, frames))


def pmapreduce_dense_elsum_long(
    spark: SparkSession, n_tasks: int, make_array
) -> DataFrame:
    """Sink twin of `pmapreduce_dense_elsum`: the same host stage (k
    threads of a host sum into one accumulator, `_host_fold`), but the
    reduced array leaves the job as a DISTRIBUTED long-form DataFrame of
    (idx, value) rows — flat row-major index, elementwise sum as float64
    — instead of a driver collect. Each host partial splits into
    `defaultParallelism` contiguous chunks, the chunks shuffle by chunk
    id and each reduce task adds its chunk's pieces (the cross-host
    stage). A reduced chunk is ONE (start, dtype, bytes) row in the
    dtype it was accumulated in, and `mapInArrow` expands it to Arrow
    columns, so driver memory is O(1) in the array size and the result
    can flow straight to a parquet sink or any downstream plan.

    As in the collect twin, `make_array` runs on up to k threads of a
    host at once: it must be thread-safe, and it should release the GIL.
    In local mode the one host task holds one task slot while it uses k
    cores; Spark 4.1 refuses a stage-level `TaskResourceRequests` in
    local mode."""
    import numpy as np

    n_chunks = spark.sparkContext.defaultParallelism

    def split(acc):
        flat = acc.reshape(-1)
        bounds = np.linspace(0, flat.size, n_chunks + 1, dtype=np.int64)
        for c in range(n_chunks):
            if bounds[c] < bounds[c + 1]:
                yield c, (int(bounds[c]), flat[bounds[c] : bounds[c + 1]])

    # partitionBy + in-partition fold, not reduceByKey: every chunk key is
    # unique within a host partial, so reduceByKey's map-side combine is a
    # pure overhead pass
    def fold_chunks(it):
        acc = {}
        for c, (start, v) in it:
            prev = acc.get(c)
            acc[c] = (start, v if prev is None else _add_into(prev[1], v))
        # one COMPACT row per chunk crosses the Python->JVM boundary: the
        # raw buffer as binary, never boxed Python floats (a
        # tolist()+posexplode variant measured 23.5 s at the 10M-element
        # shape vs ~2 s for this bytes+Arrow path)
        for start, v in acc.values():
            yield start, v.dtype.str, bytearray(v.tobytes())

    chunks = (
        _host_partials(spark, n_tasks, make_array)
        .flatMap(split)
        .partitionBy(n_chunks, partitionFunc=lambda c: c)
        .mapPartitions(fold_chunks)
    )
    chunk_df = spark.createDataFrame(
        chunks, "start long, dtype string, vals binary"
    )

    def expand(batches):
        import pyarrow as pa

        for batch in batches:
            for s0, dt, b in zip(*(c.to_pylist() for c in batch.columns)):
                arr = np.frombuffer(b, dtype=dt).astype(np.float64, copy=False)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            np.arange(s0, s0 + arr.size, dtype=np.int64)
                        ),
                        pa.array(arr),
                    ],
                    ["idx", "value"],
                )

    return chunk_df.mapInArrow(expand, "idx long, value double")


# ---------------------------------------------------------------------------
# oracle-checked queries (SURVEY §2.4/§2.5 qnames)
# ---------------------------------------------------------------------------

from parallelutilities_jl_spark.plans.queries import PROD3  # noqa: E402
from parallelutilities_jl_spark.sources.fixtures import sf_of as _sf_of  # noqa: E402
from parallelutilities_jl_spark.sources.ranges import rng  # noqa: E402

PRODB = ProductSpec((rng(1, 100), rng(1, 60)))  # 6000-element map grid
RANGE_N = 10_000


def q_pmapreduce_sum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pmapreduce(x -> x^2, +, 1:10000) — the reference's flagship example
    (reference README.md:30-36) as a codegen'd scan-agg."""
    return pmapreduce(
        spark,
        lambda x: x * x,
        Commutative(ReduceOp("sum", F.sum, "acc + x", "0")),
        [rng(1, RANGE_N)],
    )


def q_reduce_with_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum with init=42 applied exactly once globally, not per partition
    (reference init-once, src/mapreduce.jl:110-117)."""
    from parallelutilities_jl_spark.operators.reductions import SUM

    return pmapreduce(
        spark,
        lambda c1, c2, c3: c1 + c2,
        Commutative(SUM),
        list(PROD3.ranges),
        product=True,
        np=8,
        init=F.lit(42).cast("long"),
    )


def q_ordered_reduce_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered (non-commutative-path) fold: same sum, but through the
    rank-sorted aggregate() fold — result must equal the shuffle agg
    (reference ordered pval reduce, src/mapreduce.jl:138-146)."""
    from parallelutilities_jl_spark.operators.reductions import SUM

    df = zip_df(spark, (rng(1, RANGE_N),), np=16)
    mapped = df.select("p", (F.col("z1") * 3).alias("v"))
    return ordered_fold(mapped, SUM, zero_type="bigint")


def q_pmapbatch_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving parallel map (reference pmapbatch,
    src/mapreduce.jl:316-324)."""
    return pmapbatch(
        spark,
        lambda c1, c2, c3: c1 * c1 + c2,
        list(PROD3.ranges),
        product=True,
        np=8,
    )


def q_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vcat in rank order: global positions deterministic (reference
    rank-tagged pval concat, src/mapreduce.jl:2-16; pmapbatch == pmap test
    paralleltests.jl:661-677)."""
    df = product_df(spark, PROD3, np=6)
    val = F.col("c1") * 100 + F.col("c2") * 10 + F.col("c3")
    return ordered_concat(df.select("p", "i", val.alias("v")), "p", "i", "v")


def q_productsplit_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPI-style rank program: each rank's UDF gets (ProductSplit
    descriptor, rows); uses O(1) descriptor metadata alongside the data
    (reference pmapreduce_productsplit, src/mapreduce.jl:300-307)."""

    def f(ps: ProductSplit, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "p": [ps.p],
                "partial": [int((pdf["c1"] * pdf["c2"]).sum())],
                "n_el": [len(ps)],  # O(1), not len(pdf)
                "first_c1": [ps.first_el[0]],  # O(1) decode
            }
        )

    return map_product_splits(spark, PRODB, 8, f, "p long, partial long, n_el long, first_c1 long")


def q_pmapbatch_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pmapbatch_productsplit: per-rank batch map, outputs concatenated in
    (rank, local) order (reference src/mapreduce.jl:334-342)."""

    def f(ps: ProductSplit, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i")  # group rows arrive shuffle-ordered
        return pd.DataFrame(
            {
                "p": ps.p,
                "li": range(1, len(pdf) + 1),
                "fx": (pdf["c1"] + pdf["c2"] * 2).astype("int64"),
            }
        )

    return pmapbatch_productsplit(
        spark, PRODB, 8, f, "p long, li long, fx long"
    )


def q_pmapreduce_bigsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput probe: sum over a 10^8-element (bench scale; 10^7 for
    the sf0.01 correctness sweep, keeping the driver's full-gate run
    cheap) product expression, entirely inside whole-stage codegen (the
    100 TB shape: no Python, no shuffle beyond the final partial-agg
    exchange). The oracle below matches the sweep shape; the driver
    contract pins oracle runs to sf=0.01."""
    n = 100_000_000 if _sf_of(sf_dir) >= 0.1 else 10_000_000
    return spark.range(0, n, 1, 64).selectExpr(
        "CAST(SUM((id % 1000) * (id DIV 1000)) AS BIGINT) AS result"
    )


def q_dense_elsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable wrapper for the dense elsum workload: 32 tasks ×
    Float64 ones, elementwise-summed; emits shape + corner + total.

    At bench scale (sf ≥ 0.1) the per-task array is the reference's
    published Float64 10_000×1_000 (reference docs/src/index.md:22-46,
    2.17 s on 56 cores). The sf0.01 correctness sweep uses 1000×1000
    (16× less work; the oracle constants below match that shape, and the
    driver contract pins the oracle run to sf=0.01)."""
    import numpy as np

    shape = (10_000, 1_000) if _sf_of(sf_dir) >= 0.1 else (1_000, 1_000)
    out = pmapreduce_dense_elsum(spark, 32, lambda i: np.ones(shape))
    return spark.createDataFrame(
        [
            (
                int(out.shape[0]),
                int(out.shape[1]),
                float(out[0, 0]),
                float(out.sum()),
            )
        ],
        "n_rows long, n_cols long, corner double, total double",
    )


def q_dense_elsum_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable long-form sink twin of `pmapreduce_dense_elsum`:
    32 tasks × a value-varying dense array (element j of task i is
    (i·j) mod 13 — exact small integers, so float64 sums are exact in
    both engines), elementwise-summed and emitted as distributed
    (idx, value) rows with NO driver collect. At bench scale (sf ≥
    0.1) the per-task array is the reference's published 10_000×1_000
    shape; the sf0.01 correctness sweep uses 100×100 (the driver
    contract pins oracle runs to sf=0.01, and the oracle below matches
    that shape)."""
    import numpy as np

    shape = (10_000, 1_000) if _sf_of(sf_dir) >= 0.1 else (100, 100)
    npix = shape[0] * shape[1]

    # (i·j) mod 13 == ((i mod 13)·(j mod 13)) mod 13, and every value
    # and every 32-task partial sum is <= 12·32 = 384 — so the whole
    # pipeline (generate, in-place accumulate, chunk shuffle, Python->
    # JVM handoff) runs in int16, 4x narrower than float64; the
    # expansion casts to the same float64 output column.
    def gen(i):
        base = (np.arange(npix, dtype=np.int64) % 13).astype(np.int16)
        return ((base * np.int16(i % 13)) % np.int16(13)).reshape(shape)

    return pmapreduce_dense_elsum_long(spark, 32, gen)


def ordered_array_fold(
    df: DataFrame, p: str, local_order: str, arr: str
) -> DataFrame:
    """Rank-ordered fold for ARRAY-valued accumulators — the reference's
    `pmapreduce(f, vcat/hcat, ...)` where each worker's value is itself an
    array (reference src/mapreduce.jl:266-287; array-op tests
    test/paralleltests.jl:488-545). Within-rank arrays concatenate in
    local order (one partial agg per rank), then the np rank partials
    concatenate in rank order — the same np-sized funnel as the scalar
    ordered fold, never a data-sized global sort."""
    partials = df.groupBy(p).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct(local_order, arr))),
                lambda s: s[arr],
            )
        ).alias("arr")
    )
    return partials.agg(
        F.expr(
            f"flatten(transform(array_sort(collect_list(struct({p}, arr))), "
            "s -> s.arr))"
        ).alias("stacked")
    )


def q_ordered_stack_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vcat of array-valued mapped results in deterministic (rank, local)
    order: x → [2x, 2x+1], all arrays concatenated — emitted as (pos, val)
    rows so the oracle can check the exact global order."""
    df = zip_df(spark, (rng(1, 500),), np=8)
    mapped = df.select(
        "p",
        "i",
        F.array(F.col("z1") * 2, F.col("z1") * 2 + 1).alias("arr"),
    )
    folded = ordered_array_fold(mapped, "p", "i", "arr")
    return folded.select(
        F.posexplode("stacked").alias("pos0", "val")
    ).select((F.col("pos0") + 1).cast("long").alias("pos"), "val")


HCAT_ROWS = 3  # per-rank matrix blocks are HCAT_ROWS × k columns


def q_ordered_hcat_matrices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hcat of matrix-valued mapped results in (rank, local) order — the
    reference's `pmapreduce(x -> ones(m, k)*x, hcat, 1:n)` shape
    (reference src/mapreduce.jl:266-287; hcat tests
    test/paralleltests.jl:488-545). Each x maps to a 3×2 block whose
    columns are [x, 2x, 3x] and [x+1, 2(x+1), 3(x+1)]; blocks stack
    column-wise, so global column index = 2·(x-1) + local column. The
    fold reuses `ordered_array_fold` with array<array<long>> elements
    (a matrix as its column list): within-rank column lists concatenate
    in local order, then the np rank partials concatenate in rank order —
    the same np-sized funnel, never a global sort. Emitted long-format
    (row, col, val) so the oracle checks exact placement."""
    df = zip_df(spark, (rng(1, 200),), np=8)
    rows_of = lambda c: F.array(  # noqa: E731
        *[c * (r + 1) for r in range(HCAT_ROWS)]
    )
    mapped = df.select(
        "p",
        "i",
        F.array(
            rows_of(F.col("z1")), rows_of(F.col("z1") + 1)
        ).alias("arr"),
    )
    folded = ordered_array_fold(mapped, "p", "i", "arr")
    return (
        folded.select(F.posexplode("stacked").alias("c0", "colv"))
        .select(
            (F.col("c0") + 1).cast("long").alias("col"),
            F.posexplode("colv").alias("r0", "val"),
        )
        .select((F.col("r0") + 1).cast("long").alias("row"), "col", "val")
    )


def q_dict_merge_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered (non-commutative) dict merge: x → {x mod 7: 11x}, dicts
    merged in (rank, local) order with RIGHT-WINS semantics — Julia's
    `merge(d1, d2)` keeps d2's value on key collisions, so the globally
    LAST writer in rank order wins. Rendered as max_by(value, order) per
    key: one shuffle agg, no actual sequential fold needed (reference
    dict-accumulator tests, test/paralleltests.jl:502-514)."""
    df = zip_df(spark, (rng(1, 300),), np=8)
    kv = df.select(
        (F.col("z1") % 7).alias("key"),
        (F.col("z1") * 11).alias("v"),
        "i",
    )
    return kv.groupBy("key").agg(
        F.expr("max_by(v, i)").alias("merged"),
        F.count(F.lit(1)).alias("n_src"),
    )


def q_dict_merge_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict-merge reduction: map x -> {x % 10: x}, merge with + (reference
    test paralleltests.jl:502-514) — a shuffle agg on the dict key."""
    df = zip_df(spark, (rng(1, 200),), np=8)
    return (
        df.select((F.col("z1") % 10).alias("key"), F.col("z1").alias("v"))
        .groupBy("key")
        .agg(F.sum("v").alias("merged"))
    )


def _mapreduce_oracles() -> dict[str, str]:
    from parallelutilities_jl_spark.plans.oracle import product_cte

    prod3 = product_cte(PROD3)
    prodb_assigned = (
        f"SELECT CAST(ntile(8) OVER (ORDER BY i) AS BIGINT) AS p, i, c1, c2 "
        f"FROM ({product_cte(PRODB)})"
    )
    return {
        "pmapreduce_sum_squares": (
            f"SELECT CAST(SUM((i + 1) * (i + 1)) AS BIGINT) AS result "
            f"FROM range(0, {RANGE_N}) t(i)"
        ),
        "reduce_with_init": (
            f"SELECT CAST(42 + SUM(c1 + c2) AS BIGINT) AS result FROM ({prod3})"
        ),
        "ordered_reduce_sum": (
            f"SELECT CAST(SUM((i + 1) * 3) AS BIGINT) AS result "
            f"FROM range(0, {RANGE_N}) t(i)"
        ),
        "pmapbatch_map": f"SELECT i, c1 * c1 + c2 AS fx FROM ({prod3})",
        "ordered_concat": (
            f"SELECT CAST(ROW_NUMBER() OVER (ORDER BY i) AS BIGINT) AS pos, "
            f"c1 * 100 + c2 * 10 + c3 AS val FROM ({prod3})"
        ),
        "productsplit_partition_agg": (
            "SELECT p, CAST(SUM(c1 * c2) AS BIGINT) AS partial, "
            "CAST(COUNT(*) AS BIGINT) AS n_el, arg_min(c1, i) AS first_c1 "
            f"FROM ({prodb_assigned}) GROUP BY p"
        ),
        "dict_merge_reduce": (
            "SELECT CAST((i + 1) % 10 AS BIGINT) AS key, "
            "CAST(SUM(i + 1) AS BIGINT) AS merged "
            "FROM range(0, 200) t(i) GROUP BY 1"
        ),
        "ordered_stack_arrays": (
            "SELECT CAST((x - 1) * 2 + o + 1 AS BIGINT) AS pos, "
            "CAST(2 * x + o AS BIGINT) AS val "
            "FROM range(1, 501) t(x), (VALUES (0), (1)) v(o)"
        ),
        "ordered_hcat_matrices": (
            f"SELECT CAST(r AS BIGINT) AS row, "
            f"CAST(2 * (x - 1) + j AS BIGINT) AS col, "
            f"CAST(r * (x + j - 1) AS BIGINT) AS val "
            f"FROM range(1, 201) t(x), range(1, 3) jj(j), "
            f"range(1, {HCAT_ROWS + 1}) rr(r)"
        ),
        "dict_merge_ordered": (
            "SELECT CAST((i + 1) % 7 AS BIGINT) AS key, "
            "CAST(arg_max((i + 1) * 11, i) AS BIGINT) AS merged, "
            "COUNT(*) AS n_src FROM range(0, 300) t(i) GROUP BY 1"
        ),
        "pmapbatch_partitions": (
            "SELECT p, CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY i) AS BIGINT) AS li, "
            f"c1 + c2 * 2 AS fx FROM ({prodb_assigned})"
        ),
        "pmapreduce_bigsum": (
            "SELECT CAST(SUM((i % 1000) * (i // 1000)) AS BIGINT) AS result "
            "FROM range(0, 10000000) t(i)"
        ),
        "pmapreduce_dense_elsum": (
            "SELECT CAST(1000 AS BIGINT) AS n_rows, CAST(1000 AS BIGINT) AS n_cols, "
            "CAST(32.0 AS DOUBLE) AS corner, CAST(32000000.0 AS DOUBLE) AS total"
        ),
        # long-form brute force: every (task, element) product term,
        # summed per flat index — 320k oracle rows at the sf0.01 shape
        "dense_elsum_sink": (
            "SELECT CAST(t.j AS BIGINT) AS idx, "
            "CAST(SUM((s.i * t.j) % 13) AS DOUBLE) AS value "
            "FROM range(0, 10000) t(j), range(0, 32) s(i) GROUP BY t.j"
        ),
    }


QUERIES = {
    "pmapreduce_sum_squares": q_pmapreduce_sum_squares,
    "reduce_with_init": q_reduce_with_init,
    "ordered_reduce_sum": q_ordered_reduce_sum,
    "pmapbatch_map": q_pmapbatch_map,
    "ordered_concat": q_ordered_concat,
    "productsplit_partition_agg": q_productsplit_partition_agg,
    "pmapbatch_partitions": q_pmapbatch_partitions,
    "pmapreduce_bigsum": q_pmapreduce_bigsum,
    "pmapreduce_dense_elsum": q_dense_elsum,
    "dense_elsum_sink": q_dense_elsum_sink,
    "dict_merge_reduce": q_dict_merge_reduce,
    "ordered_stack_arrays": q_ordered_stack_arrays,
    "ordered_hcat_matrices": q_ordered_hcat_matrices,
    "dict_merge_ordered": q_dict_merge_ordered,
}

ORACLES = _mapreduce_oracles()
