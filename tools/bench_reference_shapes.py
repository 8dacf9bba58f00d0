#!/usr/bin/env python
"""Replicate the reference's published benchmark workloads at their exact
shapes (BASELINE.md rows sourced from /root/reference/docs/src/index.md)
and print one JSON line comparing wall time against the published number.

    python tools/bench_reference_shapes.py           # the 2-node shapes
    PU_BENCH_BIG=1 python tools/bench_reference_shapes.py   # + 28-core rows

The dense-elsum row also carries `py_worker_vmhwm_mb`: the largest
peak resident set among the session's Python workers after its warm
run, read from /proc.

Timings are warm (second run), matching the reference's
after-precompilation methodology (docs/src/index.md:102). The published
numbers come from 56 cores across 2 Broadwell nodes; this runs on
`get_spark()`'s local session (the usable cores, or SPARK_GRAFT_CPUS) —
same per-task array shapes, fewer cores, no network.

O(1) metadata rows (the ~100 ns `in`/`extrema` lookups): the Python
descriptor analogs are measured here too; the distributed analogs are
codegen'd column expressions whose per-row cost is asserted shuffle-free
in tests/test_cluster_and_plans.py rather than timed per-call.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.proctree import _tree  # noqa: E402


def worker_peak_mb() -> float:
    """Largest peak resident set (`VmHWM`) among the Python processes
    under this one, the pyspark daemon and the workers it forked, over
    perfbench's process-tree walk."""
    me, peak = os.getpid(), 0
    for pid, st in _tree(me).items():
        if pid == me or not st[0].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:  # the process ended between listing and reading
            pass
    return round(peak / 1024, 1)


def timed(fn, reps: int = 1):
    fn()  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        out = fn()
    return (time.perf_counter() - t0) / reps, out


def main() -> None:
    import numpy as np

    from parallelutilities_jl_spark.operators.mapreduce import (
        pmapreduce_dense_elsum,
    )
    from parallelutilities_jl_spark.plans.productsplit import ProductSpec
    from parallelutilities_jl_spark.session import get_spark
    from parallelutilities_jl_spark.sources.ranges import rng

    spark = get_spark(app_name="pu_refshapes")
    rows = {}

    # docs/src/index.md:22-46 — f = ones(10_000, 1_000) per worker,
    # summed elementwise. ref: 2.17 s (+) / 1.79 s (elsum) on 56 cores.
    def dense():
        return pmapreduce_dense_elsum(
            spark, 32, lambda i: np.ones((10_000, 1_000))
        )

    dt, out = timed(dense)
    assert out[0, 0] == 32.0 and out.shape == (10_000, 1_000)
    rows["elsum_10kx1k_32tasks"] = {
        "sec": round(dt, 3),
        "ref_sec": 2.17,
        "ref_config": "56 cores / 2 nodes",
        # the host task's worker holds k + 1 arrays (see _host_fold)
        "py_worker_vmhwm_mb": worker_peak_mb(),
    }

    if os.environ.get("PU_BENCH_BIG"):
        # docs/src/index.md:72-99 — ones(10_000, 10_000) per worker on
        # one 28-core node. ref: 10.11 s (+) / 7.26 s (elsum). The host
        # task holds one 800 MB array per thread plus the accumulator,
        # so this needs about 0.8 GB per usable core.
        def dense_big():
            return pmapreduce_dense_elsum(
                spark, 28, lambda i: np.ones((10_000, 10_000))
            )

        dt, out = timed(dense_big)
        assert out[0, 0] == 28.0
        rows["elsum_10kx10k_28tasks"] = {
            "sec": round(dt, 3),
            "ref_sec": 7.26,
            "ref_config": "28 cores / 1 node",
        }

    # docs/src/pmapreduce.md:133-158 — O(1) split-metadata queries on a
    # split of the 1e5 × 1e5 × 1e5 product (np=25000, p=1500).
    spec = ProductSpec((rng(1, 10**5), rng(1, 10**5), rng(1, 10**5)))
    ps = spec.split(25_000, 1_500)
    n_it = 20_000

    def meta():
        acc = 0
        for _ in range(n_it):
            acc += (3, 3, 5998) in ps
            acc += ps.maximumelement(0)   # reference dims=1 (1-based)
            acc += ps.minimumelement(1)   # dims=2
            acc += ps.nelements(2)        # dims=3
        return acc

    dt, _ = timed(meta)
    rows["metadata_ops_ns"] = {
        "ns_per_op": round(dt / (4 * n_it) * 1e9, 1),
        "ref_ns": 95.0,
        "ref_config": "1 core (descriptor only; per-row distributed form "
        "is codegen'd, see tests/test_cluster_and_plans.py)",
    }

    print(json.dumps({"metric": "reference_shapes", "rows": rows}))


if __name__ == "__main__":
    main()
