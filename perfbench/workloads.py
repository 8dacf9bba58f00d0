"""The benchmark's workloads and what each metric is expected to move.

A workload is a fixed set of heads run in a closed loop by one client,
one head at a time; the workload seed only shuffles their order in each
pass. `pass_s` is a pass's nominal wall on 4 cores,
from which `--seconds` sets the number of timed passes, so that a run
does the same work however fast the box is at the moment. Every head is a
registered query (`__spark_entry__.queries()`), built by calling it and
forced with a `noop` write, except `ref_elsum`:
a direct call of `operators.mapreduce.pmapreduce_dense_elsum` on the
reference's own workload, 32 Float64 `ones(10_000, 1_000)` arrays.
"""

from __future__ import annotations

REF_ELSUM = "ref_elsum"
# ParallelUtilities.jl's published time for the same workload (56 cores)
REF_ELSUM_PUBLISHED_S = 2.17

WORKLOADS: dict[str, dict] = {
    "tpch_star": {
        "heads": [
            "q18_large_orders",
            "window_topk_per_group",
            "runtime_filtered_join",
            "product_scan",
            "elementwise_sum_arrays",
            "embedding_cosine_exact",
            "token_stats",
            "hash_split_documents",
            "bm25_topk",
        ],
        "pass_s": 6.6,
        "why": "JVM-only scan, join, aggregate and window with no Python "
        "workers and little eager build: shuffle, codegen and AQE changes "
        "show here; Arrow and materialization changes must not.",
    },
    "llm_pmap": {
        "heads": [
            "dedup_components",
            REF_ELSUM,
            "multimodal_wav_decode",
            "stateful_running_sum",
            "kmeans_assign",
        ],
        "pass_s": 9.0,
        "why": "Work outside the JVM's codegen path: build-time eager work "
        "(connected-components loop, k-means fit, localCheckpoints) and "
        "Python workers across Arrow, with the reference's Float64 "
        "pmapreduce elsum.",
    },
}

# Module (layer) that defines each head; per-layer metrics are summed by
# it. `plans` is `plans.queries`; every other module is under `operators`
# except `stateful` (`streaming.stateful`).
MODULE_OF = {
    "q18_large_orders": "relational",
    "window_topk_per_group": "relational",
    "runtime_filtered_join": "joins",
    "product_scan": "plans",
    "elementwise_sum_arrays": "reductions",
    "embedding_cosine_exact": "similarity",
    "token_stats": "text",
    "hash_split_documents": "pipeline",
    "bm25_topk": "retrieval",
    "dedup_components": "dedup",
    REF_ELSUM: "mapreduce",
    "multimodal_wav_decode": "multimodal",
    "stateful_running_sum": "stateful",
    "kmeans_assign": "clustering",
}
MODULES = sorted(set(MODULE_OF.values()))

# End-to-end metrics: name → (unit, what it measures).
END_TO_END = {
    "setup_s": ("s", "one cold start: process start through get_spark "
                "and a first trivial job"),
    "wall_s": ("s", "sum over heads of each head's median wall over the "
               "quieter half of its timed executions (plan build plus "
               "forced execution)"),
    "cpu_s": ("s", "sum over heads of each head's median process-tree CPU "
              "(JVM, Python driver, Python workers) inside its wall, over "
              "the same executions"),
    "peak_rss_mb": ("MB", "summed peak RSS (VmHWM) of the process tree's "
                    "processes at the end of the timed passes"),
    "ref_elsum_s": ("s", "median wall of the reference workload, 32 x "
                    "Float64 ones(10_000, 1_000) elementwise-summed, over "
                    "the quieter half of its timed executions"),
}

# Per-layer metric → (unit, the end-to-end metric and workload it should
# move). `<module>.*` metrics exist for every module in MODULES.
PER_LAYER = {
    "<module>.build_s": ("s", "wall_s on llm_pmap; nothing on tpch_star"),
    "<module>.exec_s": ("s", "wall_s on the workload holding the module's heads"),
    "<module>.task_cpu_s": ("s", "wall_s and cpu_s on that workload"),
    "session.get_spark_s": ("s", "setup_s"),
    # time inside sources.fixtures' loaders while heads are built (the
    # scans themselves run in exec and show in spark.input_*)
    "sources.load_s": ("s", "wall_s on both"),
    "sources.loads": ("count", "wall_s on both"),
    "session.release_s": ("s", "wall_s, peak_rss_mb on llm_pmap"),
    "session.released_rdds": ("count", "wall_s, peak_rss_mb on llm_pmap"),
    "spark.jobs_build": ("count", "wall_s on llm_pmap (eager build actions)"),
    "spark.jobs_exec": ("count", "wall_s on llm_pmap"),
    "spark.stages": ("count", "wall_s on llm_pmap"),
    "spark.tasks": ("count", "wall_s on llm_pmap"),
    "spark.task_failures": ("count", "wall_s on llm_pmap"),
    "spark.unattributed_jobs": ("count", "wall_s on llm_pmap"),
    "spark.window_attributed_jobs": ("count", "wall_s on llm_pmap"),
    "spark.task_run_s": ("s", "cpu_s on all workloads"),
    "spark.task_cpu_s": ("s", "cpu_s on all workloads"),
    "spark.jvm_gc_s": ("s", "cpu_s on all workloads"),
    "spark.idle_core_s": ("s", "wall_s and ref_elsum_s, not cpu_s"),
    "spark.shuffle_write_mb": ("MB", "wall_s on tpch_star and llm_pmap"),
    "spark.shuffle_read_mb": ("MB", "wall_s on tpch_star and llm_pmap"),
    "spark.fetch_wait_s": ("s", "wall_s on tpch_star and llm_pmap"),
    "spark.spill_mb": ("MB", "wall_s on tpch_star and llm_pmap"),
    "spark.input_mb": ("MB", "wall_s on tpch_star and llm_pmap"),
    # the local file system under-reports scan bytes; records are exact
    "spark.input_records": ("count", "wall_s on tpch_star and llm_pmap"),
    "spark.result_mb": ("MB", "ref_elsum_s"),
    "arrow.to_python_mb": ("MB", "wall_s, cpu_s on llm_pmap; nothing on tpch_star"),
    "arrow.from_python_mb": ("MB", "wall_s, cpu_s on llm_pmap; nothing on tpch_star"),
    "arrow.python_run_s": ("s", "wall_s, cpu_s on llm_pmap; nothing on tpch_star"),
    "arrow.python_start_s": ("s", "wall_s, cpu_s on llm_pmap; nothing on tpch_star"),
    "cpu.jvm_s": ("s", "cpu_s"),
    "cpu.py_driver_s": ("s", "cpu_s"),
    "cpu.py_workers_s": ("s", "cpu_s"),
    "host.canary_s": ("s", "nothing: a box-state control"),
    "host.steal_frac": ("ratio", "nothing: share of the box's CPU time the "
                        "hypervisor gave to other guests during the passes"),
    "trace.overhead_frac": ("ratio", "nothing: traced wall / untraced wall - 1"),
}


def unit(name: str) -> str:
    """Unit of an end-to-end or per-layer metric."""
    if name in END_TO_END:
        return END_TO_END[name][0]
    if name.split(".")[0] in MODULES:
        name = "<module>." + name.split(".", 1)[1]
    return PER_LAYER[name][0]
