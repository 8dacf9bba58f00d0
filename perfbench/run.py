#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload tpch_star --seed 1 --seconds 18 --trace 0

Run from the repository root. A run

1. builds the input tables under `.perfbench/` once per checkout;
2. starts the session with `get_spark(cpus=<usable cores>)`; `setup_s`
   is this process's cold start, through a first trivial job;
3. runs every head once, untimed, and checks its output against
   `expected.json` (or, for `ref_elsum`, its closed form);
4. runs timed passes over the heads, one head at a time in an order
   shuffled by `--seed`: as many as fill `--seconds` at the workload's
   nominal pass time (at least two; no more once twice `--seconds` have
   passed);
5. with `--trace 0`, reports the end-to-end metrics; with `--trace 1`,
   alternates untraced and traced passes on an event-logging session,
   with the table loaders of `sources.fixtures` timed and the pinned
   lineitem canary before each pass, and reports the per-layer metrics.

Timing wraps calls into the engine's public functions from outside. The
last stdout line is the result JSON; the line before it holds the run's
environment and failures. The full record, with every pass's per-head
timings, is written to `.perfbench/results/`.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import eventlog  # noqa: E402
import fixtures  # noqa: E402
import proctree  # noqa: E402
import workloads as W  # noqa: E402

DRIVER_MEM = "2g"
MIN_PASSES = 2
REF_REPS = 2  # timed reference runs on a workload without it
DATA_DIR = os.path.join(WORK, "data", "sf0.1")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(clean: bool) -> None:
    """Keep every file Spark, pyspark and the engine write inside the
    checkout, make the engine importable here and in Python workers,
    and pin the process time zone the oracle digests assume."""
    for d in ("tmp", "spark-local"):
        path = os.path.join(WORK, d)
        if clean:
            shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no JVM, spark-submit's launcher included, writes /tmp/hsperfdata_*
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "-XX:-UsePerfData" not in opts:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:-UsePerfData".strip()
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


def session_conf(events_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the JVM's temp files go under the checkout too. A heap fixed at
        # its maximum size and touched at start: G1's adaptive growth, and
        # then how much of the fixed heap a run happened to touch, made
        # the JVM's resident set vary by up to a third between identical
        # runs.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Xms{DRIVER_MEM} "
            "-XX:+AlwaysPreTouch",
    }
    if events_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(conf):
    """`get_spark` plus a first trivial job; returns (spark, get_spark_s)."""
    from parallelutilities_jl_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(cpus=cores(), extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    return spark, get_spark_s


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM (and so the pyspark daemon
    and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


# -- heads ------------------------------------------------------------------

def _ones(_i):
    import numpy as np

    return np.ones((10_000, 1_000))


class Heads:
    """Builds and forces a workload's heads on one session."""

    def __init__(self, spark, names):
        import __spark_entry__

        self.spark = spark
        self.queries = __spark_entry__.queries()
        self.names = names
        self.expected = check.load_expected()

    def build(self, name):
        if name == W.REF_ELSUM:
            return None
        return self.queries[name](self.spark, DATA_DIR)

    def force(self, name, df, collect=False):
        if name == W.REF_ELSUM:
            from parallelutilities_jl_spark.operators.mapreduce import (
                pmapreduce_dense_elsum,
            )

            return pmapreduce_dense_elsum(self.spark, 32, _ones)
        if collect:
            tbl = df.toArrow()
            return tbl.schema.names, list(zip(*(c.to_pylist() for c in tbl.columns)))
        df.write.format("noop").mode("overwrite").save()
        return None

    def verify(self, name, out) -> str | None:
        if name == W.REF_ELSUM:
            return check.check_ref_elsum(out)
        got = check.digest(*out)
        want = self.expected[name]
        if (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
            return f"{name}: {got['rows']} rows, digest {got['digest'][:12]} " \
                   f"!= expected {want['rows']} rows, {want['digest'][:12]}"
        return None

    def release(self) -> int:
        from parallelutilities_jl_spark.session import release_cached_blocks

        return release_cached_blocks(self.spark)


class SourceTimer:
    """Times calls into the table loaders of `sources.fixtures` from
    outside: each module of the engine that holds a loader gets a timing
    wrapper in its place. A loader called by another counts once."""

    LOADERS = ("load_table", "load_table_parallel", "register_all")

    def __init__(self):
        from parallelutilities_jl_spark.sources import fixtures as src

        self.seconds, self.calls, self._depth = 0.0, 0, 0
        mods = [m for name, m in list(sys.modules.items())
                if name.startswith("parallelutilities_jl_spark") and m is not None]
        for loader in self.LOADERS:
            fn = getattr(src, loader)
            wrapped = self._wrap(fn)
            for mod in mods:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapped)

    def _wrap(self, fn):
        def timed(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                self.seconds += time.perf_counter() - t
                self.calls += 1
        return timed


class Run:
    """Counters shared by every pass of one run."""

    def __init__(self, spark, heads: Heads, rng: random.Random,
                 sources: SourceTimer | None = None):
        self.spark = spark
        self.heads = heads
        self.rng = rng
        self.sources = sources
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def order(self) -> list[str]:
        names = list(self.heads.names)
        self.rng.shuffle(names)
        return names

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        log(f"FAILED {msg}")

    def checked(self, name) -> None:
        """Untimed warm-up execution of one head, with its output check."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = self.heads.force(name, self.heads.build(name), collect=True)
            err = self.heads.verify(name, out)
        except Exception as e:  # a failing head is counted, not fatal
            err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
        finally:
            self.heads.release()
        log(f"warm {name}: {time.perf_counter() - t:.2f} s")
        if err:
            self._fail(err)

    def canary(self) -> float:
        """The pinned lineitem scan-aggregate, a host-state control."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        li = self.spark.read.parquet(os.path.join(DATA_DIR, "lineitem.parquet"))
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.sum("l_extendedprice"),
            F.avg("l_discount"), F.count(F.lit(1)),
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def timed_pass(self, order, traced: bool) -> dict:
        """One timed pass. Per head: build wall, exec wall, process-tree
        CPU by kind, and (traced) the job-group windows."""
        sc = self.spark.sparkContext
        p = {"wall": 0.0, "cpu": dict.fromkeys(proctree.KINDS, 0.0),
             "heads": {}, "windows": [], "release_s": 0.0, "released": 0}
        host0 = proctree.host_ticks()
        src0 = (self.sources.seconds, self.sources.calls) if self.sources else (0.0, 0)
        for name in order:
            self.attempted += 1
            c0, h0 = proctree.tree_cpu(), proctree.host_ticks()
            e0, t0 = time.time(), time.perf_counter()
            try:
                if traced:
                    sc.setJobGroup(f"q:{name}:build", name)
                df = self.heads.build(name)
                e1, t1 = time.time(), time.perf_counter()
                if traced:
                    sc.setJobGroup(f"q:{name}:exec", name)
                out = self.heads.force(name, df)
                e2, t2 = time.time(), time.perf_counter()
                err = out is not None and self.heads.verify(name, out)
                if err:
                    self._fail(err)
                    continue
            except Exception as e:  # counted; the pass goes on
                self._fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                c1, h1 = proctree.tree_cpu(), proctree.host_ticks()
                r0 = time.perf_counter()
                p["released"] += self.heads.release()
                p["release_s"] += time.perf_counter() - r0
            cpu = {k: c1[k] - c0[k] for k in proctree.KINDS}
            p["heads"][name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "cpu": cpu,
                                "steal_frac": proctree.steal_frac(h0, h1)}
            p["wall"] += t2 - t0
            for k in proctree.KINDS:
                p["cpu"][k] += cpu[k]
            p["windows"] += [(name, "build", e0, e1), (name, "exec", e1, e2)]
        p["steal_frac"] = proctree.steal_frac(host0, proctree.host_ticks())
        if self.sources:
            p["sources_s"] = self.sources.seconds - src0[0]
            p["sources_calls"] = self.sources.calls - src0[1]
        return p


# -- the two kinds of run ------------------------------------------------------

def _quiet_median(runs, value) -> float:
    """Median of `value` over the quieter half (rounded up) of one head's
    timed executions: those during which the hypervisor stole the least
    CPU time from the box. Selecting on the measured steal, never on the
    timings, favours neither side of a comparison."""
    runs = sorted(runs, key=lambda r: r["steal_frac"])
    return statistics.median(value(r) for r in runs[:(len(runs) + 1) // 2])


def _sum_of_medians(passes, value) -> float:
    """Sum over heads of each head's quiet median over the passes."""
    heads = {h for p in passes for h in p["heads"]}
    return sum(_quiet_median([p["heads"][h] for p in passes if h in p["heads"]], value)
               for h in heads)


def pass_count(workload: str, seconds: float, per_pass: int = 1) -> int:
    """Timed passes (or pairs of `per_pass` passes) that fill `seconds`
    at the workload's nominal pass time, at least `MIN_PASSES`: a fixed
    amount of work, so that a slow moment of the box does not also
    change how much is measured."""
    n = round(seconds / (per_pass * W.WORKLOADS[workload]["pass_s"]))
    return max(MIN_PASSES, n)


def end_to_end(run: Run, n_passes: int, seconds: float,
               setup_s: float) -> tuple[dict, dict]:
    passes = []
    start = time.perf_counter()
    for i in range(n_passes):
        if i >= MIN_PASSES and time.perf_counter() - start > 2 * seconds:
            break  # the box is slow: keep the run within its time budget
        passes.append(run.timed_pass(run.order(), traced=False))
    peak_rss_mb = proctree.tree_peak_rss_mb()
    ref = [p["heads"][W.REF_ELSUM] for p in passes if W.REF_ELSUM in p["heads"]]
    if W.REF_ELSUM not in run.heads.names:
        # the reference workload is timed on every workload: here after
        # the timed passes, so that its Python workers stay out of them
        run.checked(W.REF_ELSUM)
        for _ in range(REF_REPS):
            p = run.timed_pass([W.REF_ELSUM], traced=False)
            ref += list(p["heads"].values())
    metrics = {
        "setup_s": setup_s,
        "wall_s": _sum_of_medians(passes, lambda h: h["build_s"] + h["exec_s"]),
        "cpu_s": _sum_of_medians(passes, lambda h: sum(h["cpu"].values())),
        "peak_rss_mb": peak_rss_mb,
        "ref_elsum_s": _quiet_median(ref, lambda h: h["exec_s"]),
    }
    detail = {"passes": passes, "ref_elsum_runs": ref}
    return metrics, detail


def traced_passes(run: Run, n_pairs: int):
    """Pairs of an untraced and a traced pass in the same head order. The
    pass run first alternates between pairs, so that the JIT's warming,
    which makes each pass faster than the one before, cancels out of
    `trace.overhead_frac`."""
    plain, traced_, canaries = [], [], []
    for i in range(n_pairs):
        order = run.order()
        for traced in (False, True) if i % 2 == 0 else (True, False):
            canaries.append(run.canary())
            (traced_ if traced else plain).append(run.timed_pass(order, traced=traced))
    return plain, traced_, canaries


def layer_metrics(plain, traced_, canaries, get_spark_s, events_dir) -> dict:
    """Per-layer metrics per traced pass, from the passes' own timings and
    the folded event log."""
    n = len(traced_)
    windows = [w for p in traced_ for w in p["windows"]]
    spans = [(p["windows"][0][2], p["windows"][-1][3]) for p in traced_
             if p["windows"]]
    folded = eventlog.fold(eventlog.find_log(events_dir), windows, spans)
    per = folded["heads"]

    def total(key, phase=None):
        return sum(c.get(key, 0.0) for (h, ph), c in per.items()
                   if phase in (None, ph))

    m = {}
    for mod in W.MODULES:
        heads = [h for h, mm in W.MODULE_OF.items() if mm == mod]
        m[f"{mod}.build_s"] = sum(p["heads"].get(h, {}).get("build_s", 0.0)
                                  for p in traced_ for h in heads) / n
        m[f"{mod}.exec_s"] = sum(p["heads"].get(h, {}).get("exec_s", 0.0)
                                 for p in traced_ for h in heads) / n
        m[f"{mod}.task_cpu_s"] = sum(c.get("cpu_ns", 0.0) for (h, _), c in per.items()
                                     if h in heads) / 1e9 / n
    exec_wall = sum(hd["exec_s"] for p in traced_ for hd in p["heads"].values())
    mb = 2.0 ** 20
    m.update({
        "session.get_spark_s": get_spark_s,
        "sources.load_s": sum(p["sources_s"] for p in traced_) / n,
        "sources.loads": sum(p["sources_calls"] for p in traced_) / n,
        "session.release_s": sum(p["release_s"] for p in traced_) / n,
        "session.released_rdds": sum(p["released"] for p in traced_) / n,
        "spark.jobs_build": total("jobs", "build") / n,
        "spark.jobs_exec": total("jobs", "exec") / n,
        "spark.stages": total("stages") / n,
        "spark.tasks": total("tasks") / n,
        "spark.task_failures": total("task_failures") / n,
        "spark.unattributed_jobs": folded["unattributed_jobs"] / n,
        "spark.window_attributed_jobs": folded["window_attributed_jobs"] / n,
        "spark.task_run_s": total("run_ms") / 1e3 / n,
        "spark.task_cpu_s": total("cpu_ns") / 1e9 / n,
        "spark.jvm_gc_s": total("gc_ms") / 1e3 / n,
        "spark.idle_core_s": (cores() * exec_wall - total("run_ms", "exec") / 1e3) / n,
        "spark.shuffle_write_mb": total("shuffle_write_bytes") / mb / n,
        "spark.shuffle_read_mb": total("shuffle_read_bytes") / mb / n,
        "spark.fetch_wait_s": total("fetch_wait_ms") / 1e3 / n,
        "spark.spill_mb": total("spill_bytes") / mb / n,
        "spark.input_mb": total("input_bytes") / mb / n,
        "spark.input_records": total("input_records") / n,
        "spark.result_mb": total("result_bytes") / mb / n,
        "arrow.to_python_mb": total("py_sent_bytes") / mb / n,
        "arrow.from_python_mb": total("py_returned_bytes") / mb / n,
        "arrow.python_run_s": total("py_run_ms") / 1e3 / n,
        "arrow.python_start_s": total("py_start_ms") / 1e3 / n,
        "cpu.jvm_s": sum(p["cpu"]["jvm"] for p in traced_) / n,
        "cpu.py_driver_s": sum(p["cpu"]["py_driver"] for p in traced_) / n,
        "cpu.py_workers_s": sum(p["cpu"]["py_workers"] for p in traced_) / n,
        "host.canary_s": statistics.median(canaries),
        "host.steal_frac": statistics.mean(p["steal_frac"] for p in plain + traced_),
        "trace.overhead_frac": sum(p["wall"] for p in traced_)
        / sum(p["wall"] for p in plain) - 1.0,
    })
    return m


# -- main ------------------------------------------------------------------------

def environment(args) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip()
    src = hashlib.sha256()
    engine = os.path.join(ROOT, "parallelutilities_jl_spark")
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(engine)
                   for f in files if f.endswith(".py"))
    for path in paths + [os.path.join(ROOT, "__spark_entry__.py")]:
        src.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            src.update(fh.read())
    return {
        "nproc": os.cpu_count(), "cores_used": cores(),
        "pyspark": pyspark.__version__, "driver_memory": DRIVER_MEM,
        "python": sys.version.split()[0], "git_commit": commit,
        "engine_sha256": src.hexdigest(), "workload": args.workload,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
    }


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload is None:
        ap.error("--workload is required")
    return args


def main() -> int:
    args = parse_args()
    for need in ("parallelutilities_jl_spark/session.py", "__spark_entry__.py",
                 "tests/harness_util.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"error: {need} not found under {ROOT}; run from a checkout of the engine")
            return 2

    t = time.perf_counter()
    fixtures.ensure(DATA_DIR)
    build_s = time.perf_counter() - t
    prepare_env(clean=True)
    events_dir = None
    if args.trace:
        events_dir = os.path.join(WORK, "events")
        shutil.rmtree(events_dir, ignore_errors=True)
        os.makedirs(events_dir)
    spark = None
    try:
        spark, get_spark_s = start_session(session_conf(events_dir))
        setup_s = time.perf_counter() - _T0 - build_s
        log(f"[{time.perf_counter() - _T0:6.1f} s] session up; setup {setup_s:.2f} s")
        heads = Heads(spark, W.WORKLOADS[args.workload]["heads"])
        run = Run(spark, heads, random.Random(args.seed),
                  SourceTimer() if args.trace else None)
        for name in run.order():
            run.checked(name)
        log(f"[{time.perf_counter() - _T0:6.1f} s] checked pass done")
        if args.trace:
            plain, traced_, canaries = traced_passes(
                run, pass_count(args.workload, args.seconds, per_pass=2))
            shutdown(spark)  # closes the event log
            spark = None
            metrics = layer_metrics(plain, traced_, canaries, get_spark_s, events_dir)
            detail = {"plain_passes": plain, "traced_passes": traced_,
                      "canary_s": canaries}
        else:
            metrics, detail = end_to_end(
                run, pass_count(args.workload, args.seconds), args.seconds, setup_s)
    finally:
        if spark is not None:
            shutdown(spark)

    log(f"[{time.perf_counter() - _T0:6.1f} s] measured and shut down")
    steal = [p["steal_frac"] for p in detail.get("passes", detail.get("traced_passes"))]
    record = {"env": environment(args), "errors": run.errors,
              "failed_frac": run.failed / run.attempted,
              "steal_frac": statistics.mean(steal), "detail": detail}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1, default=str)
    for k, v in metrics.items():
        log(f"{args.workload:>10} {k:<28} {v:12.4f} {W.unit(k)}")
    log(f"host steal per timed pass: {' '.join(f'{x:.3f}' for x in steal)}")
    if "ref_elsum_s" in metrics:
        log(f"ref_elsum_s {metrics['ref_elsum_s']:.3f} s on {cores()} cores; "
            f"ParallelUtilities.jl published {W.REF_ELSUM_PUBLISHED_S} s on 56 cores")
    print(json.dumps({"env": record["env"], "failed_frac": record["failed_frac"],
                      "errors": run.errors}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": W.unit(k)} for k, v in metrics.items()},
    }), flush=True)
    log(f"[{time.perf_counter() - _T0:6.1f} s] done")
    return 0


if __name__ == "__main__":
    sys.exit(main())
