"""One Python worker pool per session: RDD tasks and Arrow UDF tasks
run under the same task environment, so one pyspark daemon forks (and
reuses) every Python worker. PySpark keys its daemon on that
environment; the SQL/Arrow runners add SPARK_SIMPLIFIED_TRACEBACK=1 to
it, and a session whose RDD functions lack the entry holds a second
daemon and a second set of workers (`session._WORKER_ENV`)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _daemon_pids(spark, n: int) -> dict[str, set[int]]:
    """Parent pid of the Python worker that ran each of `n` tasks, per
    Python path: a forked worker's parent is its daemon."""
    import pandas as pd
    from pyspark.sql import functions as F

    def rdd_part(_it):
        yield os.getppid()

    def map_batches(it):
        for _ in it:
            yield pd.DataFrame({"ppid": [os.getppid()]})

    def per_group(_pdf):
        return pd.DataFrame({"ppid": [os.getppid()]})

    frame = spark.range(0, n, 1, n)
    return {
        "rdd": set(
            spark.sparkContext.parallelize(range(n), n)
            .mapPartitions(rdd_part)
            .collect()
        ),
        "mapInPandas": {
            r.ppid for r in frame.mapInPandas(map_batches, "ppid long").collect()
        },
        "applyInPandas": {
            r.ppid
            for r in frame.groupBy((F.col("id") % n).alias("g"))
            .applyInPandas(per_group, "ppid long")
            .collect()
        },
    }


def test_rdd_and_arrow_tasks_share_one_daemon(spark):
    pids = _daemon_pids(spark, 4)
    assert len(pids["rdd"]) == 1, pids
    assert pids["rdd"] == pids["mapInPandas"] == pids["applyInPandas"], pids


SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
sys.path.insert(0, sys.argv[1] + "/tests")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
from parallelutilities_jl_spark.session import tune_runtime
from test_worker_pool import _daemon_pids
pids = _daemon_pids(tune_runtime(spark), 2)
spark.stop()
assert len(pids["rdd"]) == 1, pids
assert pids["rdd"] == pids["mapInPandas"] == pids["applyInPandas"], pids
print("OK")
"""


def test_tuned_foreign_session_shares_one_daemon():
    # a session built without `get_spark` (Spark's defaults, no
    # executorEnv) gets the same one pool from `tune_runtime`
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, ROOT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("OK"), proc.stdout
