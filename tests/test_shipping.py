"""Worker-side package shipping: Arrow-UDF queries must work when the
harness cwd is NOT the repo (executor Python workers then have no
automatic way to import the package; `ensure_package_on_executors`
ships it via addPyFile). Reproduces the round-1 judge failure shape:
driver adds the repo to sys.path explicitly, executors don't inherit
that."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import os, sys
os.chdir("/tmp")  # the failure mode: harness cwd != repo
sys.path.insert(0, "/root/repo")  # driver-side import works…
os.environ.pop("PYTHONPATH", None)  # …but executors must NOT inherit it
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as m
qs = m.queries()
for name in ("productsplit_partition_agg", "multimodal_decode",
             "multimodal_features", "pmapbatch_partitions",
             "pmapreduce_dense_elsum", "dense_elsum_sink"):
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    assert n > 0, name
    print("OK", name, n)
spark.stop()
"""


def test_udf_queries_survive_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        env={
            k: v
            for k, v in __import__("os").environ.items()
            if k != "PYTHONPATH"
        },
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.count("OK") == 6, proc.stdout
