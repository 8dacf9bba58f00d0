"""`tune_runtime` on a session that refuses a runtime conf: the other
confs are still applied, the refusal is reported as a RuntimeWarning
naming the key, value and error, and the session is marked tuned. The
one-pool worker environment lands in the context's task environment
either way."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from parallelutilities_jl_spark.session import _RUNTIME_CONF, tune_runtime

REFUSED = "spark.sql.adaptive.skewJoin.enabled"


class _Conf:
    def __init__(self):
        self.values: dict[str, str] = {}

    def set(self, k, v):
        if k == REFUSED:
            raise RuntimeError("cannot modify a static config")
        self.values[k] = v


def test_refused_conf_warns_and_the_rest_are_set():
    spark = SimpleNamespace(
        conf=_Conf(),
        sparkContext=SimpleNamespace(
            defaultParallelism=4, environment={"PYTHONHASHSEED": "0"}
        ),
    )
    with pytest.warns(RuntimeWarning) as rec:
        assert tune_runtime(spark) is spark
    assert len(rec) == 1
    msg = str(rec[0].message)
    assert REFUSED in msg and "'true'" in msg and "static config" in msg
    want = {k: v for k, v in _RUNTIME_CONF.items() if k != REFUSED}
    want["spark.sql.shuffle.partitions"] = "4"
    assert spark.conf.values == want
    assert spark.sparkContext.environment == {
        "PYTHONHASHSEED": "0",
        "SPARK_SIMPLIFIED_TRACEBACK": "1",
    }
    assert (
        spark.conf.values[
            "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled"
        ]
        == "true"
    )
    assert spark._pu_tuned
