"""Parquet fixture loaders (the engine's scans).

The reference has no file formats or connectors — its "scans" are lazy
task-set constructors (reference src/mapreduce.jl:18-38). Hosting the
engine on Spark makes parquet the native scan: columnar, predicate
pushdown, column pruning, partition pruning all come from Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def sf_of(sf_dir: str) -> float:
    """Scale factor parsed from a fixture dir name ('.../sf0.1' → 0.1);
    0.0 when the path has no sf marker. Used by synthetic-input queries
    to size their workload to the scale being run (small for the sf0.01
    correctness sweep, the published reference shape at bench scale)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    if not m:
        return 0.0
    try:
        return float(m.group(1).rstrip("."))
    except ValueError:
        return 0.0


# the held-out "benchmark" slice of the documents fixture — the eval
# side of every contamination screen (lives here, with the fixture
# loaders, so text.py and pipeline.py can both use it without a
# circular import)
EVAL_SOURCE = "src0"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which the Spark vectorized
        # reader rejects; read nanos as long and convert to a microsecond
        # timestamp (exact integer div on the JVM side — values exceed 2^53
        # so double arithmetic would be lossy).
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(path)


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """`load_table` + repartition to the session's core count.

    For CPU-heavy downstream work (regex/shingling/hashing) over a
    fixture that arrives as one parquet file — one input split would
    serialize the whole pipeline on a single core. On a real cluster the
    scan has thousands of splits and the repartition collapses into a
    no-op-sized shuffle of the raw rows."""
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register temp views (for spark.sql)."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
