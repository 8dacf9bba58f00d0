"""Round-13 property pins, mirroring tests/test_round12_properties.py:
the queries this round added or rewired must be partition-count
invariant — any dependence on physical partitioning (combine order,
per-partition windows, the in-join τ-pruning, the shared resident
shingle frame) would diverge between shuffle.partitions=1 and the
session default. `release_cached_blocks` before each arm makes the
second arm rebuild every resident frame at its own partition count."""

from __future__ import annotations


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_round13_queries_partition_count_invariant(spark, sf_dir):
    import __spark_entry__ as entrymod

    from parallelutilities_jl_spark.session import release_cached_blocks

    qs = entrymod.queries()
    names = (
        # τ bound evaluated inside the band self-join (round-13 rewire)
        "embedding_cosine_dups",
        # new: containment-ordered keep-first planner (global rank
        # window + shared resident shingle frame)
        "dedup_order_plan",
        # full-precision winner reduction (sink's batch-parity query)
        "stream_upsert_state",
        # new: hamming histogram + SinglePartition cumulative window
        "simhash_hamming_census",
    )
    release_cached_blocks(spark)
    base = {n: _rows(qs[n](spark, sf_dir)) for n in names}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    release_cached_blocks(spark)
    try:
        for name, want in base.items():
            got = _rows(qs[name](spark, sf_dir))
            assert got == want and len(got) > 0, name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        release_cached_blocks(spark)
