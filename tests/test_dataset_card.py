"""The dataset card must be exactly its components, joined: no row
drops (every source present) and no value drift through the joins."""

from __future__ import annotations


def test_card_matches_components(spark):
    from parallelutilities_jl_spark.operators.dedup import (
        q_dedup_rate_by_source,
    )
    from parallelutilities_jl_spark.operators.pipeline import (
        q_dataset_card_report,
    )
    from parallelutilities_jl_spark.operators.text import (
        q_lang_mix_entropy,
        q_zipf_slope_by_source,
    )

    sf = "/root/testdata/sf0.001"
    card = {
        r["source"]: r for r in q_dataset_card_report(spark, sf).collect()
    }
    lang = {r["source"]: r for r in q_lang_mix_entropy(spark, sf).collect()}
    assert set(card) == set(lang)  # inner joins dropped nothing
    for s, r in card.items():
        assert (r["n_docs"], r["n_langs"], r["entropy_q"]) == (
            lang[s]["n_docs"], lang[s]["n_langs"], lang[s]["entropy_q"]
        )
    dup = {
        r["source"]: r["dup_rate_e6"]
        for r in q_dedup_rate_by_source(spark, sf).collect()
    }
    zipf = {
        r["source"]: r["slope_e6"]
        for r in q_zipf_slope_by_source(spark, sf).collect()
    }
    for s, r in card.items():
        assert r["dup_rate_e6"] == dup[s]
        assert r["zipf_slope_e6"] == zipf[s]


def test_card_side_thread_job_carries_the_callers_group(spark, sf_dir):
    # the four lazy components are checkpointed on a side thread while
    # the dup components build; that job must run under the caller's
    # job group like the main-thread jobs, so a per-head trace can
    # attribute it by group instead of by time window
    from parallelutilities_jl_spark.operators.pipeline import (
        q_dataset_card_report,
    )

    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    group = "card-side-thread"
    sc.setJobGroup(group, "dataset card")
    try:
        q_dataset_card_report(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert st.getJobIdsForGroup(group)
    # at build time the card runs jobs on two threads; none of them ran
    # outside the caller's group
    assert set(st.getJobIdsForGroup(None)) - ungrouped == set()
