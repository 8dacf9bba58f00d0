"""Linear-scaling guard for the dedup scale paths.

The LSH-bucketed dedup pipelines (minhash banding, hyperplane-sign cosine
buckets) must stay ~linear in corpus size: documents grow 10x between
sf0.01 and sf0.1 (500 -> 5000) and embeddings 4x (500 -> 2000), so a
quadratic regression (all-pairs join sneaking back in, uncapped hot
shingle bucket) shows up as ~100x / ~16x wall-time instead of ~10x / ~4x.
The bounds below are deliberately loose (fixed per-job Spark overhead
dominates at these sizes and pulls ratios DOWN, never up), so only a
gross super-linear blowup trips them.
"""

from __future__ import annotations

import time

import pytest

from parallelutilities_jl_spark.operators.dedup import (
    q_minhash_near_dup,
    q_ngram_jaccard_pairs,
    q_simhash_near_dup,
)
from parallelutilities_jl_spark.operators.similarity import (
    q_embedding_cosine_dups,
)

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"


def _timed(fn, spark, sf_dir) -> float:
    t0 = time.monotonic()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


@pytest.mark.slow
@pytest.mark.parametrize(
    "fn,data_ratio,max_ratio",
    [
        # documents 10x -> quadratic would be ~100x; allow up to 35x
        (q_minhash_near_dup, 10, 35.0),
        # embeddings 4x -> quadratic would be ~16x; allow up to 12x
        (q_embedding_cosine_dups, 4, 12.0),
        # round-7 count-based exact tier and capped simhash band join:
        # both output-heavy at sf0.1, so the loose 35x bound only trips
        # a genuine quadratic (measured ~3-5x)
        (q_ngram_jaccard_pairs, 10, 35.0),
        (q_simhash_near_dup, 10, 35.0),
    ],
    ids=["minhash_near_dup", "embedding_cosine_dups",
         "ngram_jaccard_pairs", "simhash_near_dup"],
)
def test_dedup_scales_linearly(spark, fn, data_ratio, max_ratio):
    _timed(fn, spark, SF_SMALL)  # warm: plan compilation, executor spin-up
    t_small = _timed(fn, spark, SF_SMALL)
    t_big = _timed(fn, spark, SF_BIG)
    # guard against division noise on sub-100ms smalls
    ratio = t_big / max(t_small, 0.1)
    assert ratio <= max_ratio, (
        f"{fn.__name__}: {t_small:.2f}s @ sf0.01 -> {t_big:.2f}s @ sf0.1 "
        f"(ratio {ratio:.1f}x for {data_ratio}x data; bound {max_ratio}x). "
        "Super-linear blowup — check for an uncapped bucket or all-pairs join."
    )


@pytest.mark.slow
@pytest.mark.parametrize(
    "qname",
    [
        "multimodal_jpeg_prog_decode",
        "multimodal_g711_decode",
        "multimodal_mp4_probe",
    ],
)
def test_new_decode_heads_scale_linearly(spark, qname):
    """Round-16 codec heads: one per-doc mapInPandas pass (encode and
    decode fused) must stay ~linear in documents (10x rows sf0.01 ->
    sf0.1; the loose 35x bound only trips a driver-side collect or
    quadratic creep)."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    _timed(fn, spark, SF_SMALL)  # warm
    t_small = _timed(fn, spark, SF_SMALL)
    t_big = _timed(fn, spark, SF_BIG)
    ratio = t_big / max(t_small, 0.1)
    assert ratio <= 35.0, (
        f"{qname}: {t_small:.2f}s @ sf0.01 -> {t_big:.2f}s @ sf0.1 "
        f"(ratio {ratio:.1f}x for 10x docs)"
    )
