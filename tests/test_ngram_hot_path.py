"""The round-7 ngram_jaccard_pairs rewrite computes |A∩B| as
cold-join-count + |hot_a ∩ hot_b| instead of joining full shingle
arrays onto every pair. The hot term is unreachable on the fixtures
(max shingle df = 7 vs cap 1000), so exercise it directly: lower the
df cap so a genuinely shared shingle goes hot, and check the emitted
Jaccard is still EXACT over the FULL sets (the cap must only bound who
gets compared, never the similarity value) against a pure-Python
reference of the same rule."""

from __future__ import annotations

from itertools import combinations

import pytest

from tests.test_messy_corpus import DOC_SCHEMA

# 6 docs over a tiny vocab: "common" appears in all shingles' docs and
# goes hot at cap 3; pair overlap must still count it.
DOCS = [
    (0, "common alpha beta gamma delta", "en", "s", 0),
    (1, "common alpha beta gamma epsilon", "en", "s", 0),
    (2, "common alpha beta zeta eta", "en", "s", 0),
    (3, "common theta iota kappa lam", "en", "s", 0),
    (4, "different words entirely here now", "en", "s", 0),
    (5, "common alpha beta gamma delta", "en", "s", 0),  # dup of 0
]


def _shingles(text: str, k: int = 3) -> set[str]:
    ws = text.split()
    return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}


@pytest.fixture(scope="module")
def tiny_docs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ngram_hot")
    spark.createDataFrame(DOCS, DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    return str(d)


def test_hot_shingle_correction_is_exact(spark, tiny_docs, monkeypatch):
    from parallelutilities_jl_spark.operators import dedup as D

    cap = 3
    monkeypatch.setattr(D, "NGRAM_MAX_DF", cap)

    # pure-Python reference of the SAME rule: candidates share >=1 COLD
    # shingle (df <= cap); jaccard is exact over the FULL sets
    sets = {i: _shingles(t) for i, t, *_ in DOCS}
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    hot = {sh for sh, c in df.items() if c > cap}
    assert hot, "fixture must actually produce a hot shingle"
    # the hot shingle must be SHARED by candidate pairs, or the test
    # would not exercise the correction term
    want = {}
    for a, b in combinations(sorted(sets), 2):
        if not ((sets[a] & sets[b]) - hot):
            continue  # no cold shingle shared -> not a candidate
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= D.JACCARD_THRESHOLD:
            want[(a, b)] = round(j, 6)
    assert any(
        sets[a] & sets[b] & hot for (a, b) in want
    ), "no candidate pair shares the hot shingle — correction untested"

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.q_ngram_jaccard_pairs(spark, tiny_docs).collect()
    }
    assert got == want and got


def test_threshold_census_hot_path_matches_pairs(
    spark, tiny_docs, monkeypatch
):
    """`dedup_threshold_sensitivity` shares the exact-Jaccard generator
    with `ngram_jaccard_pairs`; on the same lowered-cap corpus its
    τ = 0.3 row must count exactly the pairs the pair query emits, so
    the census's hot-shingle remainder is exercised too."""
    from parallelutilities_jl_spark.operators import dedup as D

    monkeypatch.setattr(D, "NGRAM_MAX_DF", 3)
    n_pairs = D.q_ngram_jaccard_pairs(spark, tiny_docs).count()
    census = {
        r["tau_e1"]: r["n_pairs"]
        for r in D.q_dedup_threshold_sensitivity(spark, tiny_docs).collect()
    }
    assert n_pairs > 0
    assert census[3] == n_pairs
