"""Deduplication operators over the `documents` fixture — the
training-data-pipeline surface (BASELINE.json north star; SURVEY §7
phase 5).

Four dedup families, all oracle-checked:

* **exact** — sha256 over normalized text, group + flag.
* **MinHash + LSH** — shingle → one md5 → 16 XOR-permuted 60-bit
  min-hashes → 4×4 banding → bucket self-join for candidates →
  exact-Jaccard verification. The permutations are `h ^ SALT_i` over the
  md5 prefix (functions/texthash.py), so Spark and DuckDB compute
  identical signatures with one hash invocation per shingle.
* **SimHash** — 32-bit sign-aggregated fingerprint from 48-bit md5 term
  hashes; hamming-adjacent fingerprints ≈ near-dups.
* **n-gram Jaccard** — exact pairwise Jaccard over word 3-grams,
  restricted to pairs sharing ≥1 shingle (the same candidate space LSH
  approximates).

Scale design (100 TB corpora):
* every stage is explode → shuffle-on-key → agg: no driver state, no
  cross join; candidate generation is the banded self-join (linear in
  bucket sizes, the standard MinHashLSH layout);
* signatures are 16 fixed columns (one map-side pass, no UDF);
* the exact-Jaccard verify joins only LSH candidates, not all pairs.

Reference parity note: the reference has no dedup operators (it is a
map-reduce library); these are the north-star extensions built on the
same engine primitives (explode/groupBy/join).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.functions import texthash as TH
from parallelutilities_jl_spark.session import materialize
from parallelutilities_jl_spark.sources.fixtures import (
    load_table,
    load_table_parallel,
)

N_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.3
SHINGLE_K = 3

# Quadratic-blowup guards (standard MinHashLSH practice). A single
# stopword-like shingle shared by D documents produces a C(D,2) bucket in
# any shingle- or band-keyed self-join; capping the document frequency of
# a join key bounds every bucket's pair count at C(cap,2). The caps are
# far above anything in a normal corpus (fixture max shingle df = 7), so
# results are unchanged unless a pathological key appears — and then the
# drop is the documented, bounded approximation. Mirrored in the DuckDB
# oracles so both engines see identical candidates by construction.
NGRAM_MAX_DF = 1_000  # shingle-level candidate join (ngram_jaccard_pairs)
MAX_LSH_BUCKET = 2_000  # band-bucket join (candidate_pairs)


# ---------------------------------------------------------------------------
# building blocks (engine API)
# ---------------------------------------------------------------------------


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shs): each document's DISTINCT word {SHINGLE_K}-gram
    shingle set as a per-row array, from any (doc_id, text) frame — the
    one shingle definition every MinHash/Jaccard frame builds on. A
    narrow map (distinctness is per-doc, so array_distinct does it
    map-side; a global .distinct() would shuffle the whole shingle
    table), hence stream-safe."""
    ws = TH.words(F.col("text"))
    return (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= SHINGLE_K)
        .select(
            "doc_id",
            F.array_distinct(TH.shingles(F.col("ws"), SHINGLE_K)).alias(
                "shs"
            ),
        )
    )


def _with_signature(sets: DataFrame) -> DataFrame:
    """(doc_id, shs, n, h0..h{N_HASHES-1}): a (doc_id, shs) frame plus
    the set size and the min-hash signature, computed inside the row —
    one md5 per shingle, then per-salt XOR + min folds. The one
    signature expression; callers that need only the signature drop
    `shs` and `n`, and column pruning removes them from the plan."""
    # bind the hashed array in its own projection so the N_HASHES min
    # folds read it instead of re-hashing every shingle per salt
    hdf = sets.select(
        "doc_id",
        "shs",
        F.transform(F.col("shs"), lambda sh: TH.md5_int60(sh)).alias("hs"),
    )

    def mh(i: int) -> Column:
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: h.bitwiseXOR(F.lit(TH.MINHASH_XOR_SALTS[i])),
            )
        ).alias(f"h{i}")

    return hdf.select(
        "doc_id",
        "shs",
        F.size("shs").cast("long").alias("n"),
        *[mh(i) for i in range(N_HASHES)],
    )


def shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs) over the `documents` fixture — `shingle_sets` on
    the corpus scan (explode it when a shingle-keyed shuffle is
    actually needed, e.g. document-frequency caps)."""
    return shingle_sets(load_table_parallel(spark, sf_dir, "documents"))


def minhash_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs, n, h0..h{N_HASHES-1}) — the full per-document dedup
    state (distinct shingle set, its size, and the min-hash signature)
    as a ZERO-SHUFFLE narrow map: shingling, hashing, and the per-salt
    min folds all happen inside the document row with higher-order
    functions. The explode + groupBy(doc_id) shape this replaces paid a
    corpus-sized exchange to reassemble state that never had to leave
    the row (same md5-once/XOR-permutation scheme; bit-identical
    signatures — the tools/exp_simhash_zeroshuffle.py precedent, last
    present at commit 3cac22f)."""
    return _with_signature(shingle_arrays(spark, sf_dir))


def shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct word shingles per document, one row each."""
    return shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def minhash_signatures(sh_df: DataFrame) -> DataFrame:
    """One row per doc with h0..h{N_HASHES-1} min-hash columns — the
    explode + groupBy(doc_id) form of `_with_signature`, kept as the
    reference the in-row signature is checked against. A single
    map-side-combinable pass. One md5 per shingle; the i-th 'hash
    function' is an XOR permutation of its 60-bit prefix (16× less
    hashing than salted-md5-per-function, and long-MIN beats
    string-MIN in the agg)."""
    hashed = sh_df.select("doc_id", TH.md5_int60(F.col("sh")).alias("h"))
    aggs = [
        F.min(F.col("h").bitwiseXOR(F.lit(TH.MINHASH_XOR_SALTS[i]))).alias(
            f"h{i}"
        )
        for i in range(N_HASHES)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(
    sig: DataFrame,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    keep_sig: bool = False,
    carry: tuple = (),
) -> DataFrame:
    """(doc_id, band, key): band key = md5 of the band's signature rows.

    One pass over the signature table (explode of an inline array) — a
    union of per-band selects would recompute the signature aggregation
    once per band. keep_sig=True carries the h0.. signature columns on
    every band row (the streaming ingest-dedup operator needs the
    signature AT the band-bucket key it is grouped by; a join-back is
    not stream-safe). `carry` names additional sig columns to ride the
    band rows (round-16: a consumer that needs a doc attribute at the
    bucket key — fuzzy_contamination's `source` — previously paid a
    doc-keyed join-back exchange for it)."""
    entries = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                )
            ).alias("key"),
        )
        for b in range(bands)
    ]
    # carry the sig frame's ACTUAL h* columns, not range(bands*rows):
    # with non-default band geometry (bands*rows < N_HASHES) the old
    # derivation truncated the carried signature; with bands*rows >
    # N_HASHES it crashed on a missing column (round-10 advisor)
    carried = (
        sorted(
            (c for c in sig.columns if c.startswith("h") and c[1:].isdigit()),
            key=lambda c: int(c[1:]),
        )
        if keep_sig
        else []
    )
    return sig.select(
        "doc_id", *carried, *carry, F.explode(F.array(*entries)).alias("e")
    ).select(
        "doc_id",
        *carried,
        *carry,
        F.col("e.band").alias("band"),
        F.col("e.key").alias("key"),
    )


_CAP_DEFAULT = object()  # sentinel: resolve MAX_LSH_BUCKET at CALL time
# (a def-time default would freeze the module constant, breaking the
# cap-override tests and any runtime re-tuning of the cap)


def candidate_pairs(
    bands_df: DataFrame,
    max_bucket=_CAP_DEFAULT,
    carry: tuple = (),
) -> DataFrame:
    """Docs sharing any band bucket (doc_a < doc_b), deduped. Columns
    named in `carry` ride along as {c}_a / {c}_b (the fingerprint
    families carry their hash for the hamming verify), entering the
    pair distinct — same cardinality, since a carried fingerprint is
    functionally determined by its doc id. `max_bucket=None` disables
    the cap; the default resolves the module's MAX_LSH_BUCKET when the
    function runs.

    Buckets larger than `max_bucket` are dropped before the self-join —
    a giant bucket is C(size, 2) pairs and would dominate the shuffle; a
    near-dup group that large is better handled by exact dedup upstream.
    The size count rides the same (band, key) shuffle the join needs."""
    if max_bucket is _CAP_DEFAULT:
        max_bucket = MAX_LSH_BUCKET
    if max_bucket is not None:
        from pyspark.sql.window import Window as W

        # count-over-window rides the same (band, key) shuffle the
        # self-join needs — no extra aggregate+join stages
        bands_df = (
            bands_df.withColumn(
                "bsz", F.count(F.lit(1)).over(W.partitionBy("band", "key"))
            )
            .filter(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def _minhash_candidates(spark: SparkSession, sf_dir: str):
    """The MinHash candidate-verify frame shared by `minhash_near_dup`,
    `containment_dups` and `dedup_eval_confusion`: LSH candidate pairs
    (doc_a < doc_b) with each side's shingle set and size (`shs_a`,
    `na`, `shs_b`, `nb`) and signature (`ah0..`, `bh0..`; column
    pruning drops them where unread). Returns (frame, ni) where `ni` is
    the exact intersection size |A∩B| as a column expression, not a
    frame column; a caller that reads it more than once binds it in its
    own projection (`dedup_eval_confusion`), so it is computed once.

    `minhash_per_doc` is a zero-shuffle narrow map, so the only
    exchanges are the LSH bucket join and the candidate verify join.
    The per-doc frame is checkpointed once (eagerly) and reused by
    banding, both sides of the candidate join and the verify; at
    cluster scale the same role is played by checkpointing it to
    parquet.

    Verify shape: the full shingle arrays ride the candidate join and
    the intersection is a per-pair array_intersect, not the
    count-based intersection of `ngram_jaccard_pairs`: measured duel
    (tools/exp_confusion_verify.py at commit 3cac22f), arrays 4.5 s vs
    counts 9.0 s at
    the 10× tier (2.1 vs 2.0 at sf0.1). The difference from the
    jaccard case: there the candidates COME FROM the shingle
    self-join, so the group count is free; here the LSH candidate set
    is independent of the shingle stream, so the count costs two extra
    candidate×shingle joins that scale with Σ_cand |shingles| —
    strictly more exchanged bytes than one array column over the
    (bucket-capped) candidate rows."""
    per_doc = materialize(minhash_per_doc(spark, sf_dir))
    cands = candidate_pairs(lsh_bands(per_doc))

    def side(s: str) -> DataFrame:
        return per_doc.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("shs").alias(f"shs_{s}"),
            F.col("n").alias(f"n{s}"),
            *[F.col(f"h{i}").alias(f"{s}h{i}") for i in range(N_HASHES)],
        )

    ni = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    return cands.join(side("a"), "doc_a").join(side("b"), "doc_b"), ni


def _exact_jaccard_pairs(
    spark: SparkSession, sf_dir: str, num: int, den: int
) -> DataFrame:
    """(doc_a, doc_b, na, nb, ni): every pair sharing a cold shingle
    (document frequency ≤ NGRAM_MAX_DF, read when this runs) with both
    set sizes and the EXACT full-set intersection size, already cut by
    the τ-pushdown bound for Jaccard ≥ τ = num/den. The exact-Jaccard
    generator shared by `ngram_jaccard_pairs` (τ = 3/10) and
    `dedup_threshold_sensitivity` (τ = 1/10); each keeps only its own
    exact predicate and projection.

    Candidate generation drops shingles with df > NGRAM_MAX_DF before
    the self-join (a hot shingle is a quadratic bucket; fixture max df
    is 7, so nothing is dropped at test scale). Because each
    document's shingle set is distinct, the candidate self-join's group
    count per (doc_a, doc_b) IS |A∩B| over cold shingles — no per-pair
    array shuffle. The hot remainder |A∩B over hot shingles| rides as
    an array_intersect of the per-doc HOT-ONLY arrays (bounded: only
    shingles with df > NGRAM_MAX_DF exist in them, and such
    stopword-like shingles are few by construction). This replaced a
    verify stage that equi-joined the FULL shingle arrays onto every
    candidate pair: at the 10× stress tier (~1000× qualifying pairs)
    the array-carrying joins dominated wall
    (tools/stress_fingerprints.py; identical output asserted)."""
    # one narrow pass feeds dfreq, candidates, hot sets
    per = materialize(
        shingle_arrays(spark, sf_dir).select(
            "doc_id", "shs", F.size("shs").cast("long").alias("n")
        )
    )
    sh = per.select("doc_id", F.explode("shs").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    cold_keys = dfreq.filter(F.col("df") <= NGRAM_MAX_DF).select("sh")
    hot_keys = dfreq.filter(F.col("df") > NGRAM_MAX_DF).select("sh")
    sh_cold = sh.join(cold_keys, "sh", "left_semi")
    # per-doc hot-only shingle arrays (empty for docs with none) — the
    # only arrays any pair ever carries, bounded by the hot-key count
    hot_per_doc = (
        sh.join(F.broadcast(hot_keys), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("hot_shs"))
    )
    sa = sh_cold.alias("sa")
    sb = sh_cold.alias("sb")
    pairs = (
        sa.join(
            sb,
            (F.col("sa.sh") == F.col("sb.sh"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni_cold"))  # == |A∩B|_cold exactly
    )
    scal = per.select("doc_id", "n")
    ha = hot_per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("hot_shs").alias("hot_a")
    )
    hb = hot_per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("hot_shs").alias("hot_b")
    )
    empty = F.array().cast("array<string>")
    ni = F.col("ni_cold") + F.size(
        F.array_intersect(
            F.coalesce(F.col("hot_a"), empty),
            F.coalesce(F.col("hot_b"), empty),
        )
    ).cast("long")
    # τ-PUSHDOWN below the scoring joins (round-12): j ≥ τ needs
    # |A∩B| ≥ τ/(1+τ)·(|A|+|B|), and |A∩B| can never exceed
    # ni_ub = min(ni_cold + #hot_keys, na, nb) (every non-cold
    # intersection member is a hot shingle, globally few by
    # construction). Pairs failing the bound are dropped HERE, on
    # scalar columns only, so the hot-array joins and the caller's
    # exact score run over SURVIVORS rather than the full candidate
    # set — at production scale wall tracks the output, not the
    # candidate fan-out. The comparison is the exact integer
    # cross-multiply, so the bound can never round a true survivor
    # away; the caller's exact predicate decides, and the output is
    # identical (pinned by the DuckDB oracles, whose SQL has no
    # pushdown).
    hcnt = hot_keys.agg(F.count(F.lit(1)).alias("hot_total"))
    ni_ub = F.least(
        F.col("ni_cold") + F.col("hot_total"), F.col("na"), F.col("nb")
    )
    return (
        pairs.join(scal.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("na")), "doc_a")
        .join(scal.select(F.col("doc_id").alias("doc_b"),
                          F.col("n").alias("nb")), "doc_b")
        .crossJoin(F.broadcast(hcnt))  # one global scalar
        .filter((den + num) * ni_ub >= num * (F.col("na") + F.col("nb")))
        .join(ha, "doc_a", "left")
        .join(hb, "doc_b", "left")
        .withColumn("ni", ni)
        .drop("ni_cold", "hot_total", "hot_a", "hot_b")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 of normalized text; keeps the canonical
    (minimum) doc_id per group and flags duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(TH.norm_text(F.col("text")), 256).alias("text_hash")
    )
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs")
    )
    return hashed.join(groups, "text_hash").select(
        "doc_id",
        "text_hash",
        "canonical_id",
        (F.col("n_docs") > 1).alias("is_dup"),
    )


# incremental ingest split: the first 90 hash buckets play the existing
# snapshot ("store"), the rest the incoming batch — same Knuth split as
# pipeline.hash_split_documents, so the roles are deterministic
_INCR_KNUTH = 2654435761
_INCR_STORE_BUCKETS = 90


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-ingest shape: an incoming batch is
    checked against the existing corpus snapshot's FINGERPRINT STORE
    (the 32-bit SimHash each snapshot doc already carries), and within
    itself, before admission. Emits per incoming doc: is_known_dup
    (fingerprint already in the store), is_batch_dup (fingerprint
    duplicated inside the batch), and the drop decision (known, or not
    the batch's canonical min-doc_id holder).

    Scale shape — the STORE NEVER SHUFFLES: the incoming batch's
    distinct fingerprints broadcast as a semi-join probe over the
    (compact, fingerprint-only) store, and only the matching store
    fingerprints — at most |batch| rows — come back to mark the batch
    via a second broadcast. A naive `batch LEFT JOIN store` would
    shuffle the corpus-sized store on every ingest; probe-side pushdown
    is what makes daily ingestion O(|batch|) instead of O(|corpus|)."""
    bucket = (F.col("doc_id") * _INCR_KNUTH) % (2**32) % 100
    hashed = _simhash_df(spark, sf_dir).select(
        "doc_id",
        F.col("simhash").alias("text_hash"),
        bucket.alias("bk"),
    )
    store = hashed.filter(F.col("bk") < _INCR_STORE_BUCKETS).select(
        "text_hash"
    )
    inc = hashed.filter(F.col("bk") >= _INCR_STORE_BUCKETS).drop("bk")
    inc_keys = inc.select("text_hash").distinct()
    hits = (
        store.join(F.broadcast(inc_keys), "text_hash", "left_semi")
        .distinct()
        .withColumn("known", F.lit(1))
    )
    batch_groups = inc.groupBy("text_hash").agg(
        F.min("doc_id").alias("batch_canonical"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )
    return (
        inc.join(F.broadcast(hits), "text_hash", "left")
        .join(batch_groups, "text_hash")
        .select(
            "doc_id",
            F.col("known").isNotNull().alias("is_known_dup"),
            (F.col("n_in_batch") > 1).alias("is_batch_dup"),
            (
                F.col("known").isNotNull()
                | (F.col("doc_id") != F.col("batch_canonical"))
            ).alias("drop_doc"),
        )
    )


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified at ≥ 0.3 on
    the `_minhash_candidates` frame (which holds the scale shape)."""
    cands, ni = _minhash_candidates(spark, sf_dir)
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        cands.withColumn("ni", ni)
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_EVAL_NUM, _EVAL_DEN = 3, 10  # threshold 3/10 == JACCARD_THRESHOLD, exact


def q_dedup_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning confusion matrix for the MinHash tier: on the
    LSH candidate set, compare the SIGNATURE-estimated Jaccard
    (matching minhash components / {N_HASHES}) against the EXACT
    shingle Jaccard at the same {_EVAL_NUM}/{_EVAL_DEN} threshold —
    the precision/recall table a pipeline reads before trusting
    signature-only dedup at scale (where exact verification of every
    candidate is the expensive step being traded away). Both
    predicates are exact integer cross-multiplications (matches·den ≥
    num·{N_HASHES}; ni·den ≥ num·(na+nb−ni)), so both engines classify
    identically — no float thresholding anywhere.

    Scale shape: the same two exchanges as `minhash_near_dup` (LSH
    bucket join, candidate verify join) plus a 1-row agg; recall here
    is WITHIN-candidate recall (pairs LSH never surfaces are unseen by
    construction — that generator-recall tradeoff is the banding
    parameter, measured separately by `ngram_jaccard_pairs`)."""
    matches = sum(
        (F.col(f"ah{i}") == F.col(f"bh{i}")).cast("long")
        for i in range(N_HASHES)
    )
    cands, ni = _minhash_candidates(spark, sf_dir)
    # `truth` reads ni twice: bound in its own projection, the
    # array_intersect runs once per candidate pair, not twice
    j = cands.select(
        (matches * _EVAL_DEN >= _EVAL_NUM * N_HASHES).alias("pred"),
        "na", "nb", ni.alias("ni"),
    ).select(
        "pred",
        (
            F.col("ni") * _EVAL_DEN
            >= _EVAL_NUM * (F.col("na") + F.col("nb") - F.col("ni"))
        ).alias("truth"),
    )

    def cnt(p: bool, t: bool) -> F.Column:
        return F.sum(
            ((F.col("pred") == p) & (F.col("truth") == t)).cast("long")
        )

    agg = j.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        cnt(True, True).alias("tp"),
        cnt(True, False).alias("fp"),
        cnt(False, True).alias("fn"),
        cnt(False, False).alias("tn"),
    )
    return agg.select(
        "n_candidates",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 1000000 div (tp + fp)"),
        ).alias("precision_e6"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 1000000 div (tp + fn)"),
        ).alias("recall_e6"),
    )


def _oracle_eval_confusion() -> str:
    m_terms = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return (
        f"WITH {_dd_shingle_cte()}, {_dd_sig_cte()}, {_dd_bands_cte()}, "
        f"bok AS (SELECT band, key FROM bands GROUP BY band, key "
        f"HAVING COUNT(*) <= {MAX_LSH_BUCKET}), "
        "bandsf AS (SELECT bands.* FROM bands JOIN bok USING (band, key)), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id), "
        f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT doc_a, doc_b, COUNT(*) AS ni
          FROM cand JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
          GROUP BY doc_a, doc_b),
cls AS (
  SELECT ({m_terms}) * {_EVAL_DEN} >= {_EVAL_NUM * N_HASHES} AS pred,
         COALESCE(ni, 0) * {_EVAL_DEN}
           >= {_EVAL_NUM} * (x.n + y.n - COALESCE(ni, 0)) AS truth
  FROM cand
  JOIN sig a ON a.doc_id = doc_a
  JOIN sig b ON b.doc_id = doc_b
  JOIN sizes x ON x.doc_id = doc_a
  JOIN sizes y ON y.doc_id = doc_b
  LEFT JOIN inter USING (doc_a, doc_b)),
agg AS (
  SELECT COUNT(*) AS n_candidates,
         CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM cls)
SELECT n_candidates, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS precision_e6,
       CASE WHEN tp + fn > 0
            THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END AS recall_e6
FROM agg
"""
    )


CONTAINMENT_THRESHOLD = 0.5


def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups: pairs where the smaller document's shingle
    set is mostly INSIDE the larger one's — containment =
    |A∩B| / min(|A|, |B|). Symmetric Jaccard misses the
    quote-a-whole-document-inside-a-bigger-one shape (a 100-word doc
    fully embedded in a 10,000-word doc has Jaccard ≈ 0.01 but
    containment 1.0); excising such subset-duplication is a standard
    LLM-corpus step alongside Jaccard dedup.

    Same `_minhash_candidates` frame as `minhash_near_dup` (scale
    shape there): exact set math on LSH candidates only.
    (LSH banding recalls high-Jaccard pairs best, so low-Jaccard/
    high-containment pairs with very lopsided sizes may be missed by
    the bands — the standard mitigation at scale is re-banding on the
    smaller doc's signature prefix; the fixture's near-dup pairs are
    size-balanced enough that banding recalls them.)"""
    cands, ni = _minhash_candidates(spark, sf_dir)
    cont = F.col("ni").cast("double") / F.least("na", "nb")
    return (
        cands.withColumn("ni", ni)
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "ni",
            F.floor(cont * 1e6).cast("long").alias("containment_q6"),
        )
    )


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signatures themselves (first 4 hash columns) — checks the
    sketch layer independently of banding (zero-shuffle per-doc map)."""
    sig = minhash_per_doc(spark, sf_dir)
    return sig.select("doc_id", "h0", "h1", "h2", "h3")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing a cold shingle — the
    ground-truth tier LSH approximates; j ≥ 0.3. The pairs and their
    exact |A∩B| come from `_exact_jaccard_pairs` (df cap, hot-shingle
    remainder and τ-pushdown are documented there); |A∪B| =
    na + nb − |A∩B| from scalar set sizes."""
    jac = F.col("ni").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ni")
    )
    return (
        _exact_jaccard_pairs(spark, sf_dir, _EVAL_NUM, _EVAL_DEN)
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# band geometries the LSH-banding planner measures: every way to cut
# the N_HASHES=16 signature into equal (bands x rows) grids
_BANDING_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


def _banding_recall_e6(bands: int, rows: int) -> int:
    """Analytic LSH detection probability 1-(1-τ^r)^b at the operating
    threshold τ = JACCARD_THRESHOLD = 3/10, in exact rational
    arithmetic floored to ppm — a LITERAL in both engines' plans, so
    cross-engine float parity is a non-issue."""
    from fractions import Fraction

    t = Fraction(3, 10)
    return int((1 - (1 - t**rows) ** bands) * 1_000_000)


def q_lsh_banding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-GEOMETRY planner behind `minhash_near_dup`'s (bands,
    rows) choice: for every equal cut of the 16-hash signature, the
    MEASURED candidate cost on this corpus (bucket count, largest
    bucket, distinct candidate pairs after the standard bucket cap)
    next to the ANALYTIC benefit (detection probability at the
    operating threshold τ=0.3, the AND-OR curve 1-(1-τ^r)^b as an
    exact ppm literal). More bands → more recall AND more candidates;
    this emits the actual tradeoff table instead of the folklore.

    Scale shape (round-17 fusion, guide §2.4 — share one exchange):
    the signature frame is computed once (zero-shuffle narrow map,
    materialized once for all four geometries), and ALL FOUR
    geometries ride ONE config-tagged band frame — a single explode of
    the 16+8+4+2 (cfg, band, key) entries — so the whole planner is one
    (cfg, band, key) exchange feeding the bucket stats, the capped
    bucket self-join, and the per-config aggregates, instead of four
    independent explode/exchange/self-join pipelines (8 sub-second
    stages of almost pure scheduling overhead at sf0.1; same shuffled
    rows either way, since the union of the four band frames IS this
    frame). The cap, bucket identity (md5 band key), and distinct-pair
    count are unchanged per config; a 4-row literal spine keeps the
    all-four-rows output contract even on an empty corpus (the old
    global aggregates emitted a zero row per config)."""
    from pyspark.sql.window import Window as W

    sig = materialize(minhash_per_doc(spark, sf_dir))
    entries = [
        F.struct(
            F.lit(bands).cast("long").alias("cfg"),
            F.lit(b).cast("long").alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                )
            ).alias("key"),
        )
        for bands, rows in _BANDING_CONFIGS
        for b in range(bands)
    ]
    bdf = sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.cfg", "e.band", "e.key")
    bsz = bdf.groupBy("cfg", "band", "key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    bstats = bsz.groupBy("cfg").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
    )
    # capped bucket self-join over every config at once — the same
    # count-over-window cap `candidate_pairs` applies, keyed (cfg,
    # band, key) so the window rides the one exchange above
    capped = (
        bdf.withColumn(
            "bsz",
            F.count(F.lit(1)).over(W.partitionBy("cfg", "band", "key")),
        )
        .filter(F.col("bsz") <= MAX_LSH_BUCKET)
        .drop("bsz")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    cstats = (
        a.join(
            b,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .groupBy("cfg")
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    )
    spine = None
    for bands, rows in _BANDING_CONFIGS:
        row = spark.range(1).select(
            F.lit(bands).cast("long").alias("cfg"),
            F.lit(bands).cast("long").alias("bands"),
            F.lit(rows).cast("long").alias("rows_per_band"),
            F.lit(_banding_recall_e6(bands, rows))
            .cast("long")
            .alias("est_recall_tau03_e6"),
        )
        spine = row if spine is None else spine.unionByName(row)
    return (
        spine.join(bstats, "cfg", "left")
        .join(cstats, "cfg", "left")
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_buckets", F.lit(0)).cast("long").alias(
                "n_buckets"
            ),
            "max_bucket",
            F.coalesce("n_candidate_pairs", F.lit(0)).cast("long").alias(
                "n_candidate_pairs"
            ),
            "est_recall_tau03_e6",
        )
    )


def _oracle_lsh_banding() -> str:
    ctes, selects = [], []
    for bands, rows in _BANDING_CONFIGS:
        cases = " ".join(
            f"WHEN {b} THEN md5(concat_ws('|', "
            + ", ".join(f"h{b * rows + r}" for r in range(rows))
            + "))"
            for b in range(bands)
        )
        p = f"b{bands}"
        ctes.append(
            f"{p} AS (SELECT doc_id, CAST(t.b AS BIGINT) AS band, "
            f"CASE t.b {cases} END AS key "
            f"FROM sig, range(0, {bands}) t(b)), "
            f"{p}s AS (SELECT band, key, COUNT(*) AS sz "
            f"FROM {p} GROUP BY 1, 2), "
            f"{p}f AS (SELECT {p}.* FROM {p} JOIN {p}s USING (band, key) "
            f"WHERE sz <= {MAX_LSH_BUCKET}), "
            f"{p}c AS (SELECT DISTINCT a.doc_id AS doc_a, "
            f"b.doc_id AS doc_b FROM {p}f a JOIN {p}f b "
            f"ON a.band = b.band AND a.key = b.key "
            f"AND a.doc_id < b.doc_id)"
        )
        selects.append(
            f"SELECT CAST({bands} AS BIGINT) AS bands, "
            f"CAST({rows} AS BIGINT) AS rows_per_band, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {p}s) AS n_buckets, "
            f"(SELECT CAST(MAX(sz) AS BIGINT) FROM {p}s) AS max_bucket, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {p}c) "
            f"AS n_candidate_pairs, "
            f"CAST({_banding_recall_e6(bands, rows)} AS BIGINT) "
            f"AS est_recall_tau03_e6"
        )
    return (
        f"WITH {_dd_shingle_cte()}, {_dd_sig_cte()}, "
        + ", ".join(ctes)
        + " "
        + " UNION ALL ".join(selects)
    )


# lowest Jaccard decile the sensitivity census studies — the pushdown
# floor, so wall tracks pairs >= 0.1, not the raw candidate fan-out
_SENS_NUM, _SENS_DEN = 1, 10


def q_dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The τ-TUNING census for near-dup dedup: for every Jaccard decile
    τ ∈ {0.1..0.9}, how many pairs a dedup pass at that threshold would
    merge and how many documents it would touch — the table the
    JACCARD_THRESHOLD knob is chosen from (each decile row is what
    `ngram_jaccard_pairs` would emit at that τ, pre-computed in one
    pass instead of nine).

    Same exact-count generator as `ngram_jaccard_pairs`
    (`_exact_jaccard_pairs`: cold-shingle group counts + hot-array
    remainder, τ-pushdown on scalar columns), with the pushdown at the
    LOWEST studied decile (1/10) — the census is inherently
    output-bound at τ=0.1, the honest cost of asking about τ=0.1.
    Each pair's decile is the exact integer
    least(9, 10·|A∩B| div |A∪B|) — no float compare at any bucket
    boundary — and the per-decile totals are cumulative counts over
    the ≤9-row decile histogram, emitted for all nine τ values via a
    generator over one aggregated row (no spine join).

    Scale shape: the shared generator, then a ≤9-column aggregate.
    The doc census explodes each surviving pair to its two endpoints
    (2× survivors) into a doc-keyed max — bounded by the survivor
    count."""
    scored = (
        _exact_jaccard_pairs(spark, sf_dir, _SENS_NUM, _SENS_DEN)
        .withColumn("un", F.col("na") + F.col("nb") - F.col("ni"))
        .filter(F.col("ni") * _SENS_DEN >= F.col("un") * _SENS_NUM)
        .select(
            "doc_a",
            "doc_b",
            F.least(
                F.lit(9).cast("long"), F.expr("(ni * 10) div un")
            ).alias("d"),
        )
    )
    doc_max = (
        scored.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"), "d"
        )
        .groupBy("doc_id")
        .agg(F.max("d").alias("dmax"))
    )
    zero = F.lit(0).cast("long")
    prow = scored.agg(
        *[
            F.coalesce(
                F.sum((F.col("d") >= t).cast("long")), zero
            ).alias(f"p{t}")
            for t in range(1, 10)
        ]
    )
    drow = doc_max.agg(
        *[
            F.coalesce(
                F.sum((F.col("dmax") >= t).cast("long")), zero
            ).alias(f"q{t}")
            for t in range(1, 10)
        ]
    )
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), p{t}, q{t}" for t in range(1, 10)
    )
    return prow.crossJoin(drow).selectExpr(
        f"stack(9, {stack_args}) AS (tau_e1, n_pairs, n_docs_affected)"
    )


def _oracle_threshold_sensitivity() -> str:
    return f"""
WITH {_dd_shingle_cte()},
cold AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {NGRAM_MAX_DF}),
shf AS (SELECT sh.* FROM sh JOIN cold USING (sh)),
cand AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
         FROM shf sa JOIN shf sb
           ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
         GROUP BY 1, 2),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM sh GROUP BY doc_id),
inter AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS ni
          FROM cand JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
          GROUP BY doc_a, doc_b),
scored AS (SELECT doc_a, doc_b,
                  LEAST(CAST(9 AS BIGINT),
                        (ni * 10) // (x.n + y.n - ni)) AS d
           FROM inter JOIN sizes x ON x.doc_id = doc_a
           JOIN sizes y ON y.doc_id = doc_b
           WHERE ni * {_SENS_DEN} >= (x.n + y.n - ni) * {_SENS_NUM}),
docmax AS (SELECT doc_id, MAX(d) AS dmax FROM (
             SELECT doc_a AS doc_id, d FROM scored
             UNION ALL SELECT doc_b AS doc_id, d FROM scored)
           GROUP BY doc_id),
-- <=9-row decile histograms, each referencing its source CTE exactly
-- once (a correlated COUNT per tau re-evaluates the whole chain)
ph AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY d),
dh AS (SELECT dmax AS d, CAST(COUNT(*) AS BIGINT) AS c
       FROM docmax GROUP BY dmax),
taus AS (SELECT CAST(tau AS BIGINT) AS tau_e1 FROM range(1, 10) t(tau)),
np AS (SELECT tau_e1, CAST(COALESCE(SUM(ph.c), 0) AS BIGINT) AS n_pairs
       FROM taus LEFT JOIN ph ON ph.d >= tau_e1 GROUP BY tau_e1),
nd AS (SELECT tau_e1,
              CAST(COALESCE(SUM(dh.c), 0) AS BIGINT) AS n_docs_affected
       FROM taus LEFT JOIN dh ON dh.d >= tau_e1 GROUP BY tau_e1)
SELECT np.tau_e1, n_pairs, n_docs_affected FROM np JOIN nd USING (tau_e1)
"""


def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from 48-bit md5 term hashes: bit b of
    the fingerprint is the sign of Σ_tokens (±1 at bit b)."""
    return _simhash_df(spark, sf_dir)


SIMHASH_BANDS = 4  # 4 bands × 8 bits of the 32-bit fingerprint
# near-dup when hamming <= 1 of 32 bits: the fixture corpus draws from a
# ~60-word vocabulary, so fingerprints cluster far more than real text
# (<=6, the usual 64-bit-simhash setting, matches ~20% of ALL pairs
# here); at <=1 banding recall is exact (1 differing bit falls in 1 of
# 4 bands, the other 3 agree)
SIMHASH_HAM_MAX = 1


def _simhash_bands(fp: DataFrame) -> DataFrame:
    """Band-explode a (doc_id, simhash) frame into (doc_id, simhash,
    band, key) rows: {SIMHASH_BANDS} bands of 8 bits each. ONE
    definition shared by `q_simhash_near_dup` and its tuning census
    `q_simhash_hamming_census` (and mirrored by the struct array in
    both oracles), so the band geometry of the near-dup query and the
    census that tunes it cannot drift apart under a future edit."""
    return fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        F.shiftright(F.col("simhash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .cast("long")
                        .alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "simhash", "e.band", "e.key")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: hamming-LSH banding — two docs
    within hamming distance {SIMHASH_HAM_MAX} of each other must agree
    EXACTLY on at least one 8-bit band whenever the differing bits
    cluster in ≤ 3 bands (and probabilistically otherwise; more/narrower
    bands trade recall for candidates, same AND-OR dial as MinHash).
    The exact hamming verify (`bit_count(xor)`, pure integer ops so
    both engines agree bit-for-bit) runs on candidates only.

    Candidate geometry: a band key is only 8 bits, so band buckets hold
    ~N/256 docs and the self-join is Θ(N²/(bands·2⁸)) unbounded —
    fine at fixture scale, quadratic at corpus scale. Buckets above
    MAX_LSH_BUCKET are therefore dropped before the join (mirrored in
    the oracle, so both engines see identical candidates; no fixture
    bucket comes near the cap). At production scale the standard fix is
    a wider fingerprint (64-bit simhash, 4×16-bit bands → 2¹⁶ keys)
    plus this same cap; the 32-bit width here keeps the per-bit vote
    oracle exactly cross-engine-checkable."""

    bands = _simhash_bands(_simhash_df(spark, sf_dir))
    once, x = _simhash_once_pairs(bands)
    return (
        once.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(x).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
    )


def _simhash_once_pairs(bands: DataFrame):
    """The capped band self-join with exactly ONE row per distinct
    candidate pair — the first-surviving-agreeing-band filter shared by
    `simhash_near_dup` and `simhash_hamming_census` (round-16
    optimization; measured 3.3x on the unfiltered census, exact-equal
    output). `candidate_pairs`' pair-distinct is a pair-cardinality
    shuffle + dedup aggregate (4.3M pairs at sf0.1); instead each join
    row decides locally whether it is its pair's canonical appearance:
    band c agrees iff byte c of simhash_a XOR simhash_b is zero, and
    the bucket at an agreeing band is shared, so doc_a's own
    bucket-survival bit (a 4-bit mask summed over a doc-keyed window,
    riding one O(docs·bands) exchange) tells whether that band's
    bucket survived the cap. Keeping only the row whose band equals
    the pair's minimum surviving agreeing band yields exactly one row
    per distinct pair — downstream aggregates then combine map-side
    with no pair-keyed exchange at all. Returns (frame, xor column);
    the frame keeps the a./b. aliases for the caller's projection."""
    from pyspark.sql.window import Window as W

    capped = (
        bands.withColumn(
            "bsz", F.count(F.lit(1)).over(W.partitionBy("band", "key"))
        )
        .withColumn(
            "surv",
            F.sum(
                F.when(
                    F.col("bsz") <= MAX_LSH_BUCKET,
                    F.expr("shiftleft(1L, CAST(band AS INT))"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .over(W.partitionBy("doc_id"))
            .cast("long"),
        )
        .filter(F.col("bsz") <= MAX_LSH_BUCKET)
        .drop("bsz")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    x = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    first_band = None
    for c in range(SIMHASH_BANDS - 1, -1, -1):
        agree_c = (
            F.shiftright(x, 8 * c).bitwiseAND(F.lit(255)) == 0
        ) & (F.shiftright(F.col("a.surv"), c).bitwiseAND(F.lit(1)) == 1)
        first_band = (
            F.when(agree_c, F.lit(c))
            if first_band is None
            else F.when(agree_c, F.lit(c)).otherwise(first_band)
        )
    return joined.filter(F.col("a.band").cast("int") == first_band), x


def q_simhash_hamming_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIMHASH_HAM_MAX tuning table: the hamming-distance histogram
    of the banded candidate pairs, with a cumulative column — row h's
    `cum_pairs` is exactly how many pairs a near-dup pass at threshold
    h would accept (`simhash_near_dup` is the cum row at h={SIMHASH_HAM_MAX}).
    Scoped to DETECTED candidates, stated as such: banding recall is
    exact only at hamming <= 1 here, so high-h rows are a lower bound —
    still the number the threshold knob is turned by, since the same
    banding serves every threshold.

    Scale shape: identical to `simhash_near_dup` through the capped
    band self-join; the histogram is <= 25 rows (candidates agree on an
    8-bit band, so hamming <= 24) and the cumulative window rides that
    bounded frame through one SinglePartition exchange. Rows derive
    from the data (no fixed spine), so an empty corpus yields an empty
    census in both engines.

    Pair dedup is the FIRST-SURVIVING-AGREEING-BAND filter, not a
    distinct (`_simhash_once_pairs`, shared with `simhash_near_dup`):
    one row per distinct pair leaves the band self-join, so the
    histogram aggregates map-side with no pair-keyed exchange at
    all."""
    from pyspark.sql.window import Window as W

    bands = _simhash_bands(_simhash_df(spark, sf_dir))
    once, x = _simhash_once_pairs(bands)
    hist = (
        once.select(F.bit_count(x).cast("long").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w_cum = (
        W.partitionBy(F.lit(0))
        .orderBy("hamming")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return hist.select(
        "hamming", "n_pairs", F.sum("n_pairs").over(w_cum).alias("cum_pairs")
    )


def _simhash_df(
    spark: SparkSession, sf_dir: str, with_n_tokens: bool = False
) -> DataFrame:
    """SimHash fingerprints via explode(distinct tokens) →
    groupBy(doc_id) bit-vote aggregation.

    Plan-shape note (round-7 measurement, tools/stress_fingerprints.py):
    a zero-shuffle variant that folds the 32 bit votes with per-row
    `aggregate` higher-order functions was tried in round 6 and
    REVERTED — at 10× rows the HOF fold measured 3.65 s vs 1.50 s for
    this plan (2.4× slower; also slower at sf0.1). The exchange here is
    NOT corpus-sized: hash aggregation runs a map-side partial pass
    that collapses each document's token rows to one row per doc per
    partition BEFORE the shuffle, so the wire carries O(docs) rows
    while the 32 vote sums stay inside whole-stage codegen (where the
    HOF fold's 32 interpreted array traversals per row cannot).

    `with_n_tokens=True` carries the raw (pre-distinct) token count
    through the same scan — composite pipelines
    (training_order_packing) that need both the fingerprint and the
    length then tokenize the corpus ONCE instead of running a second
    scan + a doc-keyed join. NULL text drops implicitly (explode of a
    NULL array emits nothing, matching the oracle's UNNEST)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    # tokenize once; the token stream and the length both read `ws`
    wdf = docs.select("doc_id", TH.words(F.col("text")).alias("ws"))
    carry = (
        [F.size("ws").cast("long").alias("n_tokens")]
        if with_n_tokens
        else []
    )
    tok = wdf.select(
        "doc_id",
        *carry,
        F.explode(F.array_distinct(F.col("ws"))).alias("w"),
    )
    h = tok.withColumn("h", TH.md5_int48(F.col("w")))
    votes = [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(32)
    ]
    keys = ["doc_id"] + (["n_tokens"] if with_n_tokens else [])
    vdf = h.groupBy(*keys).agg(*votes)
    fp = None
    for b in range(32):
        term = F.when(
            F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    out_carry = ["n_tokens"] if with_n_tokens else []
    return vdf.select("doc_id", fp.alias("simhash"), *out_carry)


# ---------------------------------------------------------------------------
# oracle SQL (same pipeline, DuckDB dialect)
# ---------------------------------------------------------------------------


def _dd_shingle_cte() -> str:
    ws = TH.dd_words("text")
    return (
        f"w AS (SELECT doc_id, {ws} AS ws FROM documents), "
        f"sh AS (SELECT DISTINCT doc_id, "
        f"UNNEST(list_transform(generate_series(1, len(ws) - {SHINGLE_K - 1}), "
        f"j -> array_to_string(ws[j:j+{SHINGLE_K - 1}], ' '))) AS sh "
        f"FROM w WHERE len(ws) >= {SHINGLE_K})"
    )


def _dd_sig_cte(n_hashes: int = N_HASHES) -> str:
    mins = ", ".join(
        f"MIN(xor(h, {TH.MINHASH_XOR_SALTS[i]})) AS h{i}"
        for i in range(n_hashes)
    )
    return (
        f"shh AS (SELECT doc_id, {TH.dd_md5_int60('sh')} AS h FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM shh GROUP BY doc_id)"
    )


def _dd_bands_cte() -> str:
    cases = " ".join(
        f"WHEN {b} THEN md5(concat_ws('|', "
        + ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + "))"
        for b in range(BANDS)
    )
    return (
        f"bands AS (SELECT doc_id, CAST(t.b AS BIGINT) AS band, "
        f"CASE t.b {cases} END AS key FROM sig, range(0, {BANDS}) t(b))"
    )


_DD_JACCARD_TAIL = f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT doc_a, doc_b, COUNT(*) AS ni
          FROM cand JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
          GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b,
       ROUND(CAST(ni AS DOUBLE) / (x.n + y.n - ni), 6) AS jaccard
FROM inter JOIN sizes x ON x.doc_id = doc_a
JOIN sizes y ON y.doc_id = doc_b
WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= {JACCARD_THRESHOLD}
"""


def _oracles() -> dict[str, str]:
    nt = TH.dd_norm_text("text")
    return {
        "dedup_exact": f"""
WITH h AS (SELECT doc_id, sha256({nt}) AS text_hash FROM documents),
g AS (SELECT text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS c
      FROM h GROUP BY text_hash)
SELECT doc_id, h.text_hash, canonical_id, (c > 1) AS is_dup
FROM h JOIN g ON h.text_hash = g.text_hash
""",
        "incremental_dedup": f"""
WITH toks AS (SELECT DISTINCT doc_id, UNNEST({TH.dd_words('text')}) AS w
              FROM documents),
th AS (SELECT doc_id, {TH.dd_md5_int48('w')} AS h FROM toks),
bits AS (SELECT doc_id, t.b AS b,
                SUM(((h >> t.b) & 1) * 2 - 1) AS s
         FROM th, range(0, 32) t(b) GROUP BY doc_id, t.b),
h AS (SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                  AS BIGINT) AS text_hash,
             (doc_id * {_INCR_KNUTH}) % {2**32} % 100 AS bk
      FROM bits GROUP BY doc_id),
store AS (SELECT DISTINCT text_hash FROM h WHERE bk < {_INCR_STORE_BUCKETS}),
inc AS (SELECT doc_id, text_hash FROM h WHERE bk >= {_INCR_STORE_BUCKETS}),
bg AS (SELECT text_hash, MIN(doc_id) AS batch_canonical,
              COUNT(*) AS n_in_batch
       FROM inc GROUP BY 1)
SELECT inc.doc_id,
       (store.text_hash IS NOT NULL) AS is_known_dup,
       (n_in_batch > 1) AS is_batch_dup,
       (store.text_hash IS NOT NULL
        OR inc.doc_id <> batch_canonical) AS drop_doc
FROM inc LEFT JOIN store ON inc.text_hash = store.text_hash
JOIN bg ON inc.text_hash = bg.text_hash
""",
        "minhash_near_dup": (
            f"WITH {_dd_shingle_cte()}, {_dd_sig_cte()}, {_dd_bands_cte()}, "
            f"bok AS (SELECT band, key FROM bands GROUP BY band, key "
            f"HAVING COUNT(*) <= {MAX_LSH_BUCKET}), "
            "bandsf AS (SELECT bands.* FROM bands JOIN bok USING (band, key)), "
            "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.key = b.key "
            "AND a.doc_id < b.doc_id), "
            + _DD_JACCARD_TAIL
        ),
        "minhash_signature": (
            f"WITH {_dd_shingle_cte()}, {_dd_sig_cte(4)} "
            "SELECT doc_id, h0, h1, h2, h3 FROM sig"
        ),
        "ngram_jaccard_pairs": (
            f"WITH {_dd_shingle_cte()}, "
            f"cold AS (SELECT sh FROM sh GROUP BY sh "
            f"HAVING COUNT(*) <= {NGRAM_MAX_DF}), "
            "shf AS (SELECT sh.* FROM sh JOIN cold USING (sh)), "
            "cand AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b "
            "FROM shf sa JOIN shf sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id "
            "GROUP BY 1, 2), "
            + _DD_JACCARD_TAIL
        ),
        "simhash_fingerprint": f"""
WITH toks AS (SELECT DISTINCT doc_id, UNNEST({TH.dd_words('text')}) AS w
              FROM documents),
th AS (SELECT doc_id, {TH.dd_md5_int48('w')} AS h FROM toks),
bits AS (SELECT doc_id, t.b AS b,
                SUM(((h >> t.b) & 1) * 2 - 1) AS s
         FROM th, range(0, 32) t(b) GROUP BY doc_id, t.b)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id
""",
        "simhash_near_dup": f"""
WITH toks AS (SELECT DISTINCT doc_id, UNNEST({TH.dd_words('text')}) AS w
              FROM documents),
th AS (SELECT doc_id, {TH.dd_md5_int48('w')} AS h FROM toks),
bits AS (SELECT doc_id, t.b AS b,
                SUM(((h >> t.b) & 1) * 2 - 1) AS s
         FROM th, range(0, 32) t(b) GROUP BY doc_id, t.b),
fp AS (SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM bits GROUP BY doc_id),
bands0 AS (SELECT doc_id, simhash, t.band AS band,
                  (simhash >> (8 * t.band)) & 255 AS key
           FROM fp, range(0, {SIMHASH_BANDS}) t(band)),
bands AS (SELECT * FROM (
            SELECT doc_id, simhash, band, key,
                   COUNT(*) OVER (PARTITION BY band, key) AS bsz
            FROM bands0)
          WHERE bsz <= {MAX_LSH_BUCKET}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sha, b.simhash AS shb
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= {SIMHASH_HAM_MAX}
""",
        "simhash_hamming_census": f"""
WITH toks AS (SELECT DISTINCT doc_id, UNNEST({TH.dd_words('text')}) AS w
              FROM documents),
th AS (SELECT doc_id, {TH.dd_md5_int48('w')} AS h FROM toks),
bits AS (SELECT doc_id, t.b AS b,
                SUM(((h >> t.b) & 1) * 2 - 1) AS s
         FROM th, range(0, 32) t(b) GROUP BY doc_id, t.b),
fp AS (SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM bits GROUP BY doc_id),
bands0 AS (SELECT doc_id, simhash, t.band AS band,
                  (simhash >> (8 * t.band)) & 255 AS key
           FROM fp, range(0, {SIMHASH_BANDS}) t(band)),
bands AS (SELECT * FROM (
            SELECT doc_id, simhash, band, key,
                   COUNT(*) OVER (PARTITION BY band, key) AS bsz
            FROM bands0)
          WHERE bsz <= {MAX_LSH_BUCKET}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sha, b.simhash AS shb
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
hist AS (SELECT CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming,
                COUNT(*) AS n_pairs
         FROM cand GROUP BY 1)
SELECT hamming, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY hamming
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_pairs
FROM hist
""",
    }


# parquet-reset cadence for the propagation loop: digits of the
# checkpoint-inherited sizeInBytes stat double per round, so 6 rounds
# cap the BigInt at ~64x its entry width — multiplication stays sub-ms
_CC_STATS_RESET_EVERY = 6
# connected_components: run the partition-local union-find contraction
# only past this many (directed) edge rows — below it the flat loop's
# few rounds cost less than the contraction's two extra
# materializations (same-boot A/B, round-16; see the inline comment)
_CC_CONTRACT_MIN_ROWS = 4096
# ...and below this many rows, skip the distributed loop entirely: the
# whole edge list fits ONE task, where the contraction's union-find is
# already the exact global answer (round-17 tiny-graph fast path; same
# 4096 default, so the flat loop band is empty in production — it stays
# reachable for tests that pin the loop/spill machinery by setting this
# to 0)
_CC_TINY_MAX_ROWS = 4096


def _cc_spill_dir(spark: SparkSession) -> tuple[str, bool]:
    """Spill location for the propagation stats-reset round-trip: the
    session's Spark checkpoint dir when one is set (on a real cluster
    that's a SHARED filesystem — a driver-local temp path is invisible
    to remote executors, and the re-read there would silently come
    back empty, making the loop see zero changes and return wrong
    labels), else a driver-local tempdir (exact on local[...] where
    driver and executors share one filesystem). Returns (path,
    is_local_temp)."""
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    if opt.isDefined():
        base = opt.get().rstrip("/")
        return f"{base}/pu_cc_spill_{uuid.uuid4().hex}", False
    return tempfile.mkdtemp(prefix="pu_cc_spill_"), True


def _rm_spill(spark: SparkSession, path: str, is_local: bool) -> None:
    """Remove the spill dir — Hadoop FS delete for checkpoint-dir
    locations (may be remote), shutil for the local tempdir. Cleanup
    never raises: it must not mask the error that aborted the loop."""
    if is_local:
        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        fs.delete(p, True)
    except Exception:
        pass


def connected_components(
    edges: DataFrame, max_iters: int = 50
) -> DataFrame:
    """Undirected connected components by min-label propagation: every
    node repeatedly takes the minimum label in its neighborhood until
    fixpoint — the component id is the minimum member id, so the result
    is the unique fixpoint regardless of iteration order (which is what
    lets a recursive-SQL oracle verify it).

    Each round is a node-keyed shuffle (neighbor min) plus a label-keyed
    shuffle (pointer jump — composing with the previous round's label
    map, which shortcuts descending label chains and measured 15 → 13
    rounds on the sf0.1 mutual-kNN graph); `materialize` truncates
    the lineage every round, and every `_CC_STATS_RESET_EVERY` rounds
    the label frame takes a parquet round-trip: Catalyst's
    size-in-bytes estimate for a join is the PRODUCT of its children's,
    and checkpoints PRESERVE the originating stats, so an iterative
    self-join doubles the BigInteger's digit count per round — by round
    ~20 the driver burns minutes in BigInteger.multiply (measured:
    2.7× per-round wall growth, thread pinned in multiplyToomCook3).
    The parquet re-read is the one lineage cut that also RESETS stats
    to the real file size — the same reason GraphFrames' connected
    components checkpoints to disk. At 100 TB point the spill at a
    shared filesystem; each round is still the two bounded shuffles
    over the N·k edge list."""
    # materialize the edge list once — every propagation round reuses it,
    # and without this the (possibly expensive) edge-producing pipeline
    # re-executes per round
    und = materialize(
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(
            edges.select(
                F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
            )
        )
    )
    # PARTITION-LOCAL CONTRACTION (round-16 optimization, the standard
    # two-phase CC prelude — cf. GraphFrames/GraphX local aggregation
    # before iteration): a union-find over each partition's edges maps
    # every node to its partition-local min root in ONE narrow Arrow
    # pass, so the propagation loop below runs on the ROOT graph —
    # roots co-appearing on a shared node — instead of the full edge
    # list. Components that never cross a partition boundary finish
    # here outright; the loop's round count drops from the component
    # diameter to the CONTRACTED diameter (measured, same-boot A/B at
    # sf0.1: the mutual-kNN graph's 13-round loop collapses, 4.75 s →
    # 0.88 s on `knn_components`; the labeling is the identical unique
    # fixpoint — min member id — regardless of phase split, which is
    # what the recursive-CTE oracle checks). Memory: the union-find
    # dict is bounded by one partition's node count — the edge frame's
    # partitioning, not the graph size, the same O(edges/partitions)
    # bound every mapPartitions op here already assumes.
    #
    # DATA-ADAPTIVE GATE: contraction is two extra materializations
    # (the Arrow pass + the root-edge checkpoint) — a fixed ~0.5 s
    # that only pays for itself once the loop it shortens is longer
    # than that. Tiny edge lists (the sf0.1 minhash dup graph: 256
    # edges, 4 flat rounds — measured +11% WITH contraction) keep the
    # flat loop; the count is free (the edge frame is already
    # checkpointed), and at any real corpus scale the edge list is
    # orders of magnitude past the gate, so the 100 TB path always
    # contracts.
    def _local_uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"].values, pdf["v"].values):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by MIN id: the surviving root is the
                    # smallest member seen, so phase-1 labels are
                    # already component-local minima
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {"n": nodes, "r": [find(x) for x in nodes]}
            )

    n_und = und.count()
    if n_und <= _CC_TINY_MAX_ROWS:
        # TINY-GRAPH FAST PATH (round-17): below the gate the whole
        # (already-materialized) edge list fits one task, so a single-
        # partition run of the SAME union-find used for contraction IS
        # the exact global fixpoint — union-by-min makes every final
        # root the component's min member. The propagation loop's 3-5
        # rounds of fixed per-round cost (two joins + checkpoint +
        # convergence count, ~0.3-0.5 s each at any data size) collapse
        # to one narrow Arrow pass. Same unique labeling (min member
        # id), pinned by test_components_partitioning_invariance across
        # all three paths; the gate is a row count, so any real corpus
        # graph takes the contraction+loop path below untouched.
        return (
            und.coalesce(1)
            .mapInPandas(_local_uf, "n long, r long")
            .select(
                F.col("n").alias("doc_id"),
                F.col("r").alias("component_id"),
            )
        )
    contract = n_und > _CC_CONTRACT_MIN_ROWS
    if contract:
        app = materialize(und.mapInPandas(_local_uf, "n long, r long"))
        # node -> its min local root (one row per node); root edges =
        # the other roots the node co-appears with (connectivity
        # witnesses between partitions — every original edge is inside
        # one partition, so cross-partition connectivity flows only
        # through shared nodes)
        labels0 = app.groupBy("n").agg(F.min("r").alias("r0"))
        redges = (
            app.join(labels0, "n")
            .filter(F.col("r") != F.col("r0"))
            .select(F.col("r0").alias("u"), F.col("r").alias("v"))
        )
        loop_und = materialize(
            redges.union(
                redges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        )
    else:
        labels0 = None
        loop_und = und
    # init fuses the first propagation round: lbl = min(own id, min
    # neighbor id) is one groupBy over the edge list — cheaper than a
    # full join round, and every node with an edge appears as a `u`
    labels = materialize(
        loop_und.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("n"),
            F.least(F.col("u"), F.col("mv")).alias("lbl"),
        )
    )
    spark = edges.sparkSession
    state = {"dir": None, "local": False}

    def _spill(frame: DataFrame, rnd: int) -> DataFrame:
        """Stats/lineage/object-graph hard reset (see docstring) with
        the cluster-safety checks the round-10 advisor asked for: the
        spill honors a configured Spark checkpoint dir (shared FS on a
        real cluster), and the re-read row count must equal the
        pre-spill count — a driver-local path invisible to remote
        executors would otherwise come back empty and the loop would
        return silently wrong labels."""
        if state["dir"] is None:
            state["dir"], state["local"] = _cc_spill_dir(spark)
        path = state["dir"].rstrip("/") + f"/round_{rnd}"
        n_before = frame.count()  # checkpointed blocks: cheap
        frame.write.mode("overwrite").parquet(path)
        reread = spark.read.parquet(path)
        n_after = reread.count()
        if n_after != n_before:
            raise RuntimeError(
                "connected_components spill round-trip lost rows "
                f"({n_before} -> {n_after}) at {path} — is the spill "
                "location visible to all executors? Set a shared "
                "sparkContext.setCheckpointDir on multi-node clusters."
            )
        return reread

    try:
        labels, converged = _cc_loop(
            spark, loop_und, labels, max_iters, _spill
        )
        if state["dir"] is not None and converged:
            # the surviving frame may lazily read the spill files —
            # pin the rows in block storage before deleting them
            labels = materialize(labels)
    finally:
        # an exception mid-round (or in the parquet write itself) must
        # not leak pu_cc_spill_* dirs (round-10 advisor)
        if state["dir"] is not None:
            _rm_spill(spark, state["dir"], state["local"])
    if not converged:
        # intermediate labels are WRONG dedup groups — never return them
        # silently; a >max_iters-diameter graph needs the star-contraction
        # variant, not more of this loop
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "min-label rounds (component diameter exceeds the bound)"
        )
    if labels0 is None:  # flat path: the loop labeled every node
        return labels.select(
            F.col("n").alias("doc_id"), F.col("lbl").alias("component_id")
        )
    # expand the converged ROOT labels back to every node: a root
    # absent from the root graph (its component never crossed a
    # partition boundary) keeps its phase-1 label, which is already
    # the component min
    return labels0.join(
        labels, labels0.r0 == labels.n, "left"
    ).select(
        labels0.n.alias("doc_id"),
        F.coalesce("lbl", "r0").alias("component_id"),
    )


def _cc_loop(spark, und, labels, max_iters, spill):
    """The propagation rounds of `connected_components` (split out so
    the caller can own spill-dir lifecycle in one try/finally). Returns
    (labels frame, converged flag)."""
    converged = False
    for i in range(max_iters):
        nbr = (
            und.join(labels, und.v == labels.n)
            .groupBy("u")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # one-hop neighbor min, then ONE POINTER JUMP: compose with the
        # round-start label map (lbl ← labels[lbl].lbl). A label is
        # always the id of a node in the same component (init = own id;
        # min/composition preserve it), so the jump stays in-component
        # and is non-increasing — the fixpoint argument is unchanged.
        # Measured 15 → 13 rounds on the sf0.1 mutual-kNN graph
        # (diameter ~14). MORE jumps were tried and REJECTED (round-16
        # optimization measurement): each extra jump join adds two
        # exchanges of sequential stage latency per round, and
        # composing with the round-START map has fast-diminishing
        # shortcut value — 3 jumps measured the sf0.1 mutual-kNN loop
        # at 3.8 s vs 2.8 s for one.
        cur = labels.join(nbr, labels.n == nbr.u, "left").select(
            "n",
            F.col("lbl").alias("prev"),
            F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias(
                "h"
            ),
        )
        m = labels.select(F.col("n").alias("m"), F.col("lbl").alias("ml"))
        cur = cur.join(m, cur.h == F.col("m"), "left").select(
            "n",
            "prev",
            F.least(F.col("h"), F.coalesce(F.col("ml"), F.col("h"))).alias(
                "h"
            ),
        )
        # the did-it-change flag rides INSIDE the frame the round
        # checkpoints anyway, so convergence detection is a predicate
        # count over checkpointed blocks — not the extra shuffle join
        # of new-vs-old labels each round previously paid
        stepped = materialize(
            cur.select(
                "n",
                F.col("h").alias("lbl"),
                (F.col("h") < F.col("prev")).alias("chg"),
            )
        )
        labels = stepped.select("n", "lbl")
        if stepped.filter("chg").count() == 0:
            converged = True
            break
        if (i + 1) % _CC_STATS_RESET_EVERY == 0:
            labels = spill(labels, i)
    return labels, converged


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *groups* (what dedup actually deletes against): connected
    components over the verified MinHash near-dup pairs. Component id =
    the minimum doc_id, i.e. the canonical survivor."""
    return connected_components(q_minhash_near_dup(spark, sf_dir))


def q_quality_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY, not position: real pipelines keep
    the best document of each near-dup cluster (highest quality score),
    not the one with the smallest id — a crawl's earliest copy is often
    the worst one. Composes the dup components with the text-quality
    scorer: every doc gets its component (singletons are their own), the
    per-component canonical is the argmax of (quality, then smaller id
    as the tiebreak), and `keep` marks the survivors.

    Determinism: the score is quantized to floor(score * 1e6) BEFORE the
    argmax, so canonical selection is integer-exact and cross-engine
    stable even at quality ties. The argmax itself is a partial-
    aggregable integer struct max (map-side combinable) — no window over
    the corpus.

    At 100 TB: the dup-pair machinery is the LSH pipeline above (banded,
    df-capped); on top of it this adds one equi-join of documents with
    the (smaller) component map and one groupBy(component) — both plain
    key shuffles, nothing data-sized beyond them. `full` is deliberately
    NOT cached: the component map is already materialized
    inside `connected_components`, so recomputing `full` for the second
    consumer is a pushed-down column scan + scalar scoring — far cheaper
    at corpus scale than pinning a corpus-sized frame in executor memory
    for the lifetime of a 150-query sweep."""
    from parallelutilities_jl_spark.operators.text import quality_parts

    comp = q_dedup_components(spark, sf_dir)
    docs = load_table_parallel(spark, sf_dir, "documents")
    _, _, score = quality_parts(F.col("text"))
    scored = docs.select(
        "doc_id", F.floor(score * 1e6).cast("long").alias("score_q6")
    )
    full = (
        scored.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias(
                "component_id"
            ),
            "score_q6",
        )
    )
    canon = (
        full.groupBy("component_id")
        .agg(
            F.max(
                F.struct(
                    F.col("score_q6"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("m")
        )
        .select(
            "component_id", (-F.col("m.neg_id")).alias("canonical_doc_id")
        )
    )
    return full.join(canon, "component_id").select(
        "doc_id",
        "component_id",
        "canonical_doc_id",
        "score_q6",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("keep"),
    )


# deterministic stand-in for a tombstone table: the "forget" request
# set is every 13th doc_id. In production the predicate is a broadcast
# anti/semi-join against the actual tombstone ids — same plan shape
# (the tombstone set is request-sized, never corpus-sized).
FORGET_MOD = 13
# argmax-with-tiebreak as ONE int64: key = score_q6 * 2^40 - doc_id
# (score_q6 <= 1e6, so the product tops out ~1.1e18 < 2^63; doc_id
# must stay under 2^40 — the x10 stress ids reach ~1e8)
_FC_KEYSPACE = 1 << 40


def q_forget_cascade_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten CASCADE through dedup state: when a
    forget request deletes documents, every dup cluster whose
    QUALITY-CANONICAL representative is deleted must elect a new
    canonical from the surviving members (the derived keep/canonical
    artifacts are state that must be repaired, not recomputed from
    scratch). Emits, per affected component (>= 1 forgotten member):
    member/forgotten counts, the old canonical, the re-elected
    canonical over survivors (NULL when the whole cluster is
    forgotten), and whether the canonical changed.

    The re-election reuses the exact integer argmax of
    `quality_canonical_dedup` — (score_q6 DESC, doc_id ASC) encoded as
    the single int64 key score_q6*2^40 - doc_id, so MAX(key) over the
    survivors is the new canonical and both engines decode the same
    winner by ceil-div.

    Scale shape: everything above the final agg is the LSH + component
    machinery this plan repairs; the cascade itself adds ONE
    component-keyed map-side-combinable aggregation over the per-doc
    frame — no new corpus-sized shuffle, no window."""
    base = q_quality_canonical_dedup(spark, sf_dir)
    forgotten = (F.col("doc_id") % FORGET_MOD) == 0
    key = F.col("score_q6") * F.lit(_FC_KEYSPACE) - F.col("doc_id")
    agg = (
        base.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(forgotten.cast("long")).alias("n_forgotten"),
            # canonical_doc_id is constant within a component; MAX is
            # just the cheapest way to carry it through the agg
            F.max("canonical_doc_id").alias("old_canonical"),
            F.max(F.when(~forgotten, key)).alias("nk"),
        )
        .filter(F.col("n_forgotten") >= 1)
    )
    new_canon = F.expr(
        f"((nk + {_FC_KEYSPACE - 1}) div {_FC_KEYSPACE})"
        f" * {_FC_KEYSPACE} - nk"
    ).cast("long")
    return agg.select(
        "component_id",
        "n_members",
        "n_forgotten",
        "old_canonical",
        new_canon.alias("new_canonical"),
        (F.col("nk").isNull() | (new_canon != F.col("old_canonical"))).alias(
            "canonical_changed"
        ),
    )


def _oracle_forget_cascade() -> str:
    k = _FC_KEYSPACE
    return f"""
WITH base AS ({_oracle_quality_canonical()}),
agg AS (SELECT component_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN doc_id % {FORGET_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_forgotten,
               MAX(canonical_doc_id) AS old_canonical,
               MAX(CASE WHEN doc_id % {FORGET_MOD} <> 0
                        THEN score_q6 * {k} - doc_id END) AS nk
        FROM base GROUP BY 1)
SELECT component_id, n_members, n_forgotten, old_canonical,
       CAST(((nk + {k - 1}) // {k}) * {k} - nk AS BIGINT) AS new_canonical,
       (nk IS NULL)
         OR (((nk + {k - 1}) // {k}) * {k} - nk) <> old_canonical
         AS canonical_changed
FROM agg WHERE n_forgotten >= 1
"""


def _oracle_components() -> str:
    """Recursive transitive closure reaches the same unique fixpoint the
    propagation loop converges to."""
    edge_sql = _oracles()["minhash_near_dup"]
    return f"""
WITH RECURSIVE
e2 AS (SELECT doc_a, doc_b FROM ({edge_sql})),
und AS (SELECT doc_a AS u, doc_b AS v FROM e2
        UNION ALL SELECT doc_b, doc_a FROM e2),
reach(n, m) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.n, und.v FROM reach r JOIN und ON r.m = und.u
)
SELECT n AS doc_id, MIN(m) AS component_id FROM reach GROUP BY n
"""


def _oracle_quality_canonical() -> str:
    """Same transitive closure as `_oracle_components`, then the same
    quantized-quality argmax (ROW_NUMBER over score_q6 DESC, doc_id ASC
    == the integer struct max on the Spark side)."""
    from parallelutilities_jl_spark.operators.text import dd_quality_score

    edge_sql = _oracles()["minhash_near_dup"]
    q6 = f"CAST(FLOOR(({dd_quality_score('text')}) * 1000000) AS BIGINT)"
    return f"""
WITH RECURSIVE
e2 AS (SELECT doc_a, doc_b FROM ({edge_sql})),
und AS (SELECT doc_a AS u, doc_b AS v FROM e2
        UNION ALL SELECT doc_b, doc_a FROM e2),
reach(n, m) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.n, und.v FROM reach r JOIN und ON r.m = und.u
),
comp AS (SELECT n AS doc_id, MIN(m) AS component_id FROM reach GROUP BY n),
scored AS (SELECT doc_id, {q6} AS score_q6 FROM documents),
fulld AS (SELECT s.doc_id,
                 COALESCE(c.component_id, s.doc_id) AS component_id,
                 s.score_q6
          FROM scored s LEFT JOIN comp c ON s.doc_id = c.doc_id),
canon AS (SELECT component_id, doc_id AS canonical_doc_id FROM fulld
          QUALIFY ROW_NUMBER() OVER (PARTITION BY component_id
                  ORDER BY score_q6 DESC, doc_id ASC) = 1)
SELECT f.doc_id, f.component_id, c.canonical_doc_id, f.score_q6,
       f.doc_id = c.canonical_doc_id AS keep
FROM fulld f JOIN canon c USING (component_id)
"""


_DD_CONTAINMENT_TAIL = f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT doc_a, doc_b, COUNT(*) AS ni
          FROM cand JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
          GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, ni,
       CAST(FLOOR(CAST(ni AS DOUBLE) / LEAST(x.n, y.n) * 1000000) AS BIGINT)
         AS containment_q6
FROM inter JOIN sizes x ON x.doc_id = doc_a
JOIN sizes y ON y.doc_id = doc_b
WHERE CAST(ni AS DOUBLE) / LEAST(x.n, y.n) >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Power iteration over the dup graph (PageRank)
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_SCALE = 10**12  # unnormalized uniform init mass per node
PR_TELEPORT = PR_SCALE * 15 // 100  # 0.15 · init, exact integer
PR_OUT_DEG = 2


def q_link_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PageRank — document centrality over a link
    graph, the importance signal crawl-based corpus curation weights
    quality by. Fixed {PR_ITERS} iterations, damping 0.85. The fixture
    has no hyperlinks (and the near-dup graph degenerates to isolated
    pairs, where PageRank is uniform by symmetry), so — like the PII
    scrub's seeded contacts — the citation edges are synthesized
    deterministically: each doc links to {PR_OUT_DEG} targets at
    `md5("lnk"‖doc_id‖":"‖j) mod N` (md5 is non-linear, so in-degrees
    are Poisson-spread — some 0, some 5+ — and ranks genuinely
    differentiate; an affine `(a·doc_id+j) mod N` map is a bijection
    and collapses PageRank back to uniform), identically in both
    engines.

    Engine-exact by construction: ranks are unnormalized int64 mass
    (init {PR_SCALE} per node), each update is
    `teleport + (17·Σ(r_u div outdeg_u)) div 20` — integer division and
    sums only, so every engine and combine order produces identical
    ranks (no float mass anywhere; both engines' integer `div` agree on
    the all-positive operands). Spark shape: each round is one
    groupBy(dst) shuffle of the edge list joined against the rank
    frame; the whole {PR_ITERS}-round recursion is ONE lazy plan — no
    driver state, no collect (contrast with the driver-held-model loops
    of kmeans/BPE: rank state is corpus-sized, so it must stay on the
    cluster). At corpus scale mass totals are bounded by ~N·{PR_SCALE}
    ·17 — scale PR_SCALE down with N to stay inside int64 (ranks are
    relative)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    def _target(j: int) -> Column:
        key = F.concat(
            F.lit("lnk"),
            F.col("doc_id").cast("string"),
            F.lit(f":{j}"),
        )
        return TH.md5_int48(key) % F.col("n")

    # checkpoint the static frames once: every round re-references edges
    # and deg, and without truncation Spark replans (and re-executes)
    # the edge synthesis + 1-row count broadcast per round — the classic
    # iterative-lineage blowup (27 exchanges → 9 at 3 rounds here)
    edges = materialize(
        docs.crossJoin(F.broadcast(n)).select(
            F.col("doc_id").alias("u"),
            F.explode(
                F.array(
                    *[
                        _target(j).alias("v")
                        for j in range(1, PR_OUT_DEG + 1)
                    ]
                )
            ).alias("v"),
        )
    )
    deg = materialize(edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    r = docs.select(
        F.col("doc_id").alias("u"),
        F.lit(PR_SCALE).cast("long").alias("r"),
    )
    for _ in range(PR_ITERS):
        contrib = (
            r.join(deg, "u")
            .select("u", F.expr("r div deg").alias("c"))
            .join(edges, "u")
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        r = docs.join(
            contrib, docs["doc_id"] == contrib["v"], "left"
        ).select(
            F.col("doc_id").alias("u"),
            (
                F.lit(PR_TELEPORT).cast("long")
                + F.expr("(17 * coalesce(s, 0)) div 20")
            ).alias("r"),
        )
    return r.select(F.col("u").alias("doc_id"), F.col("r").alias("rank"))


def _oracle_pagerank(iters: int = PR_ITERS) -> str:
    links = " UNION ALL ".join(
        "SELECT doc_id AS u, "
        + TH.dd_md5_int48(
            f"('lnk' || CAST(doc_id AS VARCHAR) || ':{j}')"
        )
        + " % nn.n AS v FROM documents, nn"
        for j in range(1, PR_OUT_DEG + 1)
    )
    ctes = [
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)",
        f"e AS ({links})",
        "deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u)",
        f"r0 AS (SELECT doc_id AS u, CAST({PR_SCALE} AS BIGINT) AS r "
        "FROM documents)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"s{i} AS (SELECT e.v AS u, SUM(p.r // d.deg) AS s "
            f"FROM e JOIN r{i - 1} p ON p.u = e.u "
            f"JOIN deg d ON d.u = e.u GROUP BY e.v)"
        )
        ctes.append(
            f"r{i} AS (SELECT d.doc_id AS u, CAST({PR_TELEPORT} + "
            f"(17 * COALESCE(s.s, 0)) // 20 AS BIGINT) AS r "
            f"FROM documents d LEFT JOIN s{i} s ON s.u = d.doc_id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT u AS doc_id, r AS rank FROM r{iters}"
    )


TRI_OUT_DEG = 3  # denser than PR_OUT_DEG so E[triangles] ≈ 36 > 0 at any N


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting + global clustering coefficient
    over the synthesized citation graph (same md5 edge synthesis as
    `link_graph_pagerank`, out-degree {TRI_OUT_DEG}) — the graph-motif
    census behind community/spam structure analysis of a crawl. The
    MapReduce-classic formulation (Suri & Vassilvitskii, WWW'11):
    canonicalize to undirected id-oriented edges (a < b), join wedges
    a–b–c on the middle vertex, close them against the edge list on
    (a, c). Random-graph expectation makes the answer scale-invariant
    (E[tri] ≈ (2·outdeg)³/6 regardless of N), so the census is
    non-vacuous at every SF.

    Scale shape: two equi-joins + two aggs over the edge list — no
    cartesian, no sort. Id-orientation (a<b<c) counts each triangle
    exactly once and bounds the wedge join by per-vertex out-wedges; on
    a skewed real graph you'd orient by (degree, id) so hubs generate
    no wedges (same join shape, documented swap). Wedges are
    Σ C(deg,2) via an exact integer agg; `closed_e6` =
    floor(3·tri·10⁶ / wedges) keeps the coefficient engine-exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    targets = [
        TH.md5_int48(
            F.concat(
                F.lit("lnk"),
                F.col("doc_id").cast("string"),
                F.lit(f":{j}"),
            )
        )
        % F.col("n")
        for j in range(1, TRI_OUT_DEG + 1)
    ]
    # materialized: the edge synthesis runs once for its 4 consumers
    # (wedge join ×2, degrees, edge count)
    und = materialize(
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("u"),
            F.explode(F.array(*targets)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"),
            F.greatest("u", "v").alias("b"),
        )
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    ).alias("e2")
    e3 = und.select(
        F.col("a").alias("a3"), F.col("b").alias("c3")
    ).alias("e3")
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n.crossJoin(counts)
        .crossJoin(wedges)
        .crossJoin(tri)
        .select(
            F.col("n").alias("n_nodes"),
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.expr("(3 * n_triangles * 1000000) div n_wedges"),
            ).alias("closed_e6"),
        )
    )


def _oracle_triangles() -> str:
    links = " UNION ALL ".join(
        "SELECT doc_id AS u, "
        + TH.dd_md5_int48(f"('lnk' || CAST(doc_id AS VARCHAR) || ':{j}')")
        + " % nn.n AS v FROM documents, nn"
        for j in range(1, TRI_OUT_DEG + 1)
    )
    return f"""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
raw AS ({links}),
und AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
        FROM raw WHERE u <> v),
tri AS (SELECT COUNT(*) AS n_triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
deg AS (SELECT x, COUNT(*) AS d FROM (
          SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und)
        GROUP BY x),
wed AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg),
ec AS (SELECT COUNT(*) AS n_edges FROM und)
SELECT nn.n AS n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN (3 * n_triangles * 1000000) // n_wedges END AS closed_e6
FROM nn CROSS JOIN ec CROSS JOIN wed CROSS JOIN tri
"""


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication accounting — "which crawl is dirtiest",
    the number a pipeline run reports before deciding where to spend
    recrawl budget. A document is *redundant* if it sits in a near-dup
    component and is not its canonical (min-id) member; the rate is
    floor(redundant·10⁶ / docs) — exact int division, engine-stable.

    Scale shape: rides the LSH component map (banded, df-capped) with
    one left join of the corpus against the much smaller component
    table and one per-source agg — the same budget as
    `quality_canonical_dedup`."""
    comp = q_dedup_components(spark, sf_dir)
    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    flags = docs.join(comp, "doc_id", "left").select(
        "source",
        F.col("component_id").isNotNull().cast("long").alias("in_group"),
        (
            F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col("doc_id"))
        )
        .cast("long")
        .alias("redundant"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("in_group").alias("n_in_dup_groups"),
            F.sum("redundant").alias("n_redundant"),
        )
        .select(
            "source",
            "n_docs",
            "n_in_dup_groups",
            "n_redundant",
            F.expr("(n_redundant * 1000000) div n_docs").alias(
                "dup_rate_e6"
            ),
        )
    )


def _oracle_dedup_rate_by_source() -> str:
    edge_sql = _oracles()["minhash_near_dup"]
    return f"""
WITH RECURSIVE
e2 AS (SELECT doc_a, doc_b FROM ({edge_sql})),
und AS (SELECT doc_a AS u, doc_b AS v FROM e2
        UNION ALL SELECT doc_b, doc_a FROM e2),
reach(n, m) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.n, und.v FROM reach r JOIN und ON r.m = und.u
),
comp AS (SELECT n AS doc_id, MIN(m) AS component_id FROM reach GROUP BY n),
flags AS (
  SELECT d.source,
         CASE WHEN c.component_id IS NOT NULL THEN 1 ELSE 0 END
           AS in_group,
         CASE WHEN c.component_id IS NOT NULL
                   AND c.component_id <> d.doc_id THEN 1 ELSE 0 END
           AS redundant
  FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(in_group) AS BIGINT) AS n_in_dup_groups,
       CAST(SUM(redundant) AS BIGINT) AS n_redundant,
       (CAST(SUM(redundant) AS BIGINT) * 1000000) // COUNT(*)
         AS dup_rate_e6
FROM flags GROUP BY source
"""


# --- streaming ingest dedup (signature-estimate, arrival-ordered) ----

STREAM_STATE_CAP = 16  # stored signatures per band bucket (stream state)
SIG_MATCH_MIN = 8  # matching minhash components (of 16) ≈ Jaccard ≥ 0.5


def sig_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N_HASHES-1}) minhash-signature frame from any
    (doc_id, text) frame as a ZERO-SHUFFLE narrow map (the
    `minhash_per_doc` scheme without its shingle-set columns) — narrow
    ops only, so it is STREAM-SAFE: the streaming ingest-dedup operator
    applies it to a readStream of documents unchanged."""
    return _with_signature(shingle_sets(docs)).drop("shs", "n")


def q_stream_sig_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity of the streaming ingest near-dup screen
    (`streaming.stateful.sig_dedup_stream`): documents arrive in doc_id
    order; a document is a dup iff some EARLIER document (smaller
    doc_id) shares an LSH band bucket in which that earlier document
    was among the first STREAM_STATE_CAP arrivals (the stream's
    bounded per-bucket state), and their signatures agree on >=
    SIG_MATCH_MIN of N_HASHES minhash components (the estimated-
    Jaccard confirm — the stream never stores shingle sets, only the
    O(16)-int signature, so state per bucket is O(cap*16) forever).
    Emits (doc_id, dup_of = min matching earlier doc, max_matches).

    At 100 TB: signature build is a narrow map; the bucket rank is a
    window over band-bucket partitions (the same key space the LSH
    join shuffles on); candidates are bucket-bounded by construction —
    every earlier-side doc has rank <= cap, so fan-out per (bucket,
    late-doc) is <= cap, never quadratic in bucket size."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents")
    sig = sig_frame(docs)
    bands = lsh_bands(sig)
    rk = bands.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("band", "key").orderBy("doc_id")
        ),
    )
    early = rk.filter(F.col("rn") <= STREAM_STATE_CAP).select(
        F.col("doc_id").alias("early_id"), "band", "key"
    )
    cand = (
        bands.join(early, ["band", "key"])
        .filter(F.col("early_id") < F.col("doc_id"))
        .select("doc_id", "early_id")
        .distinct()
    )
    a = sig.select(
        "doc_id",
        *[F.col(f"h{i}").alias(f"ah{i}") for i in range(N_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("early_id"),
        *[F.col(f"h{i}").alias(f"bh{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"ah{i}") == F.col(f"bh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    ).cast("long")
    scored = (
        cand.join(a, "doc_id")
        .join(b, "early_id")
        .select("doc_id", "early_id", matches.alias("matches"))
        .filter(F.col("matches") >= SIG_MATCH_MIN)
    )
    return scored.groupBy("doc_id").agg(
        F.min("early_id").alias("dup_of"),
        F.max("matches").alias("max_matches"),
    )


def _oracle_stream_sig_dedup() -> str:
    msum = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return (
        f"WITH {_dd_shingle_cte()}, {_dd_sig_cte()}, {_dd_bands_cte()}, "
        "rk AS (SELECT doc_id, band, key, ROW_NUMBER() OVER "
        "(PARTITION BY band, key ORDER BY doc_id) AS rn FROM bands), "
        "cand AS (SELECT DISTINCT l.doc_id AS doc_id, e.doc_id AS early_id "
        "FROM bands l JOIN rk e ON e.band = l.band AND e.key = l.key "
        f"AND e.doc_id < l.doc_id AND e.rn <= {STREAM_STATE_CAP}), "
        f"m AS (SELECT c.doc_id, c.early_id, CAST({msum} AS BIGINT) AS matches "
        "FROM cand c JOIN sig a ON a.doc_id = c.doc_id "
        "JOIN sig b ON b.doc_id = c.early_id) "
        "SELECT doc_id, MIN(early_id) AS dup_of, MAX(matches) AS max_matches "
        f"FROM m WHERE matches >= {SIG_MATCH_MIN} GROUP BY doc_id"
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_rate_by_source": q_dedup_rate_by_source,
    "stream_sig_dedup": q_stream_sig_dedup,
    "link_graph_pagerank": q_link_graph_pagerank,
    "triangle_count": q_triangle_count,
    "dedup_eval_confusion": q_dedup_eval_confusion,
    "containment_dups": q_containment_dups,
    "incremental_dedup": q_incremental_dedup,
    "minhash_near_dup": q_minhash_near_dup,
    "minhash_signature": q_minhash_signature,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "dedup_threshold_sensitivity": q_dedup_threshold_sensitivity,
    "lsh_banding_plan": q_lsh_banding_plan,
    "simhash_fingerprint": q_simhash_fingerprint,
    "simhash_near_dup": q_simhash_near_dup,
    "simhash_hamming_census": q_simhash_hamming_census,
    "dedup_components": q_dedup_components,
    "quality_canonical_dedup": q_quality_canonical_dedup,
    "forget_cascade_plan": q_forget_cascade_plan,
}

ORACLES = _oracles()
ORACLES["stream_sig_dedup"] = _oracle_stream_sig_dedup()
ORACLES["dedup_threshold_sensitivity"] = _oracle_threshold_sensitivity()
ORACLES["lsh_banding_plan"] = _oracle_lsh_banding()
ORACLES["dedup_components"] = _oracle_components()
ORACLES["link_graph_pagerank"] = _oracle_pagerank()
ORACLES["triangle_count"] = _oracle_triangles()
ORACLES["dedup_eval_confusion"] = _oracle_eval_confusion()
ORACLES["dedup_rate_by_source"] = _oracle_dedup_rate_by_source()
ORACLES["quality_canonical_dedup"] = _oracle_quality_canonical()
ORACLES["forget_cascade_plan"] = _oracle_forget_cascade()
ORACLES["containment_dups"] = (
    f"WITH {_dd_shingle_cte()}, {_dd_sig_cte()}, {_dd_bands_cte()}, "
    f"bok AS (SELECT band, key FROM bands GROUP BY band, key "
    f"HAVING COUNT(*) <= {MAX_LSH_BUCKET}), "
    "bandsf AS (SELECT bands.* FROM bands JOIN bok USING (band, key)), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.key = b.key "
    "AND a.doc_id < b.doc_id), "
    + _DD_CONTAINMENT_TAIL
)
