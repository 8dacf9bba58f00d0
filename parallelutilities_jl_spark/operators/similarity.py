"""Similarity search over the `embeddings` fixture (array<float>, 64-d) —
approximate-nearest-neighbor surface for the training-data pipeline
(BASELINE.json north star; SURVEY §7 phase 5).

Three tiers, all oracle-checked:

* **brute-force cosine top-k** — the baseline: broadcast the query set,
  JVM-side dot products via `aggregate(zip_with(*))` (no Python in the
  loop), window top-k per query.
* **IVF top-k** — the scale path: candidates restricted to the query's
  coarse cell (the fixture's `label` column stands in for the nearest
  centroid id; on a real corpus the cells come from a k-means fit). Equi
  join on cell → per-cell linear scan → top-k: shuffle is O(cell size),
  not O(corpus).
* **LSH-bucket cosine** — random-hyperplane signs (deterministic axis
  hyperplanes over the first 8 dims, so both engines agree) → 8-bit
  bucket → equi-join on bucket.

At 100 TB: brute force is O(Q × N) and exists as the correctness oracle;
IVF/LSH turn the candidate set into an equi-join key, which is the only
ANN layout that shuffles well. Norms are precomputed once per side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from parallelutilities_jl_spark.session import materialize, resident
from parallelutilities_jl_spark.sources.fixtures import load_table

N_QUERIES = 5
TOP_K = 5


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared embedding loader. NULL embedding rows are EXCLUDED — a
    NULL vector carries no direction or distance (the embedding analog
    of NULL-text docs dropping from the fingerprint tier). The DuckDB
    oracles drop them implicitly wherever they UNNEST the vector; the
    explicit filter keeps row-census queries (norm stats, cell
    censuses, k-means assignments) in agreement too — pinned by
    tests/test_null_embeddings_corpus.py on a NULL-bearing corpus the
    fixtures can't reach."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    )


# Quantization scale for cross-engine-exact dot products. A double sum's
# value depends on combine order, and Spark's sequential fold vs DuckDB's
# grouped SUM need not agree in the last ulp — which flips thresholds and
# ROUNDs at boundaries (float-parity policy). Quantizing each IEEE
# product term to an int64 (`floor(x*y*S)` is bit-deterministic in both
# engines) makes the sum exact and order-independent, so every engine
# computes the *identical* cosine double. Range: |v| <= ~0.6, 64 dims →
# |sum of terms| <= ~0.4*64*S ≈ 2.6e17 << 2^63.
DOT_SCALE = int(1e16)


def dot(a: Column, b: Column) -> Column:
    """JVM-side quantized dot product: left fold over zip_with — whole-
    stage codegen'd, no UDF. Returns SUM(floor(x*y*S)) as int64; divide
    by DOT_SCALE for the real-valued dot."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor((x * y) * F.lit(float(DOT_SCALE))),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """sqrt of the quantized self-dot: sqrt(int64→double) is correctly
    rounded IEEE in both engines, so norms are bit-identical too (units:
    sqrt(S)·||a||; the S factors cancel in dot/(na*nb))."""
    return F.sqrt(dot(a, a).cast("double"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    # score reported as floor(cos*1e6): FLOOR acts on the binary double
    # (bit-identical across engines, see DOT_SCALE) — unlike ROUND, whose
    # Spark shortest-repr-HALF_UP vs DuckDB binary-value semantics can
    # differ on the same bits (float-parity policy)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "qid",
            "cid",
            F.floor(F.col("cos") * F.lit(1e6)).alias("score_e6"),
            "rnk",
        )
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 5: broadcast
    queries × all candidates; the baseline every ANN tier is checked
    against."""
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qe"), F.col("ce"))
                / (norm(F.col("qe")) * norm(F.col("ce")))
            ).alias("cos"),
        )
    )
    return _topk(scored, TOP_K)


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query vector, the top-{TOP_K} most-similar candidates whose label
    DIFFERS — the near-miss negatives that make a contrastive batch
    informative (in-batch random negatives are too easy; the highest-
    cosine wrong-label neighbors are the training signal, per the dense
    retrieval literature, e.g. ANCE arXiv:2007.00808).

    Scale shape: identical to the brute-force cosine baseline (broadcast
    query set × candidate scan, quantized-int64 dot products, per-query
    window top-k) with the label-mismatch predicate pushed into the scan
    — at 100 TB you'd swap the candidate scan for the IVF/LSH tier
    exactly as `ann_ivf_topk` does; the mining predicate is unchanged."""
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("emb").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("emb").alias("ce"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("cid") != F.col("qid"))
            & (F.col("clabel") != F.col("qlabel"))
        )
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qe"), F.col("ce"))
                / (norm(F.col("qe")) * norm(F.col("ce")))
            ).alias("cos"),
        )
    )
    return _topk(scored, TOP_K)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: search only the query's coarse cell (label) — candidate
    generation becomes an equi-join on the cell id."""
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("cell"),
        F.col("emb").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("cell"),
        F.col("emb").alias("ce"),
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qe"), F.col("ce"))
                / (norm(F.col("qe")) * norm(F.col("ce")))
            ).alias("cos"),
        )
    )
    return _topk(scored, 3)


def _bucket_expr(emb: Column) -> Column:
    """8-bit random-hyperplane signature: bit j = sign(v[j]) for the first
    8 dims (deterministic 'hyperplanes', identical in both engines)."""
    out = F.lit(0)
    for j in range(8):
        out = out + F.when(emb[j] > 0, F.lit(1 << j)).otherwise(0)
    return out.cast("long")


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH: bucket on sign bits, search within bucket."""
    emb = _emb_double(spark, sf_dir).withColumn(
        "bucket", _bucket_expr(F.col("emb"))
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("bucket"), F.col("emb").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("bucket"),
        F.col("emb").alias("ce"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qe"), F.col("ce"))
                / (norm(F.col("qe")) * norm(F.col("ce")))
            ).alias("cos"),
        )
    )
    return _topk(scored, 3)


COSINE_DUP_THRESHOLD = 0.4  # fixture embeddings are random: max pair ≈ 0.51

# banded hyperplane LSH for the cosine-dedup tier: 8 bands × 8 sign bits
# (all 64 dims as deterministic axis hyperplanes, identical in both
# engines). Banding is what buys recall: a near-dup pair only needs to
# agree on ONE band's 8 bits, not on all 64 — the same AND-OR trade as
# MinHash banding. 8 bits/band keeps the random-collision rate per band
# at 1/256 (vs 1/16 for 4 bits — which made ~25% of ALL pairs collide,
# i.e. a quadratic candidate set in disguise) while a true near-dup at
# cos ≥ 0.9 still agrees on some band ≈ 93% of the time
# (p_bit = 1 − acos(0.9)/π ≈ 0.856, 1 − (1 − p⁸)⁸). At corpus scale,
# learned (data-dependent) hyperplanes per band raise recall further.
COS_BANDS = 8
COS_BITS_PER_BAND = 8
# an 8-bit band key means buckets average N/256 — the self-join is
# quadratic unbounded without a cap (same guard as the MinHash/SimHash
# tiers, mirrored in the oracle; no fixture bucket comes near it)
COS_MAX_BUCKET = 2_000


def _cos_band_entries(emb: Column) -> Column:
    """array<struct<band,key>>: per-band sign-bit bucket keys."""
    entries = []
    for b in range(COS_BANDS):
        key = F.lit(0)
        for j in range(COS_BITS_PER_BAND):
            key = key + F.when(
                emb[b * COS_BITS_PER_BAND + j] > 0, F.lit(1 << j)
            ).otherwise(0)
        entries.append(
            F.struct(
                F.lit(b).cast("long").alias("band"),
                key.cast("long").alias("key"),
            )
        )
    return F.array(*entries)


# τ-pushdown pre-quantizer (round-13, mirroring the round-12 exact-
# integer Jaccard pushdown): each dim drops to the 2^-10 grid,
# t_j = floor(e_j·2^10), before the verify join. Writing e_j·P = t_j +
# f_j with f_j ∈ [0,1) and expanding Σ(ta+fa)(tb+fb) gives the EXACT
# upper bound
#     P²·Σ ea_j·eb_j  ≤  Σ ta·tb + Σ|ta| + Σ|tb| + D
# and the floor-quantized dot the exact filter runs on obeys
# Dq = Σ floor(ea·eb·S) ≤ S·Σ ea·eb, so
#     Dq  ≤  S/P² · (Σ ta·tb + l1a + l1b + D)   (D = dim).
# Everything on the right is int64-exact from per-vector precomputed
# columns (the 1e-12 slack factors at the comparison absorb the two
# double roundings in the constant multiply), so pruning on it can
# NEVER drop a true survivor — candidates failing the bound are
# discarded on the compact int sketch before the 64-d double arrays
# are ever joined or the floor-fold evaluated. The l1 slack costs
# (l1a+l1b+D)/P²/(‖a‖‖b‖) ≈ 0.01 of cosine, so only candidates
# within ~0.01 of τ survive pruning without surviving the exact
# filter.
COS_PRESCALE = 1 << 10
_PRE_TO_DOT = float(DOT_SCALE) / float(COS_PRESCALE * COS_PRESCALE)


def _prequant(emb: Column) -> Column:
    """array<int> sketch floor(e_j·2^10) — 4 B/dim vs the 8 B/dim
    double array, and integer products downstream (no floor per
    element)."""
    return F.transform(
        emb,
        lambda v: F.floor(v * F.lit(float(COS_PRESCALE))).cast("int"),
    )


def _preq_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup tier of the ANN
    surface): candidate pairs from a banded hyperplane-LSH self-join,
    then the exact-integer τ bound pruned on compact int16-grid
    sketches (see COS_PRESCALE above), then EXACT cosine ≥ τ verified
    on the pruned survivors only.

    This is the 100 TB shape: candidate generation is an equi-join on
    (band, key) — shuffle linear in bucket sizes, with buckets above
    COS_MAX_BUCKET dropped before the join (8-bit keys average N/256
    docs per bucket, so the join is quadratic unbounded without the
    cap; mirrored in the oracle) — the τ-pushdown means wall tracks
    SURVIVORS rather than the candidate fan-out (the random same-
    bucket pairs that dominate candidates at scale die on the int
    sketch, ~260 B/side, never touching the 512 B double arrays or
    the per-element floor fold) — and the O(N²) dot products never
    happen (an earlier all-pairs broadcast nested-loop form was the
    slowest bench query and would be 10,000× the compute at 100× the
    data). `embedding_cosine_exact` below keeps the exact all-pairs
    semantics on a bounded sample as the recall verifier; the
    diversity/QA censuses stay unthresholded by design."""
    from pyspark.sql.window import Window as W

    emb = (
        _emb_double(spark, sf_dir)
        .withColumn("nrm", norm(F.col("emb")))
        .withColumn("pq", _prequant(F.col("emb")))
        .withColumn(
            "pl1",
            F.aggregate(
                F.transform("pq", lambda v: F.abs(v.cast("long"))),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    # band rows CARRY the int sketch (pq, pl1, nrm ≈ 270 B — explode
    # fan-out is only COS_BANDS×) so the τ bound evaluates INSIDE the
    # band self-join stage: a pruned pair dies before any exchange —
    # no pair-level distinct shuffle, no per-pair sketch lookup joins.
    # At the ×10 stress tier this is the difference between shuffling
    # the 6.3M-candidate fan-out and shuffling the ~0.1M survivors.
    bands = emb.select(
        "vec_id",
        "pq",
        "pl1",
        "nrm",
        F.explode(_cos_band_entries(F.col("emb"))).alias("e"),
    ).select("vec_id", "pq", "pl1", "nrm", "e.band", "e.key")
    # bucket cap rides the same (band, key) shuffle the self-join needs
    bands = (
        bands.withColumn(
            "bsz", F.count(F.lit(1)).over(W.partitionBy("band", "key"))
        )
        .filter(F.col("bsz") <= COS_MAX_BUCKET)
        .drop("bsz")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    # τ-pushdown: exact upper bound on the quantized dot (derivation
    # at COS_PRESCALE); the 1±1e-12 slack factors absorb double
    # rounding in the strictly-positive comparison, keeping the bound
    # one-sided so no true survivor is ever pruned. A pair colliding
    # in k bands pays k bound evaluations — the price of never
    # shuffling the non-survivors, and cheap (64 int multiplies on
    # in-cache arrays, no floor per element).
    pruned = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            (
                _preq_dot(F.col("a.pq"), F.col("b.pq"))
                + F.col("a.pl1")
                + F.col("b.pl1")
                # Σ fa·fb < D — derived from the sketch length, not a
                # hardcoded 64, so the bound stays exact if the
                # embedding dimension ever changes
                + F.size(F.col("a.pq")).cast("long")
            ).cast("double")
            * F.lit(_PRE_TO_DOT * (1.0 + 1e-12))
            >= F.lit(COSINE_DUP_THRESHOLD * (1.0 - 1e-12))
            * F.col("a.nrm")
            * F.col("b.nrm")
        )
        .select(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib")
        )
        .distinct()
    )
    # stage 2 — exact verify over pruned survivors only
    ea = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        pruned.join(ea, "ia")
        .join(eb, "ib")
        .select(
            "ia",
            "ib",
            (
                dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select(
            "ia", "ib", F.floor(F.col("cos") * F.lit(1e6)).alias("cos_e6")
        )
    )


EXACT_SAMPLE_N = 200


INT8_MAX = 127


def _quant8(emb: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_j = floor(e_j·127/amax
    + 0.5) ∈ [-127, 127]. Every op is a correctly-rounded IEEE basic op
    (mul, div, add, floor), so both engines produce identical integers;
    downstream dot products are then EXACT integer math — order-free."""
    amax = F.array_max(F.transform(emb, lambda v: F.abs(v)))
    return F.when(
        amax == 0.0, F.transform(emb, lambda v: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(
            emb,
            lambda v: F.floor(v * F.lit(float(INT8_MAX)) / amax + F.lit(0.5)),
        )
    )


def _dot8(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 over int8-quantized embeddings — the memory-scale
    tier: 64-d float32 (256 B) becomes 64 B of int8 + one scale, ~4×
    less storage/shuffle and integer-SIMD dot products, at the price of
    quantization error in the scores (the brute-force tier above is the
    recall oracle). Same broadcast-queries × corpus shape as
    `ann_cosine_topk`; at 100 TB the quantized corpus is what fits in
    executor memory for in-memory rerank tiers."""
    emb = (
        _emb_double(spark, sf_dir)
        .select("vec_id", _quant8(F.col("emb")).alias("q8"))
        # norms precomputed once per VECTOR (not per pair — the dot-product
        # stage is the O(Q·N) hot path); all-zero vectors are excluded:
        # they have no direction, and 0/0 is NaN in Spark but NULL in
        # DuckDB, which would rank oppositely in the top-k window
        .withColumn("nrm8", F.sqrt(_dot8(F.col("q8"), F.col("q8")).cast("double")))
        .filter(F.col("nrm8") > 0.0)
    )
    # the compressed index an ANN service keeps resident: later calls
    # serve from it instead of re-quantizing
    emb = resident(spark, ("ann_int8_index", sf_dir), lambda: materialize(emb))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("q8").alias("qa"),
        F.col("nrm8").alias("na"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("q8").alias("qb"),
        F.col("nrm8").alias("nb"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c.repartition(spark.sparkContext.defaultParallelism))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (
                _dot8(F.col("qa"), F.col("qb")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )
    return _topk(scored, TOP_K)


def q_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine dedup on a bounded sample (vec_id < 200):
    the ground-truth tier that verifies the LSH pipeline's recall. The
    sample bound is what makes all-pairs legitimate — O(sample²) stays
    constant as the corpus grows; the full corpus goes through the LSH
    path above."""
    emb = (
        _emb_double(spark, sf_dir)
        .filter(F.col("vec_id") < EXACT_SAMPLE_N)
        .withColumn("nrm", norm(F.col("emb")))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            (
                dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select(
            "ia", "ib", F.floor(F.col("cos") * F.lit(1e6)).alias("cos_e6")
        )
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

# mirrors `dot`/`norm`: per-term floor-quantized int64 products, exact
# BIGINT sums (a raw double SUM is combine-order-dependent and need not
# match Spark's sequential fold in the last ulp)
_DD_DOT = f"SUM(CAST(FLOOR((a.v * b.v) * {float(DOT_SCALE)}) AS BIGINT))"
# kept as SEPARATE CTE strings so callers that route through
# clustering._assemble can MATERIALIZE each one individually — as a
# single string only the first " AS (" gets the hint, leaving `norms`
# inlined and re-evaluated per reference (it is joined twice in the
# knn_mutual oracle), the exact re-evaluation pathology _assemble
# exists to prevent
_DD_LF_CTES = (
    (
        "lf AS (SELECT vec_id, label, "
        "UNNEST(generate_series(1, len(embedding))) AS k, "
        "UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v "
        "FROM embeddings)"
    ),
    (
        "norms AS (SELECT vec_id, SQRT(CAST(SUM(CAST(FLOOR((v * v) * "
        f"{float(DOT_SCALE)}) AS BIGINT)) AS DOUBLE)) AS nrm "
        "FROM lf GROUP BY vec_id)"
    ),
)
_DD_LF = ", ".join(_DD_LF_CTES)


def _dd_topk(filter_sql: str, join_sql: str, k: int) -> str:
    return f"""
WITH {_DD_LF},
dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid, {_DD_DOT} AS dot
         FROM lf a JOIN lf b ON a.k = b.k {join_sql}
         WHERE {filter_sql} AND b.vec_id <> a.vec_id
         GROUP BY 1, 2),
scored AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
           FROM dots JOIN norms nq ON nq.vec_id = qid
           JOIN norms nc ON nc.vec_id = cid)
SELECT qid, cid, CAST(FLOOR(cos * 1e6) AS BIGINT) AS score_e6, rnk FROM (
  SELECT qid, cid, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS BIGINT) AS rnk
  FROM scored)
WHERE rnk <= {k}
"""


_DD_BUCKET = (
    "buckets AS (SELECT vec_id, CAST(("
    + " + ".join(
        f"(CASE WHEN CAST(embedding[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )
    + ") AS BIGINT) AS bucket FROM embeddings)"
)

def _dd_cos_bands() -> str:
    """Per-band sign-bit keys, DuckDB dialect (mirrors _cos_band_entries)."""
    keys = []
    for b in range(COS_BANDS):
        bits = " + ".join(
            f"(CASE WHEN CAST(embedding[{b * COS_BITS_PER_BAND + j + 1}] AS DOUBLE)"
            f" > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(COS_BITS_PER_BAND)
        )
        keys.append(
            f"SELECT vec_id, CAST({b} AS BIGINT) AS band, "
            f"CAST({bits} AS BIGINT) AS key FROM embeddings"
        )
    return "cbands AS (" + " UNION ALL ".join(keys) + ")"


def _oracle_cosine_dups(cap: int | None = None) -> str:
    """Built per-call so tests can rebuild with a lowered bucket cap
    (the module ORACLES entry uses the production COS_MAX_BUCKET)."""
    cap = COS_MAX_BUCKET if cap is None else cap
    return f"""
WITH {_DD_LF},
{_dd_cos_bands()},
cb AS (SELECT vec_id, band, key FROM (
         SELECT vec_id, band, key,
                COUNT(*) OVER (PARTITION BY band, key) AS bsz
         FROM cbands)
       WHERE bsz <= {cap}),
cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         FROM cb a JOIN cb b
           ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
-- route the scoring join THROUGH cand with composite (vec_id, k)
-- keys: attaching a's components to the pair list first leaves no
-- k-only join for the planner to front-load (it otherwise pairs
-- lf x lf on the dim index -- N^2 * dim rows -- before applying cand;
-- measured ~50s -> ~2s on the sf0.1 replay)
pa AS (SELECT c.ia, c.ib, a.k, a.v
       FROM cand c JOIN lf a ON a.vec_id = c.ia),
dots AS (SELECT a.ia, a.ib, {_DD_DOT} AS dot
         FROM pa a JOIN lf b ON b.vec_id = a.ib AND b.k = a.k
         GROUP BY 1, 2)
SELECT ia, ib, CAST(FLOOR(cos * 1e6) AS BIGINT) AS cos_e6 FROM (
  SELECT ia, ib, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
  FROM dots JOIN norms na ON na.vec_id = ia
  JOIN norms nb ON nb.vec_id = ib)
WHERE cos >= {COSINE_DUP_THRESHOLD}
"""


ORACLES = {
    "embedding_cosine_dups": _oracle_cosine_dups(),
    "embedding_cosine_exact": f"""
WITH {_DD_LF},
dots AS (SELECT a.vec_id AS ia, b.vec_id AS ib, {_DD_DOT} AS dot
         FROM lf a JOIN lf b ON a.k = b.k AND a.vec_id < b.vec_id
         WHERE a.vec_id < {EXACT_SAMPLE_N} AND b.vec_id < {EXACT_SAMPLE_N}
         GROUP BY 1, 2)
SELECT ia, ib, CAST(FLOOR(cos * 1e6) AS BIGINT) AS cos_e6 FROM (
  SELECT ia, ib, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
  FROM dots JOIN norms na ON na.vec_id = ia
  JOIN norms nb ON nb.vec_id = ib)
WHERE cos >= {COSINE_DUP_THRESHOLD}
""",
    "ann_cosine_topk": _dd_topk(f"a.vec_id < {N_QUERIES}", "", TOP_K),
    "hard_negative_mining": _dd_topk(
        f"a.vec_id < {N_QUERIES} AND b.label <> a.label", "", TOP_K
    ),
    "ann_int8_topk": f"""
WITH lf AS (SELECT vec_id,
                   UNNEST(generate_series(1, len(embedding))) AS k,
                   UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE)))
                     AS v
            FROM embeddings),
am AS (SELECT vec_id, MAX(ABS(v)) AS amax FROM lf GROUP BY 1),
q8 AS (SELECT lf.vec_id, k,
              CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(FLOOR(v * {float(INT8_MAX)} / amax + 0.5)
                             AS BIGINT) END AS q
       FROM lf JOIN am USING (vec_id)),
norms8 AS (SELECT vec_id, SQRT(CAST(SUM(q * q) AS DOUBLE)) AS nrm
           FROM q8 GROUP BY 1
           HAVING SQRT(CAST(SUM(q * q) AS DOUBLE)) > 0.0),
dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
                SUM(a.q * b.q) AS dot
         FROM q8 a JOIN q8 b ON a.k = b.k
         WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
         GROUP BY 1, 2),
scored AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
           FROM dots JOIN norms8 nq ON nq.vec_id = qid
           JOIN norms8 nc ON nc.vec_id = cid)
SELECT qid, cid, CAST(FLOOR(cos * 1e6) AS BIGINT) AS score_e6, rnk FROM (
  SELECT qid, cid, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS BIGINT) AS rnk
  FROM scored)
WHERE rnk <= {TOP_K}
""",
    "ann_ivf_topk": _dd_topk(
        "a.vec_id < 20", "AND a.label = b.label", 3
    ),
    "ann_lsh_bucket": f"""
WITH {_DD_LF},
{_DD_BUCKET},
dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid, {_DD_DOT} AS dot
         FROM lf a JOIN lf b ON a.k = b.k
         JOIN buckets ba ON ba.vec_id = a.vec_id
         JOIN buckets bb ON bb.vec_id = b.vec_id AND bb.bucket = ba.bucket
         WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
         GROUP BY 1, 2),
scored AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
           FROM dots JOIN norms nq ON nq.vec_id = qid
           JOIN norms nc ON nc.vec_id = cid)
SELECT qid, cid, CAST(FLOOR(cos * 1e6) AS BIGINT) AS score_e6, rnk FROM (
  SELECT qid, cid, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS BIGINT) AS rnk
  FROM scored)
WHERE rnk <= 3
""",
}

def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA census — the validation pass an ANN index build runs
    before trusting its input: per-cell vector counts, zero-vector
    detection (un-normalizable → cosine is undefined → must be quarantined
    before the dedup/search tiers), and the quantized squared-norm range
    (catching scale drift between embedding batches). The squared norm
    is the same exact int64 self-dot the ANN tier uses (DOT_SCALE), so
    the min/max bounds are engine-identical integers. One narrow map +
    one map-side-combinable agg; nothing else."""
    emb = _emb_double(spark, sf_dir)
    qn = dot(F.col("emb"), F.col("emb")).alias("qn")
    return (
        emb.select("label", qn)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("qn") == 0).cast("long")).alias("n_zero"),
            F.min("qn").alias("min_qn"),
            F.max("qn").alias("max_qn"),
        )
    )


DIV_SCALE = 10**6  # per-component quantizer for the diversity census


def q_embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diversity census — mean pairwise dot product over
    ALL n² vector pairs WITHOUT any pairwise join, via the algebraic
    identity Σ_{{i≠j}}⟨v_i,v_j⟩ = ‖Σv‖² − Σ‖v‖². A collapsing embedding
    space (mode collapse, anisotropy — Ethayarajh, arXiv:1909.00512)
    shows up as mean-pair-dot → mean-self-dot; this is the one-pass
    number a training run monitors.

    Scale shape: the O(n²) pair space never materializes — one narrow
    quantize map, one per-dim sum (64-row agg after a posexplode that
    is map-side combined per partition), one global row agg. Components
    are quantized to int64 (floor(v·10⁶)) so every partial sum is exact
    and order-independent; the squared per-dim totals accumulate in
    DECIMAL(38,0) (they exceed int64 at corpus scale), and the single
    final division is one correctly-rounded double op — identical in
    both engines (same policy as bpe's saved_e6)."""
    emb = _emb_double(spark, sf_dir)
    q = emb.select(
        F.transform(
            "emb",
            lambda v: F.floor(v * F.lit(float(DIV_SCALE))).cast("long"),
        ).alias("qv")
    )
    dims = (
        q.select(F.posexplode("qv").alias("k", "x"))
        .groupBy("k")
        .agg(F.sum("x").alias("s"))
    )
    a = dims.agg(
        F.sum(
            F.col("s").cast("decimal(38,0)")
            * F.col("s").cast("decimal(38,0)")
        ).alias("a")
    )
    nb = q.select(
        F.aggregate(
            "qv",
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ).alias("self_sq")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("self_sq").cast("decimal(38,0)")).alias("b"),
    )
    return nb.crossJoin(F.broadcast(a)).select(
        "n",
        F.floor(
            F.col("b").cast("double")
            / (F.col("n") * F.lit(float(DIV_SCALE)))
        )
        .cast("long")
        .alias("mean_self_dot_e6"),
        F.when(
            F.col("n") > 1,
            F.floor(
                (F.col("a") - F.col("b")).cast("double")
                / (
                    F.col("n")
                    * (F.col("n") - 1)
                    * F.lit(float(DIV_SCALE))
                )
            ).cast("long"),
        ).alias("mean_pair_dot_e6"),
    )


ORACLE_EMBEDDING_DIVERSITY = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * {float(DIV_SCALE)})
                     AS BIGINT)) AS qv
  FROM embeddings),
lf AS (SELECT vec_id,
              UNNEST(generate_series(1, len(qv))) AS k,
              UNNEST(qv) AS x
       FROM q),
dims AS (SELECT k, SUM(x) AS s FROM lf GROUP BY k),
aa AS (SELECT SUM(s * s) AS a FROM dims),
bb AS (SELECT COUNT(*) AS n, SUM(self_sq) AS b FROM (
         SELECT vec_id, SUM(x * x) AS self_sq FROM lf GROUP BY vec_id)),
f AS (SELECT n, CAST(b AS DOUBLE) AS bd,
             -- subtract EXACTLY in int128 first, convert once: two
             -- separate double conversions would cancel catastrophically
             CAST(a - b AS DOUBLE) AS dd
      FROM aa CROSS JOIN bb)
SELECT n,
       CAST(FLOOR(bd / (n * {float(DIV_SCALE)})) AS BIGINT)
         AS mean_self_dot_e6,
       CASE WHEN n > 1 THEN
         CAST(FLOOR(dd / (n * (n - 1) * {float(DIV_SCALE)}))
              AS BIGINT) END AS mean_pair_dot_e6
FROM f
"""


def q_embedding_dim_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-BUDGET planner: per-coordinate variance energy of
    the embedding space, reduced to how many top-energy coordinates
    carry 90% / 99% of total variance — the cheap anisotropy read
    (Ethayarajh, arXiv:1909.00512) behind a truncation / PQ-subspace /
    storage-dtype decision. (Coordinate energy, not PCA — no rotation:
    it bounds the variance any axis-aligned truncation keeps.)

    Exactness: components quantized to int64 (floor(v·10⁶), the
    diversity census's grid); each dimension's variance numerator is
    the exact integer n·Σx² − (Σx)² (Cauchy-Schwarz ⇒ ≥ 0) accumulated
    in decimal(38,0); ranking, cumulative shares, and both coverage
    picks are integer/decimal comparisons — no float anywhere.

    Scale shape: one narrow quantize map, one map-side-combinable
    per-dim agg (64 rows out of the corpus-sized stream), then every
    window rides the 64-row frame through one SinglePartition
    exchange."""
    from pyspark.sql.window import Window as W

    emb = _emb_double(spark, sf_dir)
    q = emb.select(
        F.transform(
            "emb",
            lambda v: F.floor(v * F.lit(float(DIV_SCALE))).cast("long"),
        ).alias("qv")
    )
    per_dim = (
        q.select(F.posexplode("qv").alias("k", "x"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(
                (F.col("x") * F.col("x")).cast("decimal(38,0)")
            ).alias("sxx"),
        )
    )
    var_num = F.col("n").cast("decimal(38,0)") * F.col("sxx") - F.col(
        "sx"
    ).cast("decimal(19,0)") * F.col("sx").cast("decimal(19,0)")
    d = per_dim.select("k", "n", var_num.alias("v"))
    w_one = W.partitionBy(F.lit(0))
    w_rank = w_one.orderBy(F.col("v").desc(), F.col("k"))
    w_cum = w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
    c = d.select(
        "k",
        "n",
        "v",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("v").over(w_cum).alias("cum"),
        F.sum("v").over(w_one).alias("tot"),
        F.count(F.lit(1)).over(w_one).alias("n_dims"),
    )
    return c.groupBy().agg(
        F.max("n").alias("n_vecs"),
        F.max("n_dims").cast("long").alias("n_dims"),
        F.min(F.when(F.col("rnk") == 1, F.col("k")))
        .cast("long")
        .alias("top_dim"),
        F.max(
            F.when(
                (F.col("rnk") == 1) & (F.col("tot") > 0),
                F.expr("(v * 1000000) div tot"),
            )
        )
        .cast("long")
        .alias("top_share_ppm"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("tot") * 90, F.col("rnk"))
        )
        .cast("long")
        .alias("dims_p90"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("tot") * 99, F.col("rnk"))
        )
        .cast("long")
        .alias("dims_p99"),
    )


ORACLE_EMBEDDING_DIM_PLAN = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * {float(DIV_SCALE)})
                     AS BIGINT)) AS qv
  FROM embeddings WHERE embedding IS NOT NULL),
lf AS (SELECT UNNEST(generate_series(0, len(qv) - 1)) AS k,
              UNNEST(qv) AS x
       FROM q),
pd AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
              SUM(x * x) AS sxx
       FROM lf GROUP BY k),
d AS (SELECT k, n, n * sxx - sx * sx AS v FROM pd),
c AS (SELECT k, n, v,
             ROW_NUMBER() OVER w AS rnk,
             SUM(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(v) OVER () AS tot,
             COUNT(*) OVER () AS n_dims
      FROM d WINDOW w AS (ORDER BY v DESC, k))
SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
       CAST(MAX(n_dims) AS BIGINT) AS n_dims,
       CAST(MIN(CASE WHEN rnk = 1 THEN k END) AS BIGINT) AS top_dim,
       CAST(MAX(CASE WHEN rnk = 1 AND tot > 0
                     THEN (v * 1000000) // tot END) AS BIGINT)
         AS top_share_ppm,
       CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN rnk END) AS BIGINT)
         AS dims_p90,
       CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN rnk END) AS BIGINT)
         AS dims_p99
FROM c
"""


ORACLE_EMBEDDING_NORM_STATS = f"""
WITH lf AS (SELECT vec_id, label,
                   UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE)))
                     AS v
            FROM embeddings),
qn AS (SELECT vec_id, ANY_VALUE(label) AS label,
              CAST(SUM(CAST(FLOOR((v * v) * {float(DOT_SCALE)}) AS BIGINT))
                   AS BIGINT) AS qn
       FROM lf GROUP BY vec_id)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN qn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       MIN(qn) AS min_qn, MAX(qn) AS max_qn
FROM qn GROUP BY label
"""


KNN_GRAPH_K = 4  # per-node out-degree before the mutuality filter


def q_knn_mutual_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus — re-exported for
    back-compat; the implementation (and its `knn_mutual_graph`
    registration) lives in `clustering.q_knn_mutual_graph`, which
    generates candidates within TRAINED constant-size cells
    (bounded-sample Lloyd fit + two-level assignment) rather than the
    fixture's label cells: label cells grow with the corpus, making the
    per-cell pair work quadratic at scale (measured 29.8× wall at 10×
    rows, SCALING.md), while trained cells hold ~cell_target vectors at
    any N, keeping the graph linear. Runtime import: `clustering`
    imports this module at module level."""
    from parallelutilities_jl_spark.operators.clustering import (
        q_knn_mutual_graph as impl,
    )

    return impl(spark, sf_dir)


QUERIES = {
    "embedding_cosine_dups": q_embedding_cosine_dups,
    "embedding_norm_stats": q_embedding_norm_stats,
    "embedding_cosine_exact": q_embedding_cosine_exact,
    "ann_cosine_topk": q_ann_cosine_topk,
    "hard_negative_mining": q_hard_negative_mining,
    "embedding_diversity": q_embedding_diversity,
    "embedding_dim_plan": q_embedding_dim_plan,
    "ann_int8_topk": q_ann_int8_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_lsh_bucket": q_ann_lsh_bucket,
}

ORACLES["embedding_norm_stats"] = ORACLE_EMBEDDING_NORM_STATS
ORACLES["embedding_diversity"] = ORACLE_EMBEDDING_DIVERSITY
ORACLES["embedding_dim_plan"] = ORACLE_EMBEDDING_DIM_PLAN
