"""K-means over the `embeddings` fixture — the trained coarse quantizer
behind a production IVF index (`similarity.py` uses the fixture's
pre-assigned `label` as its cells; this operator is how those cells are
actually learned on a real corpus).

Lloyd's algorithm, Spark-idiomatically:

* **model state on the driver, data on the cluster** — the k×dim
  centroid matrix (tiny) is collected and re-broadcast as literal
  arrays each round, exactly MLlib's k-means loop; assignment and mean
  updates stay fully distributed. The driver never sees a data row.
* **assignment is one projection** — per-centroid squared-L2 as a
  `aggregate(zip_with(...))` fold over floor-quantized int64 terms (an
  EXACT sum, identical on every engine/combine order — see `_sq_dist`),
  argmin via `array_min` over `struct(dist, cid)` (lexicographic struct
  order = tie-break on lowest centroid id).
* **mean update is one shuffle** — long-format `GROUP BY (cluster,
  dim)` with decimal(38,18) sums (float-parity policy: the centroids
  feed the next round's assignment, so they must be bit-identical on
  every engine and combine order).

Determinism: init = the k lowest vec_ids (a fixed "sample"), fixed
iteration count — no RNG anywhere, so the DuckDB oracle replays the
identical iterations as chained CTEs.

At 100 TB: k×dim driver state is KB; each iteration is one map-side
assignment pass + one (cluster, dim)-keyed agg of k×dim output rows.
An empty cluster drops out of the mean agg on both engines alike.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.operators.similarity import (
    DOT_SCALE,
    _emb_double,
)
from parallelutilities_jl_spark.session import materialize, resident
from parallelutilities_jl_spark.sources.fixtures import load_table

K = 8
# 2 Lloyd rounds: enough to demonstrate the fit loop (init → assign →
# mean-update → reassign) with the oracle replaying identical rounds;
# each extra round is one more driver-blocking job pair in the
# correctness sweep for no additional coverage. Real corpora pass
# iters explicitly.
ITERS = 2

_DSUM18 = "CAST(SUM(CAST({e} AS DECIMAL(38,18))) AS DOUBLE)"


def _sq_dist(cent: list[float]) -> F.Column:
    """Squared L2 between the `emb` array column and a literal centroid,
    floor-quantized per term to int64 (× DOT_SCALE): the argmin over
    centroids compares EXACT integer sums, identical on every engine and
    combine order — a raw double sum differs in the last ulp between
    Spark's sequential fold and DuckDB's grouped SUM, which can flip the
    assignment of a near-equidistant vector (float-parity policy).
    Range: (x-c)² ≤ ~1.5 × 64 dims × 1e16 ≈ 1e18 < 2^63.

    Built as ONE generated-SQL `expr()` (round-16, guide §7.3: plan
    CONSTRUCTION cost): the Column-API zip_with/aggregate lambdas cost
    ~10x the py4j round-trips per entry — measured 1.3 s vs 0.14 s
    building a 16-entry argmin — and every literal-path assign/probe
    builder calls this once per centroid. `repr(float)` is the
    shortest round-trip form and Spark's double literal parser
    recovers the identical IEEE value (measured-equal results)."""
    # non-finite components would render as 'infD'/'nanD' and fail the
    # SQL parse — surface the data problem (a corrupt embedding
    # propagated through a Lloyd mean) descriptively instead (round-16
    # advisor)
    for v in cent:
        if not math.isfinite(float(v)):
            raise ValueError(
                f"non-finite centroid component {v!r} — corrupt "
                "embedding data reached the k-means model"
            )
    arr = ",".join(repr(float(v)) + "D" for v in cent)
    return F.expr(
        f"aggregate(zip_with(emb, array({arr}), "
        f"(x, c) -> FLOOR(((x - c) * (x - c)) * {float(DOT_SCALE)!r}D)), "
        "0L, (acc, x) -> acc + x)"
    )


def _assign(emb: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """(vec_id, cluster): nearest centroid, ties to the lowest cid —
    EXACT flat argmin over every centroid. An empty model (no vectors
    to init from) assigns nothing — the empty-corpus contract, same
    schema. Below TWO_LEVEL_JOIN_MIN_K the argmin is an inlined
    literal-array expression: one projection, with no k-fold row
    expansion and no `groupBy` exchange (not faster per row — the
    `aggregate`/`zip_with` fold is `CodegenFallback`, interpreted on
    both paths). Forcing the join path (gate 0) on `kmeans_assign` at
    sf0.1 measured 4.33 s against 2.79 s for the literal path (build
    3.62 vs 2.59 s; 7 alternating reps, identical 2000 rows). At or
    above the gate the same arithmetic runs as a broadcast model-table
    join (`_assign_join`) because the literal expression's plan size is
    O(k·dim) — a planning-time bomb when k ∝ N (the round-11 finding
    at k_eff=80). Both paths are pinned row-identical in
    tests/test_fit_cache.py."""
    if not centroids:
        return emb.select(
            "vec_id", F.lit(0).cast("long").alias("cluster")
        ).filter(F.lit(False))
    if len(centroids) >= TWO_LEVEL_JOIN_MIN_K:
        return _assign_join(emb, centroids)
    return _assign_literal(emb, centroids)


def _assign_literal(
    emb: DataFrame, centroids: dict[int, list[float]]
) -> DataFrame:
    """Flat argmin with the model inlined as literal arrays (small-k
    fast path: plan size O(k·dim), zero exchanges)."""
    entries = [
        F.struct(
            _sq_dist(c).alias("d"), F.lit(cid).cast("long").alias("cid")
        )
        for cid, c in sorted(centroids.items())
    ]
    return emb.select(
        "vec_id",
        F.array_min(F.array(*entries)).getField("cid").alias("cluster"),
    )


def kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = K, iters: int = ITERS
) -> dict[int, list[float]]:
    """`iters` Lloyd rounds from the deterministic init; returns the
    fitted centroids (k×dim driver state, KB-sized at any corpus
    scale)."""
    emb, centroids = _fit_state(spark, sf_dir, k, iters)
    return centroids


def kmeans_fit_assign(
    spark: SparkSession, sf_dir: str, k: int = K, iters: int = ITERS
) -> DataFrame:
    """`iters` Lloyd rounds from the deterministic init, then the final
    assignment against the last centroids."""
    emb, centroids = _fit_state(spark, sf_dir, k, iters)
    return _assign(emb, centroids)


def _model_copy(
    centroids: dict[int, list[float]],
) -> dict[int, list[float]]:
    """Per-call copy of a resident centroid model (values included): the
    memo hands models to many query families, and a caller mutating
    what it believes is its own fit would otherwise silently poison
    every later query in the application. KB-sized — the copy is
    noise next to one Spark job."""
    return {c: list(v) for c, v in centroids.items()}


def _fit_state(
    spark: SparkSession, sf_dir: str, k: int = K, iters: int = ITERS
):
    """Shared fit loop: returns (cached embedding frame, centroids).
    Resident per (application, sf_dir, k, iters) — five query families
    share this fit (kmeans_assign, two-level assign, ivf_trained
    census/topk, multiprobe, PQ), which otherwise re-ran the Lloyd job
    chain on every call. The fit is deterministic (no RNG: lowest-id
    init + decimal-exact means), so a hit is bit-identical to a fresh
    fit; the returned dict is a per-call copy (`_model_copy`)."""

    def build():
        # cache both layouts: every Lloyd round re-reads them (iters
        # mean updates + iters+1 assignment passes would otherwise
        # re-scan and re-derive the parquet each time), and repartition
        # first — the single-file fixture arrives as one split, which
        # would serialize the k×dim distance folds on one core. 8
        # partitions, not the full core count: each Lloyd round is a
        # driver-blocking job, and at fixture scale per-task scheduling
        # overhead dominates compute (at corpus scale the scan arrives
        # already in thousands of splits and this repartition is a
        # no-op-sized rebalance)
        emb = materialize(  # reused every Lloyd's round
            _emb_double(spark, sf_dir)
            .select("vec_id", "emb")
            .repartition(min(8, spark.sparkContext.defaultParallelism))
        )
        init = emb.filter(F.col("vec_id") < k).collect()
        centroids = {
            int(r["vec_id"]): list(r["emb"])
            for r in sorted(init, key=lambda r: r["vec_id"])
        }
        if not centroids:  # empty corpus: no model, no assignments
            return emb, {}
        emb_long = materialize(
            emb.select("vec_id", F.posexplode("emb").alias("idx", "val"))
        )
        return emb, _lloyd_rounds(emb, emb_long, centroids, iters)

    emb, centroids = resident(spark, ("flat_fit", sf_dir, k, iters), build)
    return emb, _model_copy(centroids)


def _lloyd_rounds(
    emb: DataFrame,
    emb_long: DataFrame,
    centroids: dict[int, list[float]],
    iters: int,
) -> dict[int, list[float]]:
    """`iters` Lloyd rounds from a non-empty initial model: flat
    assignment of `emb` (vec_id, emb), then a decimal(38,18) mean
    update over its long layout `emb_long` (vec_id, idx, val) — one
    blocking collect per round. The SQL replays (`_kmeans_ctes`,
    `_kmeans_ctes_sampled`) mirror every round."""
    dim = len(next(iter(centroids.values())))
    for _ in range(iters):
        assign = _assign(emb, centroids)
        means = (
            emb_long.join(assign, "vec_id")
            .groupBy("cluster", "idx")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("cval")
            )
            .collect()
        )
        centroids = {}
        for r in means:
            centroids.setdefault(int(r["cluster"]), [0.0] * dim)[
                int(r["idx"])
            ] = float(r["cval"])
    return centroids


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_fit_assign(spark, sf_dir)


GROUP_GRID = int(1e6)  # centroid-grid quantization for the grouping step
GROUP_ROUNDS = 3


def _grid(centroids: dict[int, list[float]]) -> dict[int, list[int]]:
    """Floor-quantize each centroid coordinate onto an integer grid.
    The grouping k-means below runs ENTIRELY on these ints (exact,
    associative arithmetic), so a DuckDB oracle replays it bit-for-bit
    — raw float sums are combine-order-dependent and can flip a
    near-tied argmin between engines (float-parity policy, same reason
    `_sq_dist` quantizes)."""
    import math

    return {
        c: [math.floor(x * GROUP_GRID) for x in v]
        for c, v in centroids.items()
    }


def _group_centroids(
    centroids: dict[int, list[float]], n_groups: int
) -> dict[int, list[int]]:
    """Driver-side k-means over the CENTROIDS (k×dim floats — KB-sized):
    deterministic init on the n_groups lowest cids, GROUP_ROUNDS Lloyd
    rounds, ties to the lowest group. Pure Python on driver state — the
    model is tiny at any corpus scale.

    All arithmetic is exact-integer on the GROUP_GRID quantized
    coordinates: a super-group is carried as (component sums, member
    count) and the squared distance to its mean is compared via the
    integer numerator  num = Σ_j (q·cnt − isum_j)²  divided by cnt² in
    ONE IEEE double division — both engine-order-independent and
    replayable in SQL (`_oracle_two_level`). Empty groups keep their
    previous state, exactly as the SQL replica carries them forward."""
    cids = sorted(centroids)
    qv = _grid(centroids)
    dim = len(qv[cids[0]])
    # super-group state: (exact component sums, member count)
    sup: list[tuple[list[int], int]] = [
        (list(qv[c]), 1) for c in cids[:n_groups]
    ]
    groups: dict[int, list[int]] = {}
    for _ in range(GROUP_ROUNDS):
        groups = {g: [] for g in range(len(sup))}
        for c in cids:
            q = qv[c]
            best, bd = 0, None
            for g, (isum, cnt) in enumerate(sup):
                num = sum(
                    (q[j] * cnt - isum[j]) ** 2 for j in range(dim)
                )
                # float()/float(): the same round-to-nearest conversion
                # + single IEEE division the SQL replica performs
                d = float(num) / float(cnt * cnt)
                if bd is None or d < bd:
                    best, bd = g, d
            groups[best].append(c)
        for g, members in groups.items():
            if members:
                sup[g] = (
                    [
                        sum(qv[c][j] for c in members)
                        for j in range(dim)
                    ],
                    len(members),
                )
    return {g: m for g, m in groups.items() if m}


def _super_centroids(
    centroids: dict[int, list[float]], groups: dict[int, list[int]]
) -> dict[int, list[float]]:
    """Float super-centroid per group, derived from the integer grid
    state with a FIXED op order — (double(Σq) / cnt) / GROUP_GRID — so
    Spark's literal and the oracle's CTE hold bit-identical doubles."""
    qv = _grid(centroids)
    dim = len(next(iter(qv.values())))
    return {
        g: [
            (float(sum(qv[c][j] for c in members)) / float(len(members)))
            / float(GROUP_GRID)
            for j in range(dim)
        ]
        for g, members in groups.items()
    }


def kmeans_assign_two_level(
    spark: SparkSession, sf_dir: str, k: int = K, iters: int = ITERS
) -> DataFrame:
    """Hierarchical coarse-quantizer assignment — the scale path for
    k ∝ N (SemDeDup/IVF sizing, where flat `_assign`'s per-row O(k·dim)
    fold makes assignment O(N·k) = O(N²/cell_target) overall, the one
    knowingly super-linear term in SCALING.md):

    1. group the k fitted centroids into ~√k super-groups (driver-side
       k-means over the KB-sized model — `_group_centroids`),
    2. per row, pick the nearest SUPER-centroid (O(√k·dim) fold),
    3. pick the nearest centroid WITHIN that group (O(√k·dim) average,
       evaluated lazily per matched CASE branch).

    Per-row work drops O(k) → O(√k); deeper hierarchies repeat the
    step. Measured assignment-only at k=80 over 20k vectors (x10
    stress tier): flat 9.4 s → two-level 6.9 s — a 1.4× at this small
    k where expression-construction constants still dominate; the
    asymptotic gap is what matters as k ∝ N grows. The fit itself
    still assigns flat per Lloyd round — at corpus scale fit on a
    BOUNDED SAMPLE (model quality needs samples-per-centroid, not the
    corpus) and run only this hierarchical assignment over the full
    data. The assignment is exact within the chosen super-group and
    approximate globally (a vector whose true nearest centroid lives
    in a different super-group lands in a neighboring cell) — for
    cell-scoped pruning (SemDeDup) and IVF candidate generation that
    is a quantizer variant, not an error; the oracle-checked flat
    queries keep the exact assignment. Pinned bit-exactly against a
    pure-Python replica in tests/test_two_level_assign.py. Same
    (vec_id, cluster) schema as `kmeans_fit_assign`."""
    emb, centroids = _fit_state(spark, sf_dir, k, iters)
    return _two_level_pick(emb, centroids)


def _two_level_pick(
    emb: DataFrame, centroids: dict[int, list[float]]
) -> DataFrame:
    """(vec_id, cluster): the hierarchical pick against a fitted model —
    nearest super-group, then nearest centroid within it. Shared by
    `kmeans_assign_two_level` and the scaled SemDeDup path."""
    return _two_level(
        emb,
        centroids,
        1,
        lambda entries: F.array_min(entries).getField("cid"),
        explode=False,
    )


def _two_level_probes(
    emb: DataFrame, centroids: dict[int, list[float]], nprobe: int = 2
) -> DataFrame:
    """(vec_id, cluster) PROBE rows — the top-`nprobe` centroids within
    the vector's chosen super-group (same hierarchy and quantized
    argmin as `_two_level_pick`; nprobe=1 reproduces its single row).
    Multi-probing is the graph/recall analog of
    `q_ann_ivf_multiprobe`: a vector near a cell boundary carries its
    runner-up cell too, so near-neighbor pairs split by the quantizer
    still meet in a shared probe cell. Still O(√k) per row — the
    runner-up comes from the already-matched super-group's CASE
    branch, never a flat scan over k."""
    # array_sort on struct(d, cid) = ascending (d, cid) — the same
    # (distance, id) tiebreak ROW_NUMBER uses in the SQL replay
    return _two_level(
        emb,
        centroids,
        nprobe,
        lambda entries: F.transform(
            F.slice(F.array_sort(entries), 1, nprobe),
            lambda s: s.getField("cid"),
        ),
        explode=True,
    )


def _two_level(
    emb: DataFrame,
    centroids: dict[int, list[float]],
    nprobe: int,
    in_group,
    explode: bool,
) -> DataFrame:
    """The two-level builder behind `_two_level_pick` and
    `_two_level_probes`: group the centroids, pick the nearest
    super-centroid (`sg`), then apply `in_group` to that group's
    array of struct(d, cid) entries — a cid, or an array of cids that
    `explode` turns into one row each."""
    import math

    if not centroids:  # empty corpus: same contract as _assign
        return _assign(emb, centroids)
    if len(centroids) >= TWO_LEVEL_JOIN_MIN_K:
        # large-model regime: the literal expression is a planning-time
        # bomb (size ∝ k_eff·dim); the row-identical broadcast-join
        # path keeps the plan constant-size (see TWO_LEVEL_JOIN_MIN_K)
        return _two_level_join(emb, centroids, nprobe=nprobe)
    n_groups = max(1, int(math.isqrt(len(centroids))))
    groups = _group_centroids(centroids, n_groups)
    # super-centroid = mean of its member centroids (recomputed exactly
    # from the final grouping, on the integer grid, so expression and
    # grouping agree and the oracle replays the identical doubles)
    supers = _super_centroids(centroids, groups)
    super_entries = [
        F.struct(
            _sq_dist(supers[g]).alias("d"),
            F.lit(g).cast("long").alias("cid"),
        )
        for g in sorted(groups)
    ]
    picked = F.array_min(F.array(*super_entries)).getField("cid")
    within = None
    for g in sorted(groups):
        entries = [
            F.struct(
                _sq_dist(centroids[c]).alias("d"),
                F.lit(c).cast("long").alias("cid"),
            )
            for c in sorted(groups[g])
        ]
        best = in_group(F.array(*entries))
        within = (
            F.when(F.col("sg") == g, best)
            if within is None
            else within.when(F.col("sg") == g, best)
        )
    cluster = F.explode(within) if explode else within
    return emb.select("vec_id", "emb", picked.alias("sg")).select(
        "vec_id", cluster.alias("cluster")
    )


# Above this many fitted centroids the two-level pick/probe paths
# switch from the literal CASE/array expression to the broadcast-join
# formulation (`_two_level_join`): the expression's size is
# O(k_eff·dim) literals, so at k_eff ∝ N it becomes a PLANNING-time
# bomb (SCALING.md round-11 finding: 5.6 s of py4j expression build +
# 33 s of Catalyst re-walks per invocation at k_eff=80 when inlined in
# a join tree) while the join's plan is constant-size and its
# broadcast side is the model table itself. Both paths are pinned
# row-identical (tests/test_two_level_assign.py): the per-term
# quantized integer distance and the (d, id) struct-min tiebreak are
# the same arithmetic whether the centroid is a literal or a column.
# The fixture tiers (k_eff ≤ ~10) stay on the expression path — faster
# at small k because it is one projection, with no k-fold row expansion
# and no groupBy exchange (the fold itself is CodegenFallback on both
# paths; see `_assign` for the measured fork) — and the 10x stress tier
# (k_eff = 80) exercises the join path.
TWO_LEVEL_JOIN_MIN_K = 64


def _sq_dist_col(a: F.Column, b: F.Column) -> F.Column:
    """`_sq_dist` between two array<double> COLUMNS (join paths, PQ
    codebook rows, exact re-rank) instead of a column and a literal —
    identical per-term floor-quantized int64 math, so every path
    produces the same exact integers."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, c: F.floor(
                ((x - c) * (x - c)) * F.lit(float(DOT_SCALE))
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Above this estimated size the model tables stop getting an explicit
# F.broadcast() hint and the join strategy is left to Catalyst/AQE
# (which will pick a shuffle join once the table outgrows
# spark.sql.autoBroadcastJoinThreshold, default 10 MB). Kept slightly
# below that default so the hint never FORCES a broadcast the planner
# would refuse on size. 8 doubles/dim + per-row overhead ≈ 16·dim
# bytes/centroid is the estimate both call sites use.
BROADCAST_MODEL_MAX_BYTES = 8 << 20


def _maybe_broadcast(df: DataFrame, approx_bytes: int) -> DataFrame:
    """Hint-broadcast a model table only while it is safely below the
    broadcast threshold; past it, return the frame unhinted so Catalyst
    picks a shuffle join (previously the hint was hard-pinned, which
    forced a broadcast regardless of model size). ONLY valid for KEYED
    joins — an unhinted KEYLESS model cross would plan as a
    BroadcastNestedLoopJoin/CartesianProduct, not a shuffle join, so
    the keyless crosses below (flat argmin, level-1 super pick) keep an
    unconditional hint and document their model-size ceiling instead."""
    if approx_bytes < BROADCAST_MODEL_MAX_BYTES:
        return F.broadcast(df)
    return df


def _model_bytes(centroids: dict[int, list[float]]) -> int:
    """Estimated serialized size of a centroid model table."""
    if not centroids:
        return 0
    dim = len(next(iter(centroids.values())))
    return len(centroids) * dim * 16


def _assign_join(
    emb: DataFrame, centroids: dict[int, list[float]]
) -> DataFrame:
    """Flat EXACT argmin via a broadcast join against the centroid
    model table — the large-k realization of `_assign_literal` (same
    floor-quantized int64 distance via `_sq_dist_col`, same
    (d, cid) struct-min lowest-cid tiebreak; row-identical by test).
    Per-row work is O(k·dim) either way; what the join buys is a plan
    whose SIZE is O(1) in k — at k ∝ N the inlined literal expression
    costs seconds of py4j construction + Catalyst re-walks per
    invocation (round-11 measurement at k_eff=80), while this plan
    never grows. The min-agg is map-side combinable, so the only
    exchange is the final per-vec_id combine. CEILING: the model cross
    is KEYLESS, so it requires a broadcastable model (the hint stays
    unconditional — dropping it would plan a CartesianProduct, not a
    shuffle join); at k·dim·16 B beyond broadcast range (~65k
    64-dim centroids), flat-exact assignment stops being the right
    operator and the caller should use the two-level path, whose
    level-2 join is keyed on the super-group and genuinely degrades to
    a shuffle join (`_two_level_join`)."""
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(cid, centroids[cid]) for cid in sorted(centroids)],
        "cid long, cent array<double>",
    )
    return (
        emb.select("vec_id", "emb")
        .join(F.broadcast(cent_df))  # keyless model cross: must broadcast
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    _sq_dist_col(F.col("emb"), F.col("cent")).alias("d"),
                    F.col("cid").alias("cid"),
                )
            ).alias("m")
        )
        .select("vec_id", F.col("m.cid").alias("cluster"))
    )


def _two_level_join(
    emb: DataFrame, centroids: dict[int, list[float]], nprobe: int
) -> DataFrame:
    """(vec_id, cluster) via broadcast joins against the MODEL TABLES —
    the k_eff-scalable realization of `_two_level_pick` /
    `_two_level_probes` (same grouping, same quantized distances, same
    (d, id) tiebreaks; row-identical by test). Level 1: cross the
    corpus with the √k-row super-centroid table, struct-min per vector.
    Level 2: join the vector's group's centroid rows (√k average),
    struct-min (nprobe=1) or sorted top-nprobe. Both levels are
    broadcast model-table joins with map-side-combinable aggs — per-row
    work O(√k·dim), plan size O(1) in k_eff. This is the join the
    SCALING.md planning note calls for at 100 TB. Size fallback: the
    level-2 centroid join is KEYED on the super-group, so its hint is
    size-gated (`_maybe_broadcast`) — past `BROADCAST_MODEL_MAX_BYTES`
    Catalyst/AQE picks a shuffle join on `sg`, same plan shape, no
    code change. The level-1 super cross is keyless but √k-bounded
    (8 MB of 64-dim supers ⇒ k ≈ 6e9), so its hint is unconditional."""
    import math

    spark = emb.sparkSession
    n_groups = max(1, int(math.isqrt(len(centroids))))
    groups = _group_centroids(centroids, n_groups)
    supers = _super_centroids(centroids, groups)
    sup_df = spark.createDataFrame(
        [(g, supers[g]) for g in sorted(groups)],
        "sg long, scent array<double>",
    )
    cent_df = spark.createDataFrame(
        [
            (g, c, centroids[c])
            for g in sorted(groups)
            for c in sorted(groups[g])
        ],
        "sg long, cid long, cent array<double>",
    )
    # super table: √k rows — bounded at any feasible k (8 MB of
    # 64-dim supers needs k ≈ 6e9 centroids), and its cross is KEYLESS,
    # so the hint stays unconditional. The k-row centroid table joins
    # KEYED on the super-group, so IT is the one that can genuinely
    # fall back to a Catalyst-chosen shuffle join past broadcast size.
    cent_df_b = _maybe_broadcast(cent_df, _model_bytes(centroids))
    sg = (
        emb.select("vec_id", "emb")
        .join(F.broadcast(sup_df))  # keyless √k-row cross: broadcast
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    _sq_dist_col(F.col("emb"), F.col("scent")).alias("d"),
                    F.col("sg").alias("g"),
                )
            ).alias("m")
        )
        .select("vec_id", F.col("m.g").alias("sg"))
    )
    within = emb.select("vec_id", "emb").join(sg, "vec_id").join(
        cent_df_b, "sg"
    )
    scored = F.struct(
        _sq_dist_col(F.col("emb"), F.col("cent")).alias("d"),
        F.col("cid").alias("cid"),
    )
    if nprobe == 1:
        return (
            within.groupBy("vec_id")
            .agg(F.min(scored).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cluster"))
        )
    return (
        within.groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(scored)), 1, nprobe
            ).alias("tops")
        )
        .select(
            "vec_id",
            F.explode(
                F.transform("tops", lambda s: s.getField("cid"))
            ).alias("cluster"),
        )
    )


def _lloyd_sample(
    sample: DataFrame, k: int, iters: int
) -> dict[int, list[float]]:
    """Lloyd fit over an already-bounded sample frame (vec_id, emb):
    deterministic init on the k LOWEST vec_ids present in the sample,
    then `_lloyd_rounds` — the same arithmetic as `_fit_state`, so the
    SQL replay (`_kmeans_ctes_sampled`) mirrors every round. Returns
    the centroid dict (empty on an empty sample — the empty-corpus
    contract)."""
    sample = materialize(sample)
    init = sample.orderBy("vec_id").limit(k).collect()
    centroids = {
        int(r["vec_id"]): list(r["emb"])
        for r in sorted(init, key=lambda r: r["vec_id"])
    }
    if not centroids:
        return {}
    emb_long = materialize(
        sample.select("vec_id", F.posexplode("emb").alias("idx", "val"))
    )
    return _lloyd_rounds(sample, emb_long, centroids, iters)


# quantized distance, mirroring _sq_dist: exact BIGINT sum (a raw
# double SUM is combine-order-dependent and can flip the argmin)
_QD = (
    "SUM(CAST(FLOOR(((e.val - {c}.{v}) * (e.val - {c}.{v})) * "
    f"{float(DOT_SCALE)}) AS BIGINT))"
)


def _argmin_select(src: str, cent: str) -> str:
    """The flat-argmin SQL template — nearest centroid per vector over
    long-format rows `src` (vec_id, idx, val) against centroid CTE
    `cent` (cid, idx, cval), quantized distance + lowest-cid tiebreak
    (the replay of `_assign`). ONE definition shared by every fit
    round and assignment replay so the `_QD` grid and the tiebreak can
    never drift between copies."""
    qd = _QD.format(c="c", v="cval")
    return (
        f"SELECT vec_id, cid AS cluster FROM ("
        f"SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd}, c.cid) AS rn "
        f"FROM {src} e JOIN {cent} c ON e.idx = c.idx "
        f"GROUP BY e.vec_id, c.cid) WHERE rn = 1"
    )


def _kmeans_ctes(k: int = K, iters: int = ITERS) -> tuple[list[str], str]:
    """The fit loop as chained CTEs (no RNG → replayable): returns
    (cte list, name of the final centroid CTE holding cid/idx/cval)."""
    ctes = [
        "e AS (SELECT vec_id, UNNEST(generate_series(0, len(embedding) - 1)) AS idx, "
        "UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val "
        "FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, idx, val AS cval FROM e WHERE vec_id < {k})",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(f"a{i} AS ({_argmin_select('e', prev)})")
        ctes.append(
            f"c{i} AS (SELECT cluster AS cid, idx, "
            f"{_DSUM18.format(e='val')} / COUNT(*) AS cval "
            f"FROM e JOIN a{i} USING (vec_id) GROUP BY cluster, idx)"
        )
        prev = f"c{i}"
    return ctes, prev


def _oracle_kmeans(k: int = K, iters: int = ITERS) -> str:
    """The identical iterations as chained CTEs (no RNG → replayable)."""
    ctes, prev = _kmeans_ctes(k, iters)
    return "WITH " + ",\n".join(ctes) + "\n" + _argmin_select("e", prev)


def _two_level_pick_ctes(
    ctes: list[str], cfin: str, nprobe: int = 1
) -> str:
    """Append the CTEs replaying `_two_level_pick` against the fitted
    centroid CTE `cfin` (GROUP_ROUNDS integer-grid k-means over the
    centroids — HUGEINT numerators ÷ cnt² in one double division,
    bit-identical to the Python — then the per-vector quantized super
    argmin + within-group argmin over the full `e`). Returns the name
    of the final (vec_id, cluster) assignment CTE; nprobe > 1 keeps
    the top-nprobe within-group centroids per vector (the
    `_two_level_probes` replay — one row per probe)."""
    ctes.append(
        f"qv AS (SELECT cid, idx, CAST(CAST(FLOOR(cval * {float(GROUP_GRID)}) "
        f"AS BIGINT) AS HUGEINT) AS q FROM {cfin})"
    )
    # n_groups = max(1, isqrt(#centroids)); sqrt of a perfect square is
    # IEEE-exact, so FLOOR(SQRT()) == isqrt for any feasible k
    ctes.append(
        "ng AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(DISTINCT cid))) "
        f"AS INT)) AS n FROM {cfin})"
    )
    # super state s0: the n_groups lowest cids, one member each
    ctes.append(
        "g0 AS (SELECT cid, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS g "
        f"FROM (SELECT DISTINCT cid FROM qv)) "
    )
    ctes.append(
        "s0 AS (SELECT g0.g, qv.idx, qv.q AS isum, 1 AS cnt "
        "FROM g0 JOIN qv USING (cid) WHERE g0.g < (SELECT n FROM ng))"
    )
    prev = "s0"
    for r in range(1, GROUP_ROUNDS + 1):
        ctes.append(
            f"d{r} AS (SELECT qv.cid, s.g, "
            "SUM((qv.q * s.cnt - s.isum) * (qv.q * s.cnt - s.isum)) AS num, "
            "MAX(s.cnt) AS cnt "
            f"FROM qv JOIN {prev} s USING (idx) GROUP BY qv.cid, s.g)"
        )
        ctes.append(
            f"ga{r} AS (SELECT cid, g FROM (SELECT cid, g, "
            "ROW_NUMBER() OVER (PARTITION BY cid "
            "ORDER BY CAST(num AS DOUBLE) / (cnt * cnt), g) AS rn "
            f"FROM d{r}) WHERE rn = 1)"
        )
        # recompute means for populated groups; carry empty groups'
        # previous state forward (the Python `if members` guard)
        ctes.append(
            f"s{r} AS (SELECT a.g, qv.idx, SUM(qv.q) AS isum, "
            "CAST(COUNT(*) AS INT) AS cnt "
            f"FROM ga{r} a JOIN qv USING (cid) GROUP BY a.g, qv.idx "
            f"UNION ALL SELECT s.g, s.idx, s.isum, s.cnt FROM {prev} s "
            f"WHERE s.g NOT IN (SELECT g FROM ga{r}))"
        )
        prev = f"s{r}"
    gfin, sfin = f"ga{GROUP_ROUNDS}", prev
    # float super-centroids from the FINAL grouping, fixed op order:
    # (double(isum) / cnt) / GROUP_GRID — mirrors _super_centroids
    ctes.append(
        "scs AS (SELECT g, idx, "
        f"(CAST(isum AS DOUBLE) / cnt) / {float(GROUP_GRID)} AS sc "
        f"FROM {sfin} WHERE g IN (SELECT g FROM {gfin}))"
    )
    qd_super = _QD.format(c="s", v="sc")
    ctes.append(
        "vsg AS (SELECT vec_id, g FROM (SELECT e.vec_id, s.g, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd_super}, s.g) AS rn "
        "FROM e JOIN scs s ON e.idx = s.idx "
        "GROUP BY e.vec_id, s.g) WHERE rn = 1)"
    )
    qd_within = _QD.format(c="c", v="cval")
    ctes.append(
        "asg2 AS (SELECT vec_id, cid AS cluster FROM (SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd_within}, c.cid) AS rn "
        f"FROM e JOIN {cfin} c ON e.idx = c.idx "
        f"JOIN {gfin} m ON m.cid = c.cid "
        "JOIN vsg v ON v.vec_id = e.vec_id AND v.g = m.g "
        f"GROUP BY e.vec_id, c.cid) WHERE rn <= {nprobe})"
    )
    return "asg2"


def _assemble(ctes: list[str], final: str) -> str:
    """MATERIALIZE every CTE and assemble the query. Most CTEs in these
    replays are referenced 2+ times (the NOT IN carry-forward, the
    final multi-way joins); DuckDB's default inlining re-evaluates the
    whole upstream fit chain per reference — exponential in the round
    count (measured 18 s → sub-second with MATERIALIZED)."""
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return "WITH " + ",\n".join(ctes) + "\n" + final


def _oracle_two_level(k: int = K, iters: int = ITERS) -> str:
    """Full SQL replay of `kmeans_assign_two_level`: fit CTEs, then the
    two-level pick CTEs (`_two_level_pick_ctes`)."""
    ctes, cfin = _kmeans_ctes(k, iters)
    asg = _two_level_pick_ctes(ctes, cfin)
    return _assemble(ctes, f"SELECT vec_id, cluster FROM {asg}")


SEMDEDUP_FIT_SPC = 32  # expected fit-sample vectors per centroid


def _kmeans_ctes_sampled(
    iters: int, spc: int, cell_target: int
) -> tuple[list[str], str]:
    """Sampled-fit replay: k_eff and the fit sample are computed IN SQL
    (k_eff = max(K, n // cell_target); a vector is sampled iff
    hash·n < 2³²·spc·k_eff with hash = (vec_id·KNUTH) mod 2³² — the
    exact integer cross-multiply form of an expected spc·k_eff-row
    sample, identical to the Python driver's ceil-threshold filter).
    Lloyd rounds assign and re-mean over SAMPLE rows only; returns
    (ctes, final centroid CTE)."""
    from parallelutilities_jl_spark.operators.pipeline import _KNUTH

    ctes = [
        "e AS (SELECT vec_id, UNNEST(generate_series(0, len(embedding) - 1)) AS idx, "
        "UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val "
        "FROM embeddings WHERE embedding IS NOT NULL)",
        "pars AS (SELECT COUNT(DISTINCT vec_id) AS n FROM e)",
        f"keff AS (SELECT GREATEST({K}, n // {cell_target}) AS k FROM pars)",
        f"samp AS (SELECT DISTINCT vec_id FROM e WHERE "
        f"CAST((vec_id * {_KNUTH}) % 4294967296 AS HUGEINT) * (SELECT n FROM pars) "
        f"< CAST(4294967296 AS HUGEINT) * ({spc} * (SELECT k FROM keff)))",
        "sinit AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rnk FROM samp)",
        "es AS (SELECT e.* FROM e JOIN samp USING (vec_id))",
        "c0 AS (SELECT e.vec_id AS cid, e.idx, e.val AS cval FROM e "
        "JOIN sinit USING (vec_id) WHERE sinit.rnk <= (SELECT k FROM keff))",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(f"a{i} AS ({_argmin_select('es', prev)})")
        ctes.append(
            f"c{i} AS (SELECT cluster AS cid, idx, "
            f"{_DSUM18.format(e='val')} / COUNT(*) AS cval "
            f"FROM es e JOIN a{i} USING (vec_id) GROUP BY cluster, idx)"
        )
        prev = f"c{i}"
    return ctes, prev


def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against the *learned* cells: cluster sizes per learned
    cell — the census that sizes an IVF index build (nprobe planning).
    The search path itself is `similarity.q_ann_ivf_topk` with these
    assignments as the cell column."""
    assign = kmeans_fit_assign(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.join(assign, "vec_id")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )
    )


def _oracle_ivf_census(k: int = K, iters: int = ITERS) -> str:
    return (
        f"WITH asg AS ({_oracle_kmeans(k, iters)}) "
        "SELECT cluster, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec, "
        "MAX(vec_id) AS max_vec FROM asg GROUP BY cluster"
    )


IVF_N_QUERIES = 6
IVF_FIT_ITERS = 2  # shallower fit than kmeans_assign: keeps the oracle
# replay (and the sweep) cheap; the full-depth fit is gated by
# kmeans_assign itself


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trained-IVF search path: fit the coarse quantizer, then
    cosine top-3 restricted to the query's LEARNED cell (vs
    `similarity.q_ann_ivf_topk`, which probes the fixture's pre-assigned
    label). Candidate generation is an equi-join on the learned cluster
    id — the shuffle is O(cell size), not O(corpus)."""
    from parallelutilities_jl_spark.operators.similarity import (
        _topk,
        dot,
        norm,
    )

    assign = kmeans_fit_assign(spark, sf_dir, iters=IVF_FIT_ITERS)
    emb = _emb_double(spark, sf_dir).select("vec_id", "emb").join(
        assign, "vec_id"
    )
    q = emb.filter(F.col("vec_id") < IVF_N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("cluster").alias("cell"),
        F.col("emb").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("cluster").alias("cell"),
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


def _oracle_ivf_trained(k: int = K, iters: int = IVF_FIT_ITERS) -> str:
    from parallelutilities_jl_spark.operators.similarity import (
        _DD_DOT,
        _DD_LF,
        _DD_LF_CTES,
    )

    return f"""
WITH {_DD_LF},
asg AS ({_oracle_kmeans(k, iters)}),
dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid, {_DD_DOT} AS dot
         FROM lf a JOIN lf b ON a.k = b.k
         JOIN asg sa ON sa.vec_id = a.vec_id
         JOIN asg sb ON sb.vec_id = b.vec_id AND sb.cluster = sa.cluster
         WHERE a.vec_id < {IVF_N_QUERIES} AND b.vec_id <> a.vec_id
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
"""


IVF_NPROBE = 2  # cells probed per query on the multi-probe tier


def q_ann_ivf_multiprobe(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """Multi-probe trained IVF: each query searches its NPROBE nearest
    learned cells instead of one — the standard accuracy/cost knob for
    IVF indexes (recall lost to a neighbor landing just across a cell
    boundary is recovered by probing the adjacent cell). Measured at
    sf0.01: recall@3 0.889 single-probe → see RECALL.md for the pinned
    multi-probe floor.

    Scale shape: probe selection is a per-row O(nprobe·k·dim) column
    expression against the broadcast (driver-literal) centroid model —
    no shuffle; candidate generation stays an equi-join on the cell id,
    now matching nprobe cells per query, so the exchange is
    O(nprobe · cell size) per query, still never O(corpus). Corpus
    vectors keep exactly one cell each, so no candidate dedup is
    needed."""
    emb, centroids = _fit_state(spark, sf_dir, K, IVF_FIT_ITERS)
    assign = _assign(emb, centroids)
    corpus = emb.join(assign, "vec_id").select(
        F.col("vec_id").alias("cid"),
        F.col("cluster").alias("cell"),
        F.col("emb").alias("ce"),
    )
    from parallelutilities_jl_spark.operators.similarity import (
        _topk,
        dot,
        norm,
    )

    if not centroids:  # empty corpus: no model, empty result, same schema
        scored = (
            emb.select(
                F.col("vec_id").alias("qid"),
                F.col("vec_id").alias("cid"),
                F.lit(0.0).alias("cos"),
            ).filter(F.lit(False))
        )
        return _topk(scored, 3)
    entries = [
        F.struct(
            _sq_dist(c).alias("d"), F.lit(cid).cast("long").alias("cell")
        )
        for cid, c in sorted(centroids.items())
    ]
    # nprobe nearest cells: array_sort on (d, cell) structs — exact
    # int64 distances, ties to the lowest cell id (mirrors the oracle's
    # ROW_NUMBER ORDER BY d, cid)
    probes = (
        emb.filter(F.col("vec_id") < IVF_N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("emb").alias("qe"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(F.array(*entries)), 1, nprobe),
                    lambda s: s.getField("cell"),
                )
            ).alias("cell"),
        )
    )
    scored = (
        probes.join(corpus, "cell")
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


def _oracle_ivf_multiprobe(
    k: int = K, iters: int = IVF_FIT_ITERS, nprobe: int = IVF_NPROBE
) -> str:
    from parallelutilities_jl_spark.operators.similarity import (
        _DD_DOT,
        _DD_LF,
        _DD_LF_CTES,
    )

    ctes, cfin = _kmeans_ctes(k, iters)
    qd = _QD.format(c="c", v="cval")
    # per-query nprobe nearest cells, same quantized distance + tie rule
    # as the assignment
    ctes.append(
        f"probes AS (SELECT vec_id AS qid, cid AS cell FROM ("
        f"SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd}, c.cid) AS rn "
        f"FROM e JOIN {cfin} c ON e.idx = c.idx "
        f"WHERE e.vec_id < {IVF_N_QUERIES} "
        f"GROUP BY e.vec_id, c.cid) WHERE rn <= {nprobe})"
    )
    ctes.append(
        f"asg AS (SELECT vec_id, cid AS cluster FROM ("
        f"SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd}, c.cid) AS rn "
        f"FROM e JOIN {cfin} c ON e.idx = c.idx "
        f"GROUP BY e.vec_id, c.cid) WHERE rn = 1)"
    )
    fit = ",\n".join(c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes)
    return f"""
WITH {fit},
{_DD_LF},
dots AS (SELECT p.qid, b.vec_id AS cid, {_DD_DOT} AS dot
         FROM probes p
         JOIN asg sb ON sb.cluster = p.cell
         JOIN lf b ON b.vec_id = sb.vec_id
         JOIN lf a ON a.vec_id = p.qid AND a.k = b.k
         WHERE b.vec_id <> p.qid
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
"""


NPROBE_PLAN_MAX = 4  # probe counts the nprobe planner measures (1..4)


def q_ann_nprobe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe PLANNER: the measured recall/cost curve behind
    `ann_ivf_multiprobe_topk`'s nprobe choice — for every probe count
    1..{NPROBE_PLAN_MAX}, the candidate volume the probing generates
    and the top-3 recall against the EXACT brute-force baseline,
    oracle-checked end to end (the RECALL.md floors are offline
    evidence; this makes the curve itself a driver-gated query).

    One shared candidate pass serves all probe counts: corpus cells are
    disjoint, so each (query, candidate) pair enters through exactly
    ONE probe rank p — candidates are scored once with p carried, and
    probe-count np simply filters p <= np (an explode of [p..max], <=4x
    the candidate rows). The exact baseline is the standard broadcast
    queries x corpus scan (Q bounded). Recall arithmetic is
    exact-integer ppm; the cosine ordering is the pre-validated
    quantized-dot / tie-to-lowest-cid rule every ANN tier uses.

    Scale shape: fit + assignment are the memoized IVF path; candidate
    generation is the same O(nprobe x cell) equi-join as multiprobe;
    every aggregate after it is per-np bounded (4 rows out)."""
    from pyspark.sql.window import Window as W

    from parallelutilities_jl_spark.operators.similarity import dot, norm

    emb, centroids = _fit_state(spark, sf_dir, K, IVF_FIT_ITERS)
    if not centroids:
        # empty corpus: no model — but the plan keeps its spine (one
        # zero row per probe count, NULL recall), matching the oracle's
        # unconditional range(1, MAX+1) frame
        z = F.lit(0).cast("long")
        return spark.range(1, NPROBE_PLAN_MAX + 1).select(
            F.col("id").cast("long").alias("nprobe"),
            z.alias("n_candidates"),
            z.alias("topk_hits"),
            z.alias("n_exact"),
            F.lit(None).cast("long").alias("recall_e6"),
        )
    assign = _assign(emb, centroids)
    corpus = emb.join(assign, "vec_id").select(
        F.col("vec_id").alias("cid"),
        F.col("cluster").alias("cell"),
        F.col("emb").alias("ce"),
    )
    entries = [
        F.struct(
            _sq_dist(c).alias("d"), F.lit(cid).cast("long").alias("cell")
        )
        for cid, c in sorted(centroids.items())
    ]
    queries = emb.filter(F.col("vec_id") < IVF_N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    # the _sq_dist entries reference the source `emb` column, so the
    # probe explode must project straight off the embedding frame
    probes = (
        emb.filter(F.col("vec_id") < IVF_N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("emb").alias("qe"),
            F.posexplode(
                F.transform(
                    F.slice(
                        F.array_sort(F.array(*entries)), 1, NPROBE_PLAN_MAX
                    ),
                    lambda s: s.getField("cell"),
                )
            ).alias("pz", "cell"),
        )
        .select("qid", "qe", (F.col("pz") + 1).alias("p"), "cell")
    )
    cand = (
        probes.join(corpus, "cell")
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            "p",
            (
                dot(F.col("qe"), F.col("ce"))
                / (norm(F.col("qe")) * norm(F.col("ce")))
            ).alias("cos"),
        )
    )
    npc = cand.select(
        "qid",
        "cid",
        "cos",
        F.explode(
            F.sequence(F.col("p"), F.lit(NPROBE_PLAN_MAX))
        ).alias("np"),
    )
    w = W.partitionBy("np", "qid").orderBy(F.col("cos").desc(), F.col("cid"))
    approx3 = npc.select(
        "np", "qid", "cid", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 3)
    exact_scored = (
        F.broadcast(queries)
        .crossJoin(corpus.select("cid", "ce"))
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
    we = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    exact3 = (
        exact_scored.select(
            "qid", "cid", F.row_number().over(we).alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
        .select("qid", "cid")
    )
    n_exact = exact3.agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        approx3.join(exact3, ["qid", "cid"], "left_semi")
        .groupBy("np")
        .agg(F.count(F.lit(1)).alias("topk_hits"))
    )
    cands_per_np = npc.groupBy("np").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    # explicit probe-count spine (both engines): a probe count whose
    # candidate set is empty must still emit a row with n_candidates=0,
    # or a consumer reading the recall/cost curve misreads a silently
    # missing nprobe row as "not measured"
    spine = spark.range(1, NPROBE_PLAN_MAX + 1).select(
        F.col("id").cast("int").alias("np")
    )
    joined = (
        spine.join(F.broadcast(cands_per_np), "np", "left")
        .join(F.broadcast(hits), "np", "left")
        .crossJoin(F.broadcast(n_exact))
        .withColumn(
            "n_candidates",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")),
        )
        .withColumn(
            "topk_hits",
            F.coalesce(F.col("topk_hits"), F.lit(0).cast("long")),
        )
    )
    return joined.select(
        F.col("np").cast("long").alias("nprobe"),
        "n_candidates",
        "topk_hits",
        "n_exact",
        F.expr("(topk_hits * 1000000) div nullif(n_exact, 0)").alias(
            "recall_e6"
        ),
    )


def _oracle_nprobe_plan() -> str:
    from parallelutilities_jl_spark.operators.similarity import (
        _DD_DOT,
        _DD_LF,
    )

    ctes, cfin = _kmeans_ctes(K, IVF_FIT_ITERS)
    qd = _QD.format(c="c", v="cval")
    ctes.append(
        f"probes AS (SELECT vec_id AS qid, cid AS cell, rn AS p FROM ("
        f"SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd}, c.cid) AS rn "
        f"FROM e JOIN {cfin} c ON e.idx = c.idx "
        f"WHERE e.vec_id < {IVF_N_QUERIES} "
        f"GROUP BY e.vec_id, c.cid) WHERE rn <= {NPROBE_PLAN_MAX})"
    )
    ctes.append(
        f"asg AS (SELECT vec_id, cid AS cluster FROM ("
        f"SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {qd}, c.cid) AS rn "
        f"FROM e JOIN {cfin} c ON e.idx = c.idx "
        f"GROUP BY e.vec_id, c.cid) WHERE rn = 1)"
    )
    fit = ",\n".join(c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes)
    return f"""
WITH {fit},
{_DD_LF},
cdots AS (SELECT p.qid, b.vec_id AS cid, MIN(p.p) AS p, {_DD_DOT} AS dot
          FROM probes p
          JOIN asg sb ON sb.cluster = p.cell
          JOIN lf b ON b.vec_id = sb.vec_id
          JOIN lf a ON a.vec_id = p.qid AND a.k = b.k
          WHERE b.vec_id <> p.qid
          GROUP BY 1, 2),
cscored AS (SELECT qid, cid, p,
                   CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
            FROM cdots JOIN norms nq ON nq.vec_id = qid
            JOIN norms nc ON nc.vec_id = cid),
npc AS (SELECT qid, cid, cos, t.np AS np
        FROM cscored, range(1, {NPROBE_PLAN_MAX + 1}) t(np)
        WHERE p <= t.np),
approx3 AS (SELECT np, qid, cid FROM (
  SELECT np, qid, cid,
         ROW_NUMBER() OVER (PARTITION BY np, qid
                            ORDER BY cos DESC, cid) AS rnk
  FROM npc) WHERE rnk <= 3),
edots AS (SELECT a.vec_id AS qid, b.vec_id AS cid, {_DD_DOT} AS dot
          FROM lf a JOIN lf b ON a.k = b.k
           AND a.vec_id < {IVF_N_QUERIES} AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
escored AS (SELECT qid, cid,
                   CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
            FROM edots JOIN norms nq ON nq.vec_id = qid
            JOIN norms nc ON nc.vec_id = cid),
exact3 AS (SELECT qid, cid FROM (
  SELECT qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, cid) AS rnk
  FROM escored) WHERE rnk <= 3),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact3),
cn AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS n_candidates
       FROM npc GROUP BY np),
ht AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS topk_hits
       FROM approx3 JOIN exact3 USING (qid, cid) GROUP BY np)
SELECT CAST(sp.np AS BIGINT) AS nprobe,
       CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(topk_hits, 0) AS BIGINT) AS topk_hits, n_exact,
       (COALESCE(topk_hits, 0) * 1000000) // nullif(n_exact, 0)
         AS recall_e6
FROM range(1, {NPROBE_PLAN_MAX + 1}) sp(np)
LEFT JOIN cn USING (np) LEFT JOIN ht USING (np) CROSS JOIN ne
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-index ANN scale path
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces (64 dims → 4 × 16)
PQ_SUBDIM = 16
PQ_K = 8  # codes per subspace codebook
PQ_ITERS = 1  # one Lloyd round per codebook — oracle replays it exactly
PQ_N_QUERIES = 5
PQ_TOP_K = 3
# Mean-update quantization. kmeans_assign's decimal(38,18) means are NOT
# bit-identical across engines (Spark casts double→decimal via the exact
# binary expansion + HALF_UP; DuckDB via binary multiply — sums drift in
# digit 19+, occasionally flipping the cast-back double by 1 ulp). That
# is harmless when the OUTPUT is an argmin assignment, but PQ's output
# is the integer distance sum itself, where a 1-ulp centroid shift flips
# a FLOOR term. So the mean is computed over int64-floored terms —
# floor(val·S) is a single IEEE multiply + floor, bit-identical on both
# engines — and the division chain (÷ n, ÷ S) is two IEEE double ops in
# a fixed order. Range: 5e4 rows × 0.6 × 1e12 ≈ 3e16 << 2^63.
PQ_MEAN_SCALE = int(1e12)


def _pq_codes_col(cb: dict) -> F.Column:
    """array<long> of PQ_M codes for the row's `sub0..sub{M-1}` slice
    columns: nearest sub-centroid per subspace, ties to the lowest code
    id — a pure projection (M×K folded distances per row), no shuffle."""
    per_s = []
    for s in range(PQ_M):
        entries = [
            F.struct(
                _sq_dist_col(
                    F.col(f"sub{s}"),
                    F.array(*[F.lit(float(v)) for v in cb[(ss, cid)]]),
                ).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for (ss, cid) in sorted(cb)
            if ss == s
        ]
        per_s.append(F.array_min(F.array(*entries)).getField("cid"))
    return F.array(*per_s)


def _pq_cb_df(spark: SparkSession, cb: dict) -> DataFrame:
    """The fitted codebook as DATA — a one-row broadcastable frame
    whose `cbs` column holds every (s, code, sub-centroid) entry,
    sorted by (s, code). Round-16 optimization: embedding the codebook
    as literal expressions (`_pq_codes_col`'s per-entry literal-array
    folds) made every q_ann_pq_* plan carry thousands of literal
    nodes, and Catalyst re-analyzed them on EVERY query build —
    measured 2.5 s of driver time per bench rep against 0.5 s of
    execution. As a crossJoin'd broadcast row the model values live in
    data, the HOFs reference a column, the analysis cost is O(1) in
    M·K, and the executed arithmetic (same zip_with lambda, same
    int64 fold, same struct-min tiebreak) is bit-identical."""
    entries = [
        (int(s), int(cid), [float(v) for v in cent])
        for (s, cid), cent in sorted(cb.items())
    ]
    return spark.createDataFrame(
        [(entries,)],
        "cbs array<struct<s: long, code: long, cent: array<double>>>",
    )


def _pq_sliced(emb: DataFrame) -> DataFrame:
    """Project the per-subspace slice columns once so every distance
    fold references a column instead of re-embedding the slice."""
    return emb.select(
        "vec_id",
        "emb",
        *[
            F.slice(F.col("emb"), s * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                f"sub{s}"
            )
            for s in range(PQ_M)
        ],
    )


def q_ann_pq_topk(
    spark: SparkSession, sf_dir: str, top_k: int = PQ_TOP_K
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) — the
    compressed-index scale path beyond IVF: each vector is stored as
    PQ_M codebook ids (4 bytes here vs 512 for the raw doubles), and a
    query scans CODES, not vectors, via a per-query lookup table.

    Fit (per subspace, deterministic — no RNG, the DuckDB oracle
    replays it as CTEs): init codebook = the first PQ_K vectors'
    subvectors, one Lloyd round with exact-int64 quantized distances
    (argmin ties → lowest code) and int64-quantized means (see
    PQ_MEAN_SCALE — a stricter float-parity policy than
    `kmeans_assign`'s decimal means, because here the OUTPUT is the
    distance integer itself, not an argmin).

    Search: LUT[qid, s, code] = quantized ||q_s - centroid_{s,code}||²
    (PQ_N_QUERIES × PQ_M × PQ_K rows — tiny, broadcast), then
    approx_dist(q, x) = Σ_s LUT[qid, s, code_s(x)] — an equi-join of the
    code table against the broadcast LUT plus one map-side-combinable
    (qid, cid) sum. The sum is int64-exact, so ranking is
    bit-deterministic.

    At 100 TB: the code table is ~1/100th the corpus bytes; the only
    data-sized operations are one projection pass to encode and one
    broadcast-join + partial-agg scan per query batch. Codebook state is
    M×K×SUBDIM floats on the driver — KB, like MLlib's k-means."""
    emb, cb = _pq_fit_state(spark, sf_dir)
    if not cb:  # empty corpus: no codebook, no results (same schema)
        return emb.select(
            F.col("vec_id").alias("qid"),
            F.col("vec_id").alias("cid"),
            F.lit(0).cast("long").alias("adist"),
            F.lit(0).cast("long").alias("rnk"),
        ).filter(F.lit(False))
    # codebook rides as a broadcast DATA row (see _pq_cb_df): the
    # in-row encode/LUT arithmetic is unchanged, only where the model
    # values live moved — out of the expression tree
    cbr = F.broadcast(_pq_cb_df(spark, cb))
    sub_of = lambda e: F.slice(  # noqa: E731 — row's subspace slice
        F.col("emb"), (e.getField("s") * PQ_SUBDIM + 1).cast("int"), PQ_SUBDIM
    )
    # nearest sub-centroid per subspace, ties to the lowest code id:
    # per codebook entry struct(d, code), struct-min within subspace
    code_entries = F.transform(
        F.col("cbs"),
        lambda e: F.struct(
            e.getField("s").alias("s"),
            _sq_dist_col(sub_of(e), e.getField("cent")).alias("d"),
            e.getField("code").alias("code"),
        ),
    )
    codes = (
        emb.crossJoin(cbr)
        .select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                    lambda s: F.array_min(
                        F.filter(code_entries, lambda e: e.getField("s") == s)
                    ),
                )
            ).alias("e"),
        )
        .select("vec_id", F.col("e.s").alias("s"), F.col("e.code").alias("code"))
    )
    # per-query distance lookup table over the final codebook
    lut = (
        emb.filter(F.col("vec_id") < PQ_N_QUERIES)
        .crossJoin(cbr)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.transform(
                    F.col("cbs"),
                    lambda e: F.struct(
                        e.getField("s").alias("s"),
                        e.getField("code").alias("code"),
                        _sq_dist_col(sub_of(e), e.getField("cent")).alias(
                            "ld"
                        ),
                    ),
                )
            ).alias("e"),
        )
        .select("qid", "e.s", "e.code", "e.ld")
    )
    from pyspark.sql.window import Window as W

    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("ld").alias("adist"))
    )
    w = W.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("qid", "cid", "adist", "rnk")
    )


def _pq_fit_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """Fit the per-subspace PQ codebooks (see `q_ann_pq_topk`'s
    docstring for the math); returns (sliced materialized corpus frame,
    {(s, code): centroid} dict). Resident per (application, sf_dir):
    the fit is deterministic (lowest-id init, one Lloyd round with
    int64-quantized means), so a hit is bit-identical to a fresh fit,
    and both PQ queries (ADC and shortlist+rerank) share one fit. The
    returned codebook is a per-call copy (`_model_copy`)."""

    def build():
        # read by the fit, encode, and LUT passes
        emb = _pq_sliced(
            materialize(
                _emb_double(spark, sf_dir)
                .select("vec_id", "emb")
                .repartition(min(8, spark.sparkContext.defaultParallelism))
            )
        )
        init = emb.filter(F.col("vec_id") < PQ_K).collect()
        cb = {
            (s, int(r["vec_id"])): [
                float(r["emb"][s * PQ_SUBDIM + j]) for j in range(PQ_SUBDIM)
            ]
            for r in init
            for s in range(PQ_M)
        }
        if not cb:  # empty corpus: no codebook
            return emb, {}
        for _ in range(PQ_ITERS):
            # mean update WITHOUT a join: the assignment rides the explode
            # as an array column, element_at picks the row's subspace code
            upd = (
                emb.withColumn("codes", _pq_codes_col(cb))
                .select("codes", F.posexplode("emb").alias("idx", "val"))
                .select(
                    F.floor(F.col("idx") / PQ_SUBDIM).cast("long").alias("s"),
                    (F.col("idx") % PQ_SUBDIM).cast("long").alias("j"),
                    F.element_at(
                        "codes",
                        F.floor(F.col("idx") / PQ_SUBDIM).cast("int") + 1,
                    ).alias("code"),
                    "val",
                )
                .groupBy("s", "code", "j")
                .agg(
                    (
                        (
                            F.sum(
                                F.floor(
                                    F.col("val")
                                    * F.lit(float(PQ_MEAN_SCALE))
                                ).cast("long")
                            ).cast("double")
                            / F.count(F.lit(1)).cast("double")
                        )
                        / F.lit(float(PQ_MEAN_SCALE))
                    ).alias("cval")
                )
                .collect()
            )
            cb = {}
            for r in upd:
                cb.setdefault(
                    (int(r["s"]), int(r["code"])), [0.0] * PQ_SUBDIM
                )[int(r["j"])] = float(r["cval"])
        return emb, cb

    emb, cb = resident(spark, ("pq_fit", sf_dir), build)
    return emb, _model_copy(cb)


PQ_SHORTLIST = 100  # ADC candidates re-ranked exactly per query —
# constant per query (never corpus-proportional); depth picked by the
# measured capture curve at sf0.01: 50→0.867, 75+→0.933 recall@3, so
# 100 holds the ≥0.92 floor with margin against fixture regens


def q_ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ shortlist + exact re-rank — the production ANN serving shape:
    the compressed-code scan (see `q_ann_pq_topk`) produces a
    PQ_SHORTLIST-deep candidate list per query, and only those
    candidates' raw vectors are touched for an exact (int64-quantized,
    bit-deterministic) squared-L2 re-rank to top-PQ_TOP_K.

    Why this exists alongside the pure-ADC query: PQ distances are
    approximations, and on unclustered vectors approximation error
    swamps neighbor gaps (measured recall@3 ≈ 0.2 on the fixture);
    re-ranking the shortlist restores recall ≈ shortlist capture
    (≈ 0.87 measured, pinned in tests/test_ann_recall.py) while still
    never scanning raw vectors corpus-wide: the exact stage touches
    Q × PQ_SHORTLIST rows. This two-stage shape is how FAISS-style
    IVF-PQ indexes serve in practice."""
    full = q_ann_pq_topk(spark, sf_dir, top_k=PQ_SHORTLIST)
    emb = _emb_double(spark, sf_dir).select("vec_id", "emb")
    qe = emb.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qe"))
    ce = emb.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    edist = _sq_dist_col(F.col("qe"), F.col("ce"))
    from pyspark.sql.window import Window as W

    scored = (
        full.select("qid", "cid")
        .join(F.broadcast(qe), "qid")
        .join(ce, "cid")
        .select("qid", "cid", edist.alias("edist"))
    )
    w = W.partitionBy("qid").orderBy(F.col("edist").asc(), F.col("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PQ_TOP_K)
        .select("qid", "cid", "edist", "rnk")
    )


def _oracle_pq(top_k: int = PQ_TOP_K) -> str:
    """The identical PQ fit + ADC search as chained CTEs."""
    qd = (
        "SUM(CAST(FLOOR(((e.val - c.cval) * (e.val - c.cval)) * "
        f"{float(DOT_SCALE)}) AS BIGINT))"
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         UNNEST(generate_series(0, len(embedding) - 1)) // {PQ_SUBDIM} AS s,
         UNNEST(generate_series(0, len(embedding) - 1)) % {PQ_SUBDIM} AS j,
         UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val
  FROM embeddings),
c0 AS (SELECT vec_id AS cid, s, j, val AS cval FROM e
       WHERE vec_id < {PQ_K}),
a1 AS (SELECT vec_id, s, cid AS code FROM (
         SELECT e.vec_id, e.s, c.cid,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                                   ORDER BY {qd}, c.cid) AS rn
         FROM e JOIN c0 c ON e.s = c.s AND e.j = c.j
         GROUP BY e.vec_id, e.s, c.cid) WHERE rn = 1),
c1 AS (SELECT a1.s, a1.code AS cid, e.j,
              (CAST(SUM(CAST(FLOOR(e.val * {float(PQ_MEAN_SCALE)})
                             AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) / {float(PQ_MEAN_SCALE)} AS cval
       FROM e JOIN a1 ON e.vec_id = a1.vec_id AND e.s = a1.s
       GROUP BY a1.s, a1.code, e.j),
a2 AS (SELECT vec_id, s, cid AS code FROM (
         SELECT e.vec_id, e.s, c.cid,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                                   ORDER BY {qd}, c.cid) AS rn
         FROM e JOIN c1 c ON e.s = c.s AND e.j = c.j
         GROUP BY e.vec_id, e.s, c.cid) WHERE rn = 1),
lut AS (SELECT e.vec_id AS qid, e.s, c.cid AS code, {qd} AS ld
        FROM e JOIN c1 c ON e.s = c.s AND e.j = c.j
        WHERE e.vec_id < {PQ_N_QUERIES}
        GROUP BY e.vec_id, e.s, c.cid),
sc AS (SELECT l.qid, a.vec_id AS cid, SUM(l.ld) AS adist
       FROM a2 a JOIN lut l ON l.s = a.s AND l.code = a.code
       WHERE a.vec_id <> l.qid
       GROUP BY l.qid, a.vec_id)
SELECT qid, cid, CAST(adist AS BIGINT) AS adist, rnk FROM (
  SELECT qid, cid, adist,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adist, cid) AS BIGINT) AS rnk
  FROM sc)
WHERE rnk <= {top_k}
"""


def _oracle_pq_rerank() -> str:
    """The ADC shortlist (same CTEs as `_oracle_pq`, depth
    PQ_SHORTLIST) re-ranked by the exact quantized squared-L2 over only
    the shortlisted pairs."""
    qd = (
        "SUM(CAST(FLOOR(((a.val - b.val) * (a.val - b.val)) * "
        f"{float(DOT_SCALE)}) AS BIGINT))"
    )
    base = _oracle_pq(top_k=PQ_SHORTLIST)
    return f"""
WITH sl AS ({base}),
e2 AS (
  SELECT vec_id,
         UNNEST(generate_series(0, len(embedding) - 1)) AS k,
         UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val
  FROM embeddings),
ex AS (SELECT sl.qid, sl.cid, CAST({qd} AS BIGINT) AS edist
       FROM sl JOIN e2 a ON a.vec_id = sl.qid
       JOIN e2 b ON b.vec_id = sl.cid AND b.k = a.k
       GROUP BY sl.qid, sl.cid)
SELECT qid, cid, edist, rnk FROM (
  SELECT qid, cid, edist,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY edist, cid) AS BIGINT) AS rnk
  FROM ex)
WHERE rnk <= {PQ_TOP_K}
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup) — cluster-scoped embedding near-dup pruning
# ---------------------------------------------------------------------------

# Same non-vacuous threshold as the LSH cosine-dedup tier: the fixture
# embeddings are random (max pair cos ≈ 0.51), so 0.4 yields real drops.
from parallelutilities_jl_spark.operators.similarity import (  # noqa: E402
    COSINE_DUP_THRESHOLD as SEMDEDUP_T,
)

# k grows with the corpus so cells stay ~this size and the within-cell
# pair count stays LINEAR in N (k = N/target ⇒ pairs ≈ N·target/2) —
# the SemDeDup paper's own scaling knob. At the oracle scale factors
# (≤2000 vectors) this resolves to the K=8 the static oracle replays;
# the 10x stress tier gets k=80 and must stay ~linear
# (tools/scale_stress.py).
SEMDEDUP_CELL_TARGET = 250


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): fit a coarse
    k-means quantizer, then prune embedding near-duplicates WITHIN each
    learned cluster — exact cosine is only ever computed between vectors
    the quantizer already placed together, never across the corpus.
    Drop rule (deterministic, SQL-expressible): a vector is dropped iff
    some lower-id vector in its cluster has cosine ≥ τ with it — the
    lowest id of every near-dup set survives. Output: per-cluster
    retention census (n_vecs / n_dropped / n_kept), the artifact a
    curriculum builder consumes.

    This differs from `embedding_cosine_dups` (corpus-wide banded
    hyperplane LSH) in the candidate structure: here candidates are the
    learned cells themselves, so recall within a cell is EXACT (no
    banding miss) and the shuffle is one equi-join on the cluster id.
    At 100 TB: k scales ~N/1000 so cells stay bounded and the per-cell
    pair count is O(cell²) with cells of constant size — the paper's
    own scaling argument; the k×dim model state on the driver stays KB.
    Cross-engine parity: the same quantized int64 dot / bit-identical
    sqrt norms as the ANN tier (similarity.DOT_SCALE), so the τ
    threshold cannot flip between Spark and DuckDB.

    FIT/ASSIGN SHAPE (round 12): the quantizer is fit on a BOUNDED
    SAMPLE (`_sampled_fit` — expected SEMDEDUP_FIT_SPC vectors per
    centroid, O(spc·k²·iters) instead of the former full-corpus
    O(N·k_eff·iters) Lloyd, which at k_eff ∝ N was the engine's one
    remaining super-linear fit: N²/cell_target, 43 s at the ×10 stress
    tier). Assignment stays FLAT AND EXACT — every vector against
    every fitted centroid (`_assign`: literal expression at small k,
    broadcast model-table join at k ≥ TWO_LEVEL_JOIN_MIN_K, identical
    integers either way) — which is what distinguishes this query from
    `q_semantic_dedup_scaled`, whose two-level O(√k)-per-row pick is
    approximate at cell boundaries. Exact flat assignment is O(N·k)
    compute but constant plan size; the scaled variant is the shape to
    choose when even that per-row factor matters. The oracle replays
    the sampled fit + flat argmin bit-for-bit
    (`_kmeans_ctes_sampled` + the `asgf` CTE below).
    """
    emb_all, centroids = _sampled_fit(spark, sf_dir)
    # materialize the (vec_id, cluster) assignment before the
    # within-cell self-join (same rationale as the scaled variant:
    # keeps Catalyst planning O(1) in k_eff instead of re-walking the
    # assignment subtree inside the join tree)
    assign = materialize(_assign(emb_all, centroids))
    return _semdedup_prune_census(
        emb_all.join(assign, "vec_id"), n_cells=len(centroids)
    )


def _semdedup_prune_census(
    emb: DataFrame, n_cells: int | None = None
) -> DataFrame:
    """Within-cluster cosine prune + retention census over an assigned
    frame (vec_id, emb, cluster) — shared by both SemDeDup variants.

    SALTED pair join (round-16 optimization, guide-§2.5 shape): the
    pair join keys on `cluster`, so with fewer cells than cores the
    stage runs at k_eff-way parallelism and leaves most of the machine
    idle — at bench scale k_eff = 8 on 32 cores measured the census at
    2.6 s with 0.8 s of actual pair work. Side `a` therefore also keys
    on salt = vec_id % s (deterministic, retry-safe) and side `b`
    replicates s ways, spreading each cell's pair block over s tasks;
    every (ia, ib) pair still appears exactly once (ia owns one salt).
    s derives from the MEASURED cell count vs the session's cores and
    collapses to 1 as k_eff grows past the core count — at production
    cell counts the plan is bit-identical to the unsalted one, so the
    replication factor never touches a corpus-sized shuffle at scale."""
    from parallelutilities_jl_spark.operators.similarity import dot, norm

    cores = emb.sparkSession.sparkContext.defaultParallelism
    # no-information default is the SAFE s=1 (unsalted): a caller that
    # omits the cell count must not silently pay a 32x b-side blow-up
    # on a corpus-sized frame (round-16 advisor); salting only engages
    # when a real measured cell count is passed
    s = (
        1
        if not n_cells
        else max(1, min(32, (4 * cores) // n_cells))
    )
    emb = emb.withColumn("nrm", norm(F.col("emb")))
    a = emb.select(
        "cluster",
        F.col("vec_id").alias("ia"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
        F.pmod(F.col("vec_id"), F.lit(s)).alias("salt"),
    )
    b = emb.select(
        "cluster",
        F.col("vec_id").alias("ib"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
        F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("salt"),
    )
    dropped = (
        a.join(b, ["cluster", "salt"])
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "cluster",
            "ib",
            (
                dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_T)
        .select("cluster", F.col("ib").alias("vec_id"))
        .distinct()
    )
    sizes = emb.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    drops = dropped.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dropped")
    )
    return (
        sizes.join(drops, "cluster", "left")
        .select(
            "cluster",
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")).alias(
                "n_dropped"
            ),
            (
                F.col("n_vecs")
                - F.coalesce(F.col("n_dropped"), F.lit(0).cast("long"))
            ).alias("n_kept"),
        )
    )


def _sampled_fit(
    spark: SparkSession,
    sf_dir: str,
    cell_target: int = SEMDEDUP_CELL_TARGET,
    spc: int = SEMDEDUP_FIT_SPC,
    iters: int = IVF_FIT_ITERS,
) -> tuple[DataFrame, dict[int, list[float]]]:
    """The production coarse-quantizer FIT shared by the scaled
    SemDeDup and trained-cell kNN-graph paths; returns
    (checkpointed (vec_id, emb) corpus frame, fitted centroid dict):

    1. FIT ON A BOUNDED SAMPLE: an expected `spc` vectors per centroid,
       drawn by an exact integer predicate hash·n < 2³²·spc·k_eff
       (hash = (vec_id·KNUTH) mod 2³²) that both engines evaluate
       identically — model quality needs samples-per-centroid, not the
       corpus. Lloyd rounds then touch only sample rows:
       O(spc·k²·iters) instead of O(N·k·iters).
    2. assignment/probing then runs HIERARCHICALLY over the full
       corpus (`_two_level_pick` / `_two_level_probes`): O(√k) per
       row instead of O(k).

    k_eff = max(K, n // cell_target), so cells stay ~constant-size as
    the corpus grows — the property every downstream per-cell
    quadratic (SemDeDup prune, kNN candidate generation) needs to be
    linear in N overall. The oracle replay is `_kmeans_ctes_sampled` +
    `_two_level_pick_ctes`. Resident per (application, sf_dir,
    params): the fit is pure data-derived driver state, so every query
    family sharing the quantizer — scaled SemDeDup, the mutual-kNN
    graph, and its component clustering — reuses one fit per session
    instead of re-running the Lloyd job chain per query (the round-8
    bench re-fit 3×)."""
    from parallelutilities_jl_spark.operators.pipeline import _KNUTH

    def build():
        emb_all = materialize(
            _emb_double(spark, sf_dir)
            .select("vec_id", "emb")
            .filter(F.size("emb") > 0)
            .repartition(min(8, spark.sparkContext.defaultParallelism))
        )
        n = emb_all.count()
        k_eff = max(K, n // cell_target)
        if n:
            # ceil threshold: hash < ceil(2^32·spc·k/n) ⟺ hash·n < 2^32·spc·k
            cap = 2**32 * spc * k_eff
            thresh = -(-cap // n)
            sample = emb_all.filter(
                (F.col("vec_id") * _KNUTH) % F.lit(2**32) < F.lit(thresh)
            )
        else:
            sample = emb_all
        return emb_all, _lloyd_sample(sample, k_eff, iters)

    emb_all, centroids = resident(
        spark, ("sampled_fit", sf_dir, cell_target, spc, iters), build
    )
    return emb_all, _model_copy(centroids)


def q_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, production shape — the linear-quantizer variant of
    `q_semantic_dedup` (which fits on the FULL corpus and assigns flat,
    the knowingly super-linear term in SCALING.md when k ∝ N):
    bounded-sample fit + hierarchical assignment
    (`_sampled_fit` + `_two_level_pick`), then prune + census within
    cells exactly as the flat variant (`_semdedup_prune_census` — that
    stage was always linear, O(cell) per row).

    The fit term is still O(k²) ∝ (N/cell)² with a 1/spc constant — a
    fully linear fit would recurse the two-level hierarchy into the
    Lloyd rounds as well; at the measured tiers the corpus-sized terms
    dominate and this variant removes them. Cluster labels (= sampled
    init ids) differ from the flat variant's by construction; the
    oracle (`_oracle_semantic_scaled`) replays sample, fit, grouping,
    both argmin levels, and the prune bit-for-bit."""
    emb_all, centroids = _sampled_fit(spark, sf_dir)
    # materialize the (vec_id, cluster) assignment before the
    # within-cell self-join for the same reason as _build_mutual_edges:
    # keeps Catalyst planning O(1) in k_eff instead of re-walking the
    # k_eff-centroid argmin expression inside the join tree
    assign = materialize(_two_level_pick(emb_all, centroids))
    return _semdedup_prune_census(
        emb_all.join(assign, "vec_id"), n_cells=len(centroids)
    )


def _semdedup_census_ctes(ctes: list[str], asg: str) -> str:
    """Append the within-cell cosine-prune + retention-census CTEs
    (the SQL replay of `_semdedup_prune_census`) against an existing
    (vec_id, cluster) assignment CTE `asg`; returns the final SELECT.
    Shared by both SemDeDup oracle variants — they differ only in how
    `asg` was produced (flat exact argmin vs two-level pick)."""
    from parallelutilities_jl_spark.operators.similarity import (
        _DD_DOT,
        _DD_LF_CTES,
    )

    ctes.extend(_DD_LF_CTES)
    # pre-attach the cluster to the long-format rows so the pair join
    # keys on the COMPOSITE (cluster, k): the planner then only ever
    # pairs vectors within a cell — Σ_cells cell²·dim intermediate rows
    # instead of the N²·dim/k blowup it picks when cluster equality
    # arrives as a post-join filter through two separate asg joins
    # (measured: the sf0.1 replay dropped ~8x with this shape)
    ctes.append(
        f"lfc AS (SELECT lf.vec_id, lf.k, lf.v, {asg}.cluster "
        f"FROM lf JOIN {asg} ON lf.vec_id = {asg}.vec_id)"
    )
    ctes.append(
        f"dots AS (SELECT a.cluster, a.vec_id AS ia, b.vec_id AS ib, "
        f"{_DD_DOT} AS dot "
        "FROM lfc a JOIN lfc b ON a.k = b.k AND a.cluster = b.cluster "
        "WHERE a.vec_id < b.vec_id GROUP BY 1, 2, 3)"
    )
    ctes.append(
        "drp AS (SELECT DISTINCT cluster, ib AS vec_id FROM dots "
        "JOIN norms na ON na.vec_id = ia "
        "JOIN norms nb ON nb.vec_id = ib "
        f"WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= {SEMDEDUP_T})"
    )
    ctes.append(
        f"sz AS (SELECT cluster, COUNT(*) AS n_vecs FROM {asg} GROUP BY 1)"
    )
    ctes.append(
        "dc AS (SELECT cluster, COUNT(*) AS n_dropped FROM drp GROUP BY 1)"
    )
    return (
        "SELECT sz.cluster, CAST(n_vecs AS BIGINT) AS n_vecs, "
        "CAST(COALESCE(n_dropped, 0) AS BIGINT) AS n_dropped, "
        "CAST(n_vecs - COALESCE(n_dropped, 0) AS BIGINT) AS n_kept "
        "FROM sz LEFT JOIN dc USING (cluster)"
    )


def _oracle_semantic_scaled() -> str:
    ctes, cfin = _kmeans_ctes_sampled(
        IVF_FIT_ITERS, SEMDEDUP_FIT_SPC, SEMDEDUP_CELL_TARGET
    )
    asg = _two_level_pick_ctes(ctes, cfin)
    final = _semdedup_census_ctes(ctes, asg)
    return _assemble(ctes, final)


def _oracle_semantic_dedup() -> str:
    """Replay of `q_semantic_dedup`: the SAME sampled fit as the scaled
    variant (`_kmeans_ctes_sampled` — k_eff and the fit sample computed
    in SQL), then the FLAT exact argmin over every (vector, centroid)
    pair (the `asgf` CTE — the replay of `_assign`), then the shared
    prune + census tail."""
    ctes, cfin = _kmeans_ctes_sampled(
        IVF_FIT_ITERS, SEMDEDUP_FIT_SPC, SEMDEDUP_CELL_TARGET
    )
    ctes.append(f"asgf AS ({_argmin_select('e', cfin)})")
    final = _semdedup_census_ctes(ctes, "asgf")
    return _assemble(ctes, final)


# ---------------------------------------------------------------------------
# Incremental index maintenance: assign a delta batch to existing cells
# ---------------------------------------------------------------------------

DELTA_N = 50  # vec_id < DELTA_N plays the freshly-ingested batch

_DSUM18_COL = "CAST(SUM(CAST({e} AS DECIMAL(38,18))) AS DOUBLE)"


def q_ann_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index delta-maintenance: a freshly-ingested vector batch is
    assigned to the EXISTING coarse cells (cell centroid = per-dim mean
    of the current members, the fixture's `label` standing in for the
    trained cells) — no refit, no driver round-trip. This is the steady-
    state ingest path of an IVF index: training is rare, delta
    assignment is continuous.

    Fully lazy, unlike the fit loop: centroids are a k×dim-row
    aggregate joined BROADCAST onto the exploded delta batch, distances
    re-aggregate per (vec, cell), and the argmin is a struct-min — the
    whole thing is one plan with no collect. At 100 TB the broadcast is
    k×dim rows (KB–MB) and the delta-batch work is O(batch × k × dim),
    independent of corpus size. Assignment math is the same quantized
    int64 distance as `kmeans_assign` (argmin-safe under the decimal
    mean's last-ulp engine drift — see the PQ note for why floors of
    the distance VALUE would not be)."""
    # NULL labels are excluded on both sides: a cell-less vector can
    # neither contribute to a centroid nor be scored for ownership, and
    # NULL ordering in the argmin tiebreak differs between engines
    # (Spark struct-min sorts NULL first, DuckDB ORDER BY puts it last)
    emb_long = (
        _emb_double(spark, sf_dir)
        .filter(F.col("label").isNotNull())
        .select("vec_id", "label", F.posexplode("emb").alias("idx", "val"))
    )
    old = emb_long.filter(F.col("vec_id") >= DELTA_N)
    cent = (
        old.groupBy("label", "idx")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cval")
        )
        .select(F.col("label").alias("cell"), "idx", "cval")
    )
    new = emb_long.filter(F.col("vec_id") < DELTA_N).select(
        "vec_id", F.col("label").alias("own_label"), "idx", "val"
    )
    term = F.floor(
        (F.col("val") - F.col("cval"))
        * (F.col("val") - F.col("cval"))
        * F.lit(float(DOT_SCALE))
    ).cast("long")
    dists = (
        new.join(F.broadcast(cent), "idx")
        .groupBy("vec_id", "own_label", "cell")
        .agg(F.sum(term).alias("d"))
    )
    return (
        dists.groupBy("vec_id", "own_label")
        .agg(
            F.min(
                F.struct(
                    F.col("d"),
                    F.col("cell").cast("long").alias("cell"),
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.cell").alias("cell"),
            (F.col("m.cell") == F.col("own_label"))
            .cast("int")
            .alias("matches_own_label"),
        )
    )


def _oracle_ann_index_delta() -> str:
    qd = (
        "SUM(CAST(FLOOR(((n.val - c.cval) * (n.val - c.cval)) * "
        f"{float(DOT_SCALE)}) AS BIGINT))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, label,
         UNNEST(generate_series(0, len(embedding) - 1)) AS idx,
         UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val
  FROM embeddings WHERE label IS NOT NULL),
cent AS (SELECT label AS cell, idx,
                {_DSUM18_COL.format(e='val')} / COUNT(*) AS cval
         FROM e WHERE vec_id >= {DELTA_N} GROUP BY label, idx),
n AS (SELECT vec_id, label AS own_label, idx, val FROM e
      WHERE vec_id < {DELTA_N}),
d AS (SELECT n.vec_id, n.own_label, c.cell, {qd} AS d
      FROM n JOIN cent c ON c.idx = n.idx
      GROUP BY 1, 2, 3)
SELECT vec_id, cell,
       CAST(CASE WHEN cell = own_label THEN 1 ELSE 0 END AS INT)
         AS matches_own_label
FROM (SELECT vec_id, own_label, CAST(cell AS BIGINT) AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d, cell) AS rn
      FROM d)
WHERE rn = 1
"""


def q_kmeans_assign_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(√k)-per-row hierarchical assignment over the same fitted
    model as `kmeans_assign` — oracle replays fit + grouping + both
    argmin levels exactly (`_oracle_two_level`)."""
    return kmeans_assign_two_level(spark, sf_dir)


# ---------------------------------------------------------------------------
# distributed power iteration: top principal direction of the embedding
# second-moment matrix (the PCA direction embedding-whitening / ABTT
# "all-but-the-top" post-processing removes, Mu & Viswanath 2018,
# arXiv:1702.01417)
# ---------------------------------------------------------------------------

PI_ITERS = 2  # fixed rounds, oracle replays them as chained CTEs
PI_SHIFT = 20  # downshift of the int64 projection before the next matvec


def _power_direction_checkpointed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The resident checkpointed 64-row top-principal-direction frame
    (j, v), built on first consumption per (application, sf_dir, PI
    params) and shared by every downstream consumer
    (`q_embedding_abtt_census` today). The direction query itself
    stays lazy (its measured wall is honest matvec cost); consumers
    that only PROJECT onto the direction checkpoint it once here
    instead of re-running the PI_ITERS-round matvec chain per use (the
    round-10 abtt plan carried 21 exchanges, 19 of them the re-run
    direction chain)."""
    return resident(
        spark,
        ("power_direction", sf_dir, PI_ITERS, PI_SHIFT),
        lambda: materialize(q_embedding_power_iteration(spark, sf_dir)),
    )


def q_embedding_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding
    second-moment matrix by distributed power iteration: v ← normalize
    (Σ_i (x_i·v) x_i), {PI_ITERS} rounds from the deterministic e_0
    init. The direction is what embedding post-processing (whitening,
    all-but-the-top) subtracts, and the iteration is the textbook
    "matrix too big for one node" shape: each round is one broadcast
    join (the 64-row v) + two map-side-combinable aggs — the corpus is
    scanned, never materialized, and no driver state beyond the KB
    model frame (the whole chain stays LAZY — v never collects).

    Cross-engine exactness at every step (float-parity policy):
    projections are the quantized int64 dot (DOT_SCALE), downshifted
    by an ARITHMETIC shift (floor semantics — Spark `shiftright` and
    DuckDB `>>` agree on negatives, unlike int division); component
    sums are exact DECIMAL(38,0) over floor-quantized terms; the only
    float ops are the final cast→divide→sqrt on identical operands.
    Output: (j, v) — the 64 components of the final unit vector.

    N-dependent bound: each component s is a corpus-sized sum of
    floor(w·x) terms with |w| up to ~2^43·S/2^PI_SHIFT ≈ 1e10, so
    |s| ≲ N·1e10 and the norm's Σs² ≲ 64·N²·1e20 — the Spark
    decimal(38,0) square-sum caps at ~1e38, i.e. N ≲ ~1e8 rows per
    fitted model at the current PI_SHIFT (raise PI_SHIFT to buy
    headroom linearly in 4^shift). The oracle squares in HUGEINT
    (int128) for the same reason — a BIGINT s² would overflow loudly
    at large N."""
    emb_long = (
        _emb_double(spark, sf_dir)
        .select("vec_id", F.posexplode("emb").alias("j", "x"))
    )
    v = (
        emb_long.select("j")
        .distinct()
        .select(
            "j",
            F.when(F.col("j") == 0, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("v"),
        )
    )
    for _ in range(PI_ITERS):
        d = (
            emb_long.join(F.broadcast(v), "j")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    F.floor(
                        F.col("x") * F.col("v") * F.lit(float(DOT_SCALE))
                    )
                ).alias("d")
            )
        )
        w = d.select(
            "vec_id", F.shiftright(F.col("d"), PI_SHIFT).alias("w")
        )
        s = (
            emb_long.join(w, "vec_id")
            .groupBy("j")
            .agg(
                F.sum(
                    F.floor(F.col("w") * F.col("x")).cast("decimal(38,0)")
                ).alias("s")
            )
        )
        nrm = s.agg(
            F.sqrt(
                F.sum(F.col("s") * F.col("s")).cast("double")
            ).alias("nrm")
        )
        v = s.crossJoin(F.broadcast(nrm)).select(
            "j", (F.col("s").cast("double") / F.col("nrm")).alias("v")
        )
    return v


def _oracle_power_iteration() -> str:
    S = float(DOT_SCALE)
    sql = """
WITH lf AS (SELECT vec_id,
                   UNNEST(generate_series(1, len(embedding))) AS k,
                   UNNEST(list_transform(embedding, e -> CAST(e AS DOUBLE)))
                     AS x
            FROM embeddings),
dims AS (SELECT DISTINCT k FROM lf),
v0 AS (SELECT k, CASE WHEN k = 1 THEN 1.0 ELSE 0.0 END AS v FROM dims)"""
    prev = "v0"
    for i in range(1, PI_ITERS + 1):
        sql += f""",
d{i} AS (SELECT vec_id,
               CAST(SUM(CAST(FLOOR(x * v * {S}) AS BIGINT)) AS BIGINT) AS d
        FROM lf JOIN {prev} ON {prev}.k = lf.k GROUP BY vec_id),
w{i} AS (SELECT vec_id, d >> {PI_SHIFT} AS w FROM d{i}),
s{i} AS (SELECT k, SUM(CAST(FLOOR(w * x) AS BIGINT)) AS s
        FROM lf JOIN w{i} USING (vec_id) GROUP BY k),
n{i} AS (SELECT SQRT(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) AS nrm FROM s{i}),
v{i} AS (SELECT k, CAST(s AS DOUBLE) / nrm AS v
        FROM s{i} CROSS JOIN n{i})"""
        prev = f"v{i}"
    sql += f"""
SELECT CAST(k - 1 AS INT) AS j, v FROM {prev}
"""
    return sql


def q_embedding_abtt_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All-but-the-top diagnostics (Mu & Viswanath 2018,
    arXiv:1702.01417): per coarse cell, what fraction of embedding
    second-moment energy the corpus' top principal direction carries —
    the number that says whether ABTT post-processing (subtracting the
    common direction) is worth applying, and per-cell because a cell
    whose energy is dominated by the common direction clusters by
    artifact, not meaning. Composes LAZILY on the power-iteration
    direction: f_top(cell) = Σ(x·v)² / Σ|x|², resid = 1 − f_top.

    Exactness: projections are the quantized int64 dot against the
    (bit-identical) direction v; squares and self-dots sum in
    DECIMAL(38,0); the only float ops are the final cast → multiply →
    divide on identical operands. Int64/decimal bounds: |d| ≤ 6e15 so
    d² ≤ 3.6e31, × cell size ≤ 1e6 stays < 1e38.

    Scale shape: one broadcast of the 64-row direction, one projection
    pass, one per-cell agg — all map-side combinable. Rides the
    application-shared checkpointed direction frame
    (`_power_direction_checkpointed`): the matvec chain is built (and
    paid for) once per application; this query's steady-state wall is
    the census itself."""
    v = _power_direction_checkpointed(spark, sf_dir)
    emb = _emb_double(spark, sf_dir)
    emb_long = emb.select(
        "vec_id", F.posexplode("emb").alias("j", "x")
    )
    d = (
        emb_long.join(F.broadcast(v), "j")
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.floor(
                    F.col("x") * F.col("v") * F.lit(float(DOT_SCALE))
                )
            ).alias("d")
        )
    )
    from parallelutilities_jl_spark.operators.similarity import dot

    q = emb.select(
        "vec_id", "label", dot(F.col("emb"), F.col("emb")).alias("qq")
    )
    agg = (
        q.join(d, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.col("d").cast("decimal(38,0)")
                * F.col("d").cast("decimal(38,0)")
            ).alias("sd2"),
            F.sum(F.col("qq").cast("decimal(38,0)")).alias("sq"),
        )
    )
    f_top = F.col("sd2").cast("double") / (
        F.col("sq").cast("double") * F.lit(float(DOT_SCALE))
    )
    return agg.select(
        "label",
        "n_vecs",
        f_top.alias("f_top"),
        (F.lit(1.0) - f_top).alias("resid_frac"),
    )


def _oracle_abtt_census() -> str:
    S = float(DOT_SCALE)
    pi_sql = _oracle_power_iteration()
    return f"""
WITH vfin AS (SELECT j, v FROM ({pi_sql})),
lfl AS (SELECT vec_id, label,
               UNNEST(generate_series(1, len(embedding))) AS k,
               UNNEST(list_transform(embedding, e -> CAST(e AS DOUBLE)))
                 AS x
        FROM embeddings),
d AS (SELECT vec_id,
             CAST(SUM(CAST(FLOOR(x * v * {S}) AS BIGINT)) AS BIGINT) AS d
      FROM lfl JOIN vfin ON vfin.j = lfl.k - 1 GROUP BY vec_id),
q AS (SELECT vec_id, ANY_VALUE(label) AS label,
             CAST(SUM(CAST(FLOOR(x * x * {S}) AS BIGINT)) AS BIGINT) AS qq
      FROM lfl GROUP BY vec_id),
agg AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               SUM(CAST(d AS HUGEINT) * d) AS sd2,
               SUM(CAST(qq AS HUGEINT)) AS sq
        FROM q JOIN d USING (vec_id) GROUP BY label)
SELECT label, n_vecs,
       CAST(sd2 AS DOUBLE) / (CAST(sq AS DOUBLE) * {S}) AS f_top,
       1.0 - CAST(sd2 AS DOUBLE) / (CAST(sq AS DOUBLE) * {S})
         AS resid_frac
FROM agg
"""


# Within-group probe cells carried per vector. Swept at the round-10
# knee of the recall/cost curve (sf0.01 edge recall / sf0.1 graph wall):
# nprobe=2 → 0.659 @ 2.9 s, nprobe=3 → 0.784 @ 3.8 s, nprobe=4 → 0.800
# @ 5.1 s — 3 buys +0.125 recall for 1.28× wall, 4 only +0.016 more for
# another 1.36×. (Group-level multiprobe is untestable at fixture scale:
# k_eff=8 → 2 super-groups, so probing a second group is probing
# everything — recall 1.0 at 2.7× wall, not a knee.)
KNN_GRAPH_NPROBE = 3

def _mutual_edges_checkpointed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The resident checkpointed mutual-edge frame (src, dst,
    score_e6), built on first consumption per (application, sf_dir,
    graph params) and shared by every downstream consumer
    (`q_knn_components` today). The graph build itself materializes
    only its half-scored pair frame (its wall stays honest
    edge-generation cost); consumers that iterate over the edges
    checkpoint the FINAL edge list once here instead of re-running the
    full fit/probe/score/top-k chain per use (the round-9 bench paid
    that chain twice: 3.5 s graph + inside the 9.7 s components)."""
    return resident(
        spark,
        ("mutual_edges", sf_dir, KNN_GRAPH_NPROBE),
        lambda: materialize(_build_mutual_edges(spark, sf_dir)),
    )


def _build_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus — the backbone
    artifact of graph-based semantic dedup / diversity clustering: an
    undirected edge (src, dst) exists iff each endpoint appears in the
    other's cosine top-k among its CELL-BOUNDED candidates (mutuality
    is the standard denoiser: one-sided neighbors of a hub node are
    dropped). Emits (src, dst, score_e6), src < dst.

    Scale shape — this is the corpus×corpus case (EVERY vector is a
    query, unlike `ann_ivf_topk`'s probe set), so candidate cells MUST
    stay constant-size as the corpus grows: cells come from the shared
    production quantizer (`_sampled_fit`: bounded-sample Lloyd fit,
    k_eff ∝ N/cell_target, O(√k) hierarchical probing) — NOT from a
    fixture attribute whose cells grow with N and make the per-cell
    pair work quadratic (the round-8 shape, measured 29.8× wall at 10×
    rows; SCALING.md). Each vector carries its top-{KNN_GRAPH_NPROBE}
    within-group cells (`_two_level_probes`); two vectors are
    candidates when their probe sets share a cell — the symmetric
    multi-probe that recovers near-neighbor pairs the single-cell
    partition splits (measured edge recall 0.349 → 0.659 → 0.784 at
    sf0.01 for nprobe 1/2/3, RECALL.md) at ≤ nprobe²× pair work, still
    O(N·cell) — linear in N.
    Per-node top-k is a window over cell-bounded candidate lists; the
    mutuality check is one pair-keyed count over the (N·k)-row directed
    edge list (both directions of a mutual pair carry the identical
    score, so "appears twice under its unordered key" ⟺ mutual — no
    transpose self-join). Cosine is the quantized int64 dot
    (DOT_SCALE) shared with every ANN tier, and floor(x·y·S) =
    floor(y·x·S) exactly, so the symmetric pair carries one
    well-defined score in both engines; a pair meeting in several
    probe cells is scored once, in its minimum shared cell — the row
    set is identical to a max()-dedup because every duplicate row
    would carry the identical bit-exact cosine.
    The oracle replays sample, fit, grouping, and both argmin levels
    bit-for-bit (`_oracle_knn_mutual`)."""
    from parallelutilities_jl_spark.operators.similarity import (
        KNN_GRAPH_K,
        _topk,
        dot,
        norm,
    )

    emb_all, centroids = _sampled_fit(spark, sf_dir)
    # Materialize the probe-assignment frame ((vec_id, cluster)·nprobe
    # rows — 2 longs/row, the IVF index's assignment table) before it
    # enters the join chain: the k_eff-centroid argmin CASE expression
    # is cheap to EXECUTE (O(√k)/row) but embedding it inside the
    # self-join+agg tree makes every Catalyst optimizer pass re-walk
    # it — measured 33 s of driver-side planning per invocation at the
    # 10× tier (k_eff=80) vs 0.8 s to just run it. Planning cost must
    # stay O(1) in k_eff: k_eff ∝ N makes an inlined expression a
    # planning-time scale bomb long before execution hurts.
    # Each row additionally carries the vector's full sorted probe-cell
    # set (nprobe longs): the pair join below keeps a joined row only
    # when its cell is the pair's FIRST (minimum) shared probe cell —
    # the simhash census's first-agreeing-band trick (round 17). A pair
    # sharing 2-3 probe cells then survives exactly once BEFORE the
    # cosine is computed, so the duplicate dot work disappears and the
    # pair-keyed max() dedup exchange (O(pairs) rows) is deleted
    # outright (guide §2.3/§2.4). Measured at sf0.1: 2.28 M scored
    # rows -> 1 per distinct pair; interleaved same-boot duel
    # 3.33/2.54 s -> 2.22/2.17 s.
    pset = materialize(
        _two_level_probes(emb_all, centroids, KNN_GRAPH_NPROBE)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_set("cluster")).alias("pcells"))
    )
    probes = pset.select(
        "vec_id", "pcells", F.explode("pcells").alias("cluster")
    )
    emb = emb_all.withColumn("nrm", norm(F.col("emb"))).join(
        probes, "vec_id"
    )
    # The qid repartition looks redundant (the join's own
    # ENSURE_REQUIREMENTS exchange on cell immediately follows) but is
    # load-bearing, re-measured in round 11: WITHOUT it the join-stage
    # coalescing/skew heuristics run the compute-bound pair expansion
    # through ~2 size-coalesced tasks (one-chain wall 12.5 s at sf0.1
    # vs 3.0 s with it), and repartitioning by CELL instead — which
    # would let the join reuse the exchange — pins a user-specified
    # partitioning that disables AQE's skew-splitting of the quadratic
    # per-cell expansion (8.4 s). Two AQE-managed cell exchanges fed by
    # a well-split input is the fast physical shape.
    a = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("cluster").alias("cell"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("pcells").alias("qcells"),
    ).repartition(spark.sparkContext.defaultParallelism, "qid")
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("cluster").alias("cell"),
        F.col("emb").alias("ce"),
        F.col("nrm").alias("cn"),
        F.col("pcells").alias("ccells"),
    )
    # score each UNORDERED pair once (qid < cid), in its FIRST shared
    # probe cell only (cell == min(qcells ∩ ccells): exactly one of a
    # pair's shared cells satisfies it, so one row per distinct pair
    # survives — the filter runs before the projection, so duplicate
    # rows never pay the dot), and mirror the row — cosine is symmetric
    # bit-exactly (floor(x·y·S) = floor(y·x·S)), so this halves the
    # dominant per-cell dot work vs scoring both directions of the
    # expanded join
    half = (
        a.join(c, "cell")
        .filter(
            (F.col("qid") < F.col("cid"))
            & (
                F.col("cell")
                == F.array_min(
                    F.array_intersect(F.col("qcells"), F.col("ccells"))
                )
            )
        )
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qe"), F.col("ce"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    # Mirror via explode, NOT a self-union: a union's two branches each
    # re-plan the entire scored chain (round-10 verdict: duplicated
    # SortMergeJoin subtrees) — AQE stage reuse dedupes the SHUFFLES at
    # runtime, but the join-stage work (the quantized dots, the
    # dominant term) still executed once per branch, negating the
    # qid < cid halving. Exploding a 2-element array of (row, mirrored
    # row) structs emits both directions inside the SAME stage: the
    # scored chain plans and executes exactly once, the mirror is a
    # narrow flatmap, and nothing needs materializing (a round-11
    # materialized variant re-paid the whole pair frame as
    # serialization — a wash at the 10x tier where the pair list is
    # 18M rows).
    pair = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("qid"), F.col("cid"), F.col("cos")
                ),
                F.struct(
                    F.col("cid").alias("qid"),
                    F.col("qid").alias("cid"),
                    F.col("cos"),
                ),
            )
        ).alias("e")
    ).select("e.qid", "e.cid", "e.cos")
    topk = _topk(pair, KNN_GRAPH_K).select("qid", "cid", "score_e6")
    # mutuality without the transpose self-join: the directed top-k list
    # has one row per direction and both directions of a pair carry the
    # bit-identical score, so an edge is mutual iff its UNORDERED key
    # appears exactly twice — one map-side-combinable pair-keyed shuffle
    # instead of re-shuffling both join sides
    return (
        topk.groupBy(
            F.least("qid", "cid").alias("src"),
            F.greatest("qid", "cid").alias("dst"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_dir"),
            F.max("score_e6").alias("score_e6"),
        )
        .filter(F.col("n_dir") == 2)
        .select("src", "dst", "score_e6")
    )


def q_knn_mutual_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mutual k-NN graph (see `_build_mutual_edges` for semantics
    and scale shape). The plan is lazy except the probe-assignment
    materialization (planning must stay O(1) in k_eff) and the scored
    chain executes exactly once (explode-mirror, no self-union), so
    the construction query's measured wall IS edge-generation cost;
    iterating consumers share the resident checkpointed frame via
    `_mutual_edges_checkpointed` instead of re-running this chain per
    use."""
    return _build_mutual_edges(spark, sf_dir)


def _oracle_knn_mutual() -> str:
    """SQL replay of `q_knn_mutual_graph`: the sampled-fit CTEs
    (identical to `_oracle_semantic_scaled`'s quantizer replay), the
    top-{KNN_GRAPH_NPROBE} within-group probe rows (rn <= nprobe), the
    DISTINCT probe-overlap candidate pairs (the Spark side's
    max-dedup), then quantized cosine, per-query top-k, and the
    transpose self-join mutuality filter."""
    from parallelutilities_jl_spark.operators.similarity import (
        _DD_DOT,
        _DD_LF_CTES,
        KNN_GRAPH_K,
    )

    ctes, cfin = _kmeans_ctes_sampled(
        IVF_FIT_ITERS, SEMDEDUP_FIT_SPC, SEMDEDUP_CELL_TARGET
    )
    prb = _two_level_pick_ctes(ctes, cfin, nprobe=KNN_GRAPH_NPROBE)
    ctes.extend(_DD_LF_CTES)
    # unordered pairs scored once, mirrored after (cosine is symmetric
    # bit-exactly) — same halving the Spark side does
    ctes.append(
        "cand AS (SELECT DISTINCT pa.vec_id AS qid, pb.vec_id AS cid "
        f"FROM {prb} pa JOIN {prb} pb ON pb.cluster = pa.cluster "
        "AND pb.vec_id > pa.vec_id)"
    )
    # route the scoring join THROUGH cand on composite (vec_id, k)
    # keys — same planner fix as _semdedup_census_ctes/_oracle_cosine_
    # dups: with a bare a.k = b.k join available DuckDB front-loads the
    # N²·dim lf self-join before applying cand (sf0.1 replay ~35 s →
    # ~2 s with the pair-list-first shape)
    ctes.append(
        "pq AS (SELECT cand.qid, cand.cid, a.k, a.v "
        "FROM cand JOIN lf a ON a.vec_id = cand.qid)"
    )
    ctes.append(
        f"dots AS (SELECT a.qid, a.cid, "
        f"{_DD_DOT} AS dot "
        "FROM pq a JOIN lf b ON b.vec_id = a.cid AND b.k = a.k "
        "GROUP BY 1, 2)"
    )
    ctes.append(
        "scored AS (SELECT qid, cid, "
        "CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos "
        "FROM dots JOIN norms nq ON nq.vec_id = qid "
        "JOIN norms nc ON nc.vec_id = cid)"
    )
    ctes.append(
        "bidir AS (SELECT qid, cid, cos FROM scored "
        "UNION ALL SELECT cid, qid, cos FROM scored)"
    )
    ctes.append(
        "tk AS (SELECT qid, cid, cos FROM ("
        "SELECT qid, cid, cos, ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY cos DESC, cid) AS rnk FROM bidir) "
        f"WHERE rnk <= {KNN_GRAPH_K})"
    )
    final = (
        "SELECT x.qid AS src, x.cid AS dst, "
        "CAST(FLOOR(x.cos * 1e6) AS BIGINT) AS score_e6 "
        "FROM tk x JOIN tk y ON x.qid = y.cid AND x.cid = y.qid "
        "WHERE x.qid < x.cid"
    )
    return _assemble(ctes, final)


def q_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clusters as graph components: connected components over
    the MUTUAL k-NN edge list (`q_knn_mutual_graph`, trained cells) — the
    graph-clustering step that turns pairwise neighbor evidence into
    deduplicatable groups, the same shape text dedup uses over MinHash
    pairs (`dedup.connected_components`, min-label propagation to the
    unique fixpoint; recursive-CTE oracle). Output: (vec_id,
    component_id = min member id) for every vector that has at least
    one mutual neighbor.

    At 100 TB: edges are N·k-bounded (mutual top-k within cells, never
    all-pairs), components are shallow (semantic clusters, not chains),
    and each propagation round is one node-keyed shuffle over the edge
    list. Rides the application-shared checkpointed edge frame
    (`_mutual_edges_checkpointed`): the graph is built (and paid for)
    once per application; this query's steady-state wall is the
    propagation itself."""
    from parallelutilities_jl_spark.operators.dedup import (
        connected_components,
    )

    edges = _mutual_edges_checkpointed(spark, sf_dir).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    return connected_components(edges).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )


def _oracle_knn_components() -> str:
    # e2/und MATERIALIZED: the edge subquery is now the full trained-
    # quantizer replay; without the hint DuckDB's default inlining
    # re-evaluates it per recursion round of `reach` (measured 120 s →
    # seconds, same pathology `_assemble` documents for the fit chain)
    edge_sql = _oracle_knn_mutual()
    return f"""
WITH RECURSIVE
e2 AS MATERIALIZED (SELECT src AS doc_a, dst AS doc_b FROM ({edge_sql})),
und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM e2
        UNION ALL SELECT doc_b, doc_a FROM e2),
reach(n, m) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.n, und.v FROM reach r JOIN und ON r.m = und.u
)
SELECT n AS vec_id, MIN(m) AS component_id FROM reach GROUP BY n
"""


QUERIES = {
    "kmeans_assign": q_kmeans_assign,
    "kmeans_assign_two_level": q_kmeans_assign_two_level,
    "ivf_trained_census": q_ivf_trained_topk,
    "ann_ivf_trained_topk": q_ann_ivf_trained,
    "ann_ivf_multiprobe_topk": q_ann_ivf_multiprobe,
    "ann_nprobe_plan": q_ann_nprobe_plan,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_rerank_topk": q_ann_pq_rerank_topk,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_scaled": q_semantic_dedup_scaled,
    "ann_index_delta": q_ann_index_delta,
    "embedding_power_iteration": q_embedding_power_iteration,
    "knn_mutual_graph": q_knn_mutual_graph,
    "knn_components": q_knn_components,
    "embedding_abtt_census": q_embedding_abtt_census,
}

ORACLES = {
    "kmeans_assign": _oracle_kmeans(),
    "kmeans_assign_two_level": _oracle_two_level(),
    "ivf_trained_census": _oracle_ivf_census(),
    "ann_ivf_trained_topk": _oracle_ivf_trained(),
    "ann_ivf_multiprobe_topk": _oracle_ivf_multiprobe(),
    "ann_nprobe_plan": _oracle_nprobe_plan(),
    "ann_pq_topk": _oracle_pq(),
    "ann_pq_rerank_topk": _oracle_pq_rerank(),
    "semantic_dedup": _oracle_semantic_dedup(),
    "semantic_dedup_scaled": _oracle_semantic_scaled(),
    "ann_index_delta": _oracle_ann_index_delta(),
    "embedding_power_iteration": _oracle_power_iteration(),
    "knn_mutual_graph": _oracle_knn_mutual(),
    "knn_components": _oracle_knn_components(),
    "embedding_abtt_census": _oracle_abtt_census(),
}
