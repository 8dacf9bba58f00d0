"""Training-data pipeline operators over `documents` — deterministic
splits, paragraph-level dedup, benchmark-contamination checks, and the
canonical filter chain (BASELINE.json north star; SURVEY §7 phase 5).

These are the corpus-preparation steps between raw crawl and tokenizer:
assign reproducible train/val/test partitions, drop boilerplate spans
duplicated across documents, verify the corpus does not contain the eval
benchmark, and apply the lang/length/quality keep-rules. Everything is
portable scalar SQL (no UDF, no RNG — splits and hashes are pure integer
arithmetic / md5, so the DuckDB oracle evaluates identical formulas and
re-runs are bit-stable).

At 100 TB:
* `hash_split` / `filter_pipeline` are embarrassingly-parallel
  projections — one scan, the only shuffle is the tiny stats agg.
* `paragraph_dedup` shuffles once on chunk-hash (same shape as
  dedup_exact); hot chunks are bounded by the per-group count agg.
* `contamination_check` equi-joins corpus shingles against the eval
  set's; the eval side (a benchmark suite) is orders of magnitude
  smaller than the corpus, so it broadcasts and the corpus side never
  shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.functions import texthash as TH
from parallelutilities_jl_spark.operators.text import (
    LANG_MARKERS,
    dd_quality_score,
    quality_parts,
)
from parallelutilities_jl_spark.session import materialize, resident
from parallelutilities_jl_spark.sources.fixtures import (
    EVAL_SOURCE,
    load_table,
    load_table_parallel,
)

# Knuth multiplicative hash — identical BIGINT arithmetic in Spark and
# DuckDB (doc_id is small enough that the product cannot overflow ANSI
# bigint), so split assignment is reproducible across engines and runs.
_KNUTH = 2654435761
_SPLIT_BUCKETS = 100
_TRAIN_LT, _VAL_LT = 80, 90  # 80/10/10

_CHUNK_WORDS = 10  # "paragraph" span for chunk-level dedup
_CONTAM_K = 5  # shingle width for contamination screening


def _bucket_col() -> F.Column:
    return (F.col("doc_id") * _KNUTH) % (2**32) % _SPLIT_BUCKETS


_DD_BUCKET = f"(doc_id * {_KNUTH}) % {2**32} % {_SPLIT_BUCKETS}"


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) from a
    multiplicative hash of the stable doc_id — no RNG, so the split is
    identical on every run, every engine, every cluster size. Emits the
    per-split × per-lang census a pipeline run logs."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket_col()
    split = (
        F.when(b < _TRAIN_LT, "train")
        .when(b < _VAL_LT, "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


ORACLE_HASH_SPLIT = f"""
SELECT CASE WHEN {_DD_BUCKET} < {_TRAIN_LT} THEN 'train'
            WHEN {_DD_BUCKET} < {_VAL_LT} THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (fixed word-window) dedup census: split each doc
    into {_CHUNK_WORDS}-word chunks, md5 them, and report per-source how
    much of the text is boilerplate (chunks also appearing elsewhere in
    the corpus). The dedup itself is the same groupBy(chunk-hash) that
    would keep min(doc_id) as the canonical copy; here we emit the
    measurement a pipeline logs before/after."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    n_chunks = F.ceil(
        F.size(F.col("ws")) / float(_CHUNK_WORDS)
    ).cast("int")
    chunks = (
        docs.select(
            "doc_id", "source", TH.words(F.col("text")).alias("ws")
        )
        .filter(F.size("ws") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("ws"),
                            i * _CHUNK_WORDS + 1,
                            _CHUNK_WORDS,
                        ),
                        " ",
                    ),
                )
            ).alias("chunk"),
        )
        .select("doc_id", "source", F.md5("chunk").alias("h"))
    )
    # corpus-wide frequency per chunk-hash, then per-source boilerplate rate
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        chunks.join(freq, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias(
                "n_boilerplate_chunks"
            ),
            F.countDistinct("h").alias("n_distinct_chunks"),
        )
    )


_DD_WS = TH.dd_words("text")
ORACLE_PARAGRAPH_DEDUP = f"""
WITH w AS (SELECT doc_id, source, {_DD_WS} AS ws FROM documents),
c AS (SELECT doc_id, source,
             md5(UNNEST(list_transform(
                 generate_series(0, CAST(CEIL(len(ws) / {_CHUNK_WORDS}.0)
                                         AS BIGINT) - 1),
                 i -> array_to_string(
                     ws[i * {_CHUNK_WORDS} + 1 : i * {_CHUNK_WORDS}
                        + {_CHUNK_WORDS}], ' ')))) AS h
      FROM w WHERE len(ws) >= 1),
f AS (SELECT h, COUNT(*) AS cnt FROM c GROUP BY h)
SELECT source, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate_chunks,
       COUNT(DISTINCT c.h) AS n_distinct_chunks
FROM c JOIN f ON c.h = f.h
GROUP BY source
"""


# EVAL_SOURCE is defined with the fixture loaders and re-exported here


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: which corpus docs share a
    {_CONTAM_K}-word shingle with the eval set (here: documents from
    EVAL_SOURCE)? The eval side is tiny relative to the corpus (a
    benchmark suite vs a crawl), so its distinct shingles broadcast and
    the corpus side is a scan + broadcast-hash-join — no corpus shuffle
    until the tiny per-doc agg."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    ws = TH.words(F.col("text"))
    sh = (
        docs.select("doc_id", "source", ws.alias("ws"))
        .filter(F.size("ws") >= _CONTAM_K)
        .select(
            "doc_id",
            "source",
            F.explode(TH.shingles(F.col("ws"), _CONTAM_K)).alias("s"),
        )
    )
    eval_sh = (
        sh.filter(F.col("source") == EVAL_SOURCE)
        .select(F.col("s").alias("es"), F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    corpus_sh = sh.filter(F.col("source") != EVAL_SOURCE)
    return (
        corpus_sh.join(F.broadcast(eval_sh), corpus_sh.s == eval_sh.es)
        .groupBy("doc_id", "source")
        .agg(
            F.countDistinct("s").alias("n_shared_shingles"),
            F.countDistinct("eval_doc").alias("n_eval_docs_hit"),
        )
    )


ORACLE_CONTAMINATION = f"""
WITH w AS (SELECT doc_id, source, {_DD_WS} AS ws FROM documents),
sh AS (SELECT doc_id, source,
              UNNEST({TH.dd_shingles('ws', _CONTAM_K)}) AS s
       FROM w WHERE len(ws) >= {_CONTAM_K}),
ev AS (SELECT DISTINCT s AS es, doc_id AS eval_doc FROM sh
       WHERE source = '{EVAL_SOURCE}')
SELECT doc_id, source,
       COUNT(DISTINCT s) AS n_shared_shingles,
       COUNT(DISTINCT eval_doc) AS n_eval_docs_hit
FROM sh JOIN ev ON sh.s = ev.es
WHERE source <> '{EVAL_SOURCE}'
GROUP BY doc_id, source
"""


def q_source_overlap_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source redundancy matrix — the data-mixing diagnostic:
    for every ordered source pair (src_a, src_b), how many of src_a's
    distinct {_CONTAM_K}-word shingles also occur in src_b, and the
    fraction of src_a that is (n_shared·10⁶ div n_src_a, exact integer
    division). This is the table that decides dedup ORDER and mixture
    weights: a source mostly contained in another contributes little
    novel text at its full weight (cf. the within-pipeline
    `contamination_check`, which screens one eval source against the
    rest — this is the all-pairs census of the corpus against itself).

    Scale shape: one corpus-sized DISTINCT over (shingle-md5, source)
    — md5 keys so the shuffle carries fixed-width keys, same as the
    MinHash tier — then a groupBy(shingle) collect_set(source) whose
    arrays are bounded by the SOURCE COUNT (a config-sized constant,
    ~20 here), an exploded source-pair fan-out bounded by S² per
    shingle, and an S²-row join against per-source totals. No
    corpus×corpus join at any size; every agg is map-side combinable.
    Emits only pairs with n_shared > 0."""
    pairs, totals = _source_overlap_matrix(spark, sf_dir)
    return pairs


def _source_overlap_matrix(spark: SparkSession, sf_dir: str):
    """Shared containment-matrix builder for the census and the
    dedup-order planner: returns (pairs, totals) where pairs is the
    S²-bounded (src_a, src_b, n_shared, n_src_a, frac_e6) frame and
    totals the per-source distinct-shingle counts."""
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ws = TH.words(F.col("text"))
    sh = (
        docs.select("source", ws.alias("ws"))
        .filter(F.size("ws") >= _CONTAM_K)
        .select(
            "source",
            F.explode(TH.shingles(F.col("ws"), _CONTAM_K)).alias("s"),
        )
        .select("source", F.md5("s").alias("h"))
        .distinct()
    )
    # the deduped (source, md5) frame feeds totals, the per-shingle
    # source sets, and (in the planner) a second totals consumer — each
    # with different column pruning, so Catalyst cannot reuse the
    # exchange across them and would otherwise re-run the corpus-sized
    # shingle distinct per subtree; resident, so the census and the
    # planner share it
    sh = resident(spark, ("overlap_shingles", sf_dir), lambda: materialize(sh))
    totals = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_src_a"))
    srcs = sh.groupBy("h").agg(F.collect_set("source").alias("ss"))
    pairs = (
        srcs.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ss",
                        lambda a: F.filter(
                            F.transform(
                                "ss",
                                lambda b: F.struct(
                                    a.alias("src_a"), b.alias("src_b")
                                ),
                            ),
                            lambda p: p.getField("src_a")
                            != p.getField("src_b"),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.src_a").alias("src_a"),
            F.col("p.src_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = pairs.join(
        F.broadcast(totals), pairs.src_a == totals.source
    ).select(
        "src_a",
        "src_b",
        "n_shared",
        "n_src_a",
        F.expr("(n_shared * 1000000) div n_src_a").alias("frac_e6"),
    )
    return out, totals


def q_dedup_order_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-order planner over the containment matrix (round-12
    verdict item 7): the order in which a sequential keep-first dedup
    pass (Bloom/signature-store ingest, `incremental_dedup` tier)
    should process sources. Earlier sources KEEP their copy of any
    duplicated content, so the planner ranks MOST-NOVEL sources first:
    ascending worst-case containment (the max fraction of the source's
    shingles found in any single other source), then ascending total
    containment, then source name — every key exact-integer, so both
    engines produce the identical permutation.

    Scale shape: the corpus-sized work is exactly the census's (one
    fixed-width distinct + S-bounded collect_set); everything the
    planner adds — the per-source argmax via a window over the S²-row
    matrix, the zero-fill join for fully-novel sources, the S-row
    ranking window — is bounded by the config-sized source count, not
    the corpus."""
    from pyspark.sql.window import Window as W

    pairs, totals = _source_overlap_matrix(spark, sf_dir)
    w_top = W.partitionBy("src_a").orderBy(
        F.col("frac_e6").desc(), F.col("src_b").asc()
    )
    per_src = (
        pairs.withColumn("rn", F.row_number().over(w_top))
        .groupBy("src_a")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("src_b"))).alias(
                "top_overlap_src"
            ),
            F.max("frac_e6").alias("top_containment_e6"),
            F.sum("frac_e6").alias("sum_containment_e6"),
        )
    )
    full = (
        totals.join(
            per_src, totals.source == per_src.src_a, "left"
        )
        .select(
            F.col("source").alias("src"),
            F.col("n_src_a").alias("n_shingles"),
            "top_overlap_src",
            F.coalesce("top_containment_e6", F.lit(0)).alias(
                "top_containment_e6"
            ),
            F.coalesce("sum_containment_e6", F.lit(0)).alias(
                "sum_containment_e6"
            ),
        )
    )
    w_rank = W.orderBy(
        F.col("top_containment_e6").asc(),
        F.col("sum_containment_e6").asc(),
        F.col("src").asc(),
    )
    return full.withColumn(
        "dedup_rank", F.row_number().over(w_rank).cast("long")
    )


ORACLE_SOURCE_OVERLAP = f"""
WITH w AS (SELECT source, {_DD_WS} AS ws FROM documents
           WHERE text IS NOT NULL),
sh AS (SELECT DISTINCT source, md5(s) AS h
       FROM (SELECT source,
                    UNNEST({TH.dd_shingles('ws', _CONTAM_K)}) AS s
             FROM w WHERE len(ws) >= {_CONTAM_K})),
tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
ov AS (SELECT a.source AS src_a, b.source AS src_b,
              CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM sh a JOIN sh b ON a.h = b.h AND a.source <> b.source
       GROUP BY 1, 2)
SELECT src_a, src_b, n_shared, t.n AS n_src_a,
       (n_shared * 1000000) // t.n AS frac_e6
FROM ov JOIN tot t ON t.source = ov.src_a
"""


ORACLE_DEDUP_ORDER = f"""
WITH w AS (SELECT source, {_DD_WS} AS ws FROM documents
           WHERE text IS NOT NULL),
sh AS (SELECT DISTINCT source, md5(s) AS h
       FROM (SELECT source,
                    UNNEST({TH.dd_shingles('ws', _CONTAM_K)}) AS s
             FROM w WHERE len(ws) >= {_CONTAM_K})),
tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
ov AS (SELECT a.source AS src_a, b.source AS src_b,
              CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM sh a JOIN sh b ON a.h = b.h AND a.source <> b.source
       GROUP BY 1, 2),
mat AS (SELECT src_a, src_b,
               (n_shared * 1000000) // t.n AS frac_e6
        FROM ov JOIN tot t ON t.source = ov.src_a),
per AS (SELECT src_a,
               MAX(CASE WHEN rn = 1 THEN src_b END) AS top_overlap_src,
               MAX(frac_e6) AS top_containment_e6,
               CAST(SUM(frac_e6) AS BIGINT) AS sum_containment_e6
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY src_a
                ORDER BY frac_e6 DESC, src_b ASC) AS rn FROM mat)
        GROUP BY src_a)
SELECT t.source AS src, t.n AS n_shingles, p.top_overlap_src,
       COALESCE(p.top_containment_e6, 0) AS top_containment_e6,
       COALESCE(p.sum_containment_e6, 0) AS sum_containment_e6,
       CAST(ROW_NUMBER() OVER (
           ORDER BY COALESCE(p.top_containment_e6, 0) ASC,
                    COALESCE(p.sum_containment_e6, 0) ASC,
                    t.source ASC) AS BIGINT) AS dedup_rank
FROM tot t LEFT JOIN per p ON p.src_a = t.source
"""


_MIN_CHARS, _MAX_CHARS = 100, 500
_MIN_QUALITY = 0.5


def q_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical keep-rule chain (lang allowlist, length band,
    quality threshold) with per-source retention accounting — the
    numbers a corpus-prep run reports. One scan, all rules evaluated as
    a single projection; the agg output is tiny. Parallel load: the
    quality score is regex/stopword-heavy CPU work, and the single-file
    fixture would otherwise run it all on one core."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    _, _, score = quality_parts(F.col("text"))
    keep = (
        F.col("lang").isin(*LANG_MARKERS.keys())
        & F.col("n_chars").between(_MIN_CHARS, _MAX_CHARS)
        & (score >= _MIN_QUALITY)
    )
    return (
        docs.select("source", keep.cast("int").alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_kept"),
            (
                F.sum("keep").cast("double") / F.count(F.lit(1))
            ).alias("retention"),
        )
    )


_DD_LANGS = ", ".join(f"'{lg}'" for lg in LANG_MARKERS)
ORACLE_FILTER_PIPELINE = f"""
WITH k AS (
  SELECT source,
         CASE WHEN lang IN ({_DD_LANGS})
               AND n_chars BETWEEN {_MIN_CHARS} AND {_MAX_CHARS}
               AND {dd_quality_score('text')} >= {_MIN_QUALITY}
              THEN 1 ELSE 0 END AS keep
  FROM documents)
SELECT source, COUNT(*) AS n_total, CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS retention
FROM k GROUP BY source
"""


# per-language keep rates (mills, i.e. rate*1000): downsample the
# dominant language, keep the rest whole — corpus rebalancing
SAMPLE_MILLS = {"en": 400}
_DEFAULT_MILLS = 1000
_SAMPLE_BUCKETS = 1000


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-rebalancing sampler: keep-decision from
    the same multiplicative doc_id hash as the split assignment (a
    different modulus), so the sample is reproducible run-to-run and
    engine-to-engine — `sample()`/RAND would re-draw every run. Emits
    the before/after census per language."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * _KNUTH) % (2**32) % _SAMPLE_BUCKETS
    mills = F.lit(_DEFAULT_MILLS)
    for lang, m in SAMPLE_MILLS.items():
        mills = F.when(F.col("lang") == lang, m).otherwise(mills)
    keep = (bucket < mills).cast("int")
    return (
        docs.select("lang", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_sampled"),
        )
    )


_DD_MILLS = "CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN {m}" for lg, m in SAMPLE_MILLS.items()
) + f" ELSE {_DEFAULT_MILLS} END"
ORACLE_STRATIFIED_SAMPLE = f"""
SELECT lang, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN (doc_id * {_KNUTH}) % {2**32} % {_SAMPLE_BUCKETS}
                          < {_DD_MILLS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
"""


# exact-substring duplication (span level): the excision tier of dedup —
# the literature's "remove the duplicated substring, keep the document"
# step (suffix-array exact-substring dedup, approximated here by
# stride-1 token windows; a window's text occurring in >=2 documents
# marks every covered token as duplicated)
_SPAN_W = 8  # window width in tokens
_SPAN_MAX_DF = 1_000  # hot-window cap: a boilerplate window shared by
# the whole corpus would otherwise explode the per-doc mark join


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans per document: every stride-1
    {_SPAN_W}-token window is md5'd; windows whose text appears in 2+
    documents (df capped at {_SPAN_MAX_DF}) mark their positions, and
    runs of consecutive duplicated positions merge into maximal spans
    (gaps-and-islands: pos − row_number is constant within a run).

    Scale shape: one corpus-wide shuffle on window-hash for the df
    count, one shuffle back on doc_id for the island merge — both
    linear; the df cap bounds the join fan-out exactly like the
    minhash/ngram tiers. Emits (doc_id, span_start, span_end,
    n_windows) in token coordinates."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents")
    ws = docs.select(
        "doc_id", TH.words(F.col("text")).alias("ws")
    ).filter(F.size("ws") >= _SPAN_W)
    wins = ws.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (_SPAN_W - 1)),
                lambda j: F.struct(
                    (j - 1).alias("pos"),
                    F.md5(
                        F.array_join(F.slice(F.col("ws"), j, _SPAN_W), " ")
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", "w.pos", "w.h")
    df_ok = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _SPAN_MAX_DF))
    )
    dup = wins.join(df_ok, "h").select("doc_id", "pos").distinct()
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(
            W.partitionBy("doc_id").orderBy("pos")
        ),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (_SPAN_W - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


ORACLE_SUBSTRING_SPANS = f"""
WITH ws AS (SELECT doc_id, {TH.dd_words('text')} AS w FROM documents
            WHERE len({TH.dd_words('text')}) >= {_SPAN_W}),
wins AS (SELECT doc_id, j - 1 AS pos,
                md5(array_to_string(w[j:j+{_SPAN_W - 1}], ' ')) AS h
         FROM ws, UNNEST(generate_series(1, len(w) - {_SPAN_W - 1}))
              AS t(j)),
df_ok AS (SELECT h FROM wins GROUP BY h
          HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SPAN_MAX_DF}),
dup AS (SELECT DISTINCT doc_id, pos FROM wins JOIN df_ok USING (h)),
isl AS (SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
        FROM dup)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_SPAN_W - 1} AS BIGINT) AS span_end,
       COUNT(*) AS n_windows
FROM isl GROUP BY doc_id, grp
"""


# temperature-based mixture sampling: rebalance sources the way a
# training-mix builder does — rate_s = min(1, (n_max/n_s)^(1-alpha))
# with alpha = 0.5, i.e. sqrt-inverse to the source's share. All
# arithmetic is IEEE ops both engines compute identically (/, sqrt,
# floor), and the keep decision reuses the deterministic doc_id hash.
_MIX_BUCKETS = 1000


def q_mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature sampling (alpha = 0.5): small sources keep
    everything, the dominant source is downsampled toward sqrt-
    proportional mass — deterministic (hash threshold, no RNG), one
    tiny broadcast of per-source rates back onto the corpus. Emits the
    before/after census per source."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n_max = counts.agg(F.max("n_s").alias("n_max"))
    rates = counts.join(F.broadcast(n_max)).select(
        "source",
        "n_s",
        F.least(
            F.lit(_MIX_BUCKETS).cast("long"),
            F.floor(
                F.sqrt(
                    F.col("n_max").cast("double")
                    / F.col("n_s").cast("double")
                )
                * _MIX_BUCKETS
            ),
        ).alias("mills"),
    )
    bucket = (F.col("doc_id") * _KNUTH) % (2**32) % _MIX_BUCKETS
    keep = (bucket < F.col("mills")).cast("int")
    return (
        docs.join(F.broadcast(rates), "source")
        .select("source", "n_s", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_total"),
            F.sum("keep").alias("n_sampled"),
        )
    )


ORACLE_MIXTURE_SAMPLE = f"""
WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
rates AS (SELECT source, n_s,
                 LEAST({_MIX_BUCKETS},
                       CAST(FLOOR(SQRT(CAST((SELECT MAX(n_s) FROM counts)
                                            AS DOUBLE)
                                       / CAST(n_s AS DOUBLE))
                                  * {_MIX_BUCKETS}) AS BIGINT)) AS mills
          FROM counts)
SELECT source, MIN(n_s) AS n_total,
       CAST(SUM(CASE WHEN (doc_id * {_KNUTH}) % {2**32} % {_MIX_BUCKETS}
                          < mills THEN 1 ELSE 0 END) AS BIGINT)
       AS n_sampled
FROM documents JOIN rates USING (source)
GROUP BY source
"""


# global token budget for the mixture planner (fixture-scaled; at
# production scale this is the run's total training tokens). Bound for
# the exact-integer math below: BUDGET * weight_ppm must stay < 2^63,
# i.e. BUDGET < ~9e12 — any real single-run budget
TRAIN_TOKEN_BUDGET = 1_000_000


def q_mixture_epochs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture PLANNER that goes with `mixture_weighted_sample`'s
    sampler: given per-source whitespace-token counts and
    temperature-0.5 weights (w_s ∝ √tokens_s — the standard
    multilingual/multi-source rebalance), allocate a global
    TRAIN_TOKEN_BUDGET and report how many EPOCHS of each source that
    plan implies (planned/available — the >1.0 entries are the sources
    the run will repeat, the number data-mixing tables are read for).

    Float-parity policy: the only transcendental is one correctly-
    rounded IEEE sqrt per source on an exact (< 2^53) integer — then
    everything is quantized: q_s = floor(√tokens·10⁶) int64,
    weight_ppm = q_s·10⁶ div Σq, planned = BUDGET·weight_ppm div 10⁶,
    epochs_e6 = planned·10⁶ div tokens — three exact integer
    divisions, bit-identical on any engine and combine order.

    Scale shape: one corpus scan into a source-keyed token-count agg
    (map-side combinable), a ≤S-row broadcast of Σq back onto the
    S-row frame — nothing else touches the corpus."""
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TH.words(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
    )
    q = per_src.withColumn(
        "q",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1_000_000)
        ).cast("long"),
    )
    qsum = q.agg(F.sum("q").alias("qsum"))
    planned = (
        q.join(F.broadcast(qsum))
        .withColumn(
            "weight_ppm", F.expr("(q * 1000000) div qsum")
        )
        .withColumn(
            "planned_tokens",
            F.expr(f"({TRAIN_TOKEN_BUDGET} * weight_ppm) div 1000000"),
        )
    )
    return planned.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight_ppm",
        "planned_tokens",
        F.expr("(planned_tokens * 1000000) div n_tokens").alias(
            "epochs_e6"
        ),
    )


ORACLE_MIXTURE_EPOCHS = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_DD_WS})) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL GROUP BY source),
q AS (SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000)
                     AS BIGINT) AS q
      FROM per_src),
s AS (SELECT CAST(SUM(q) AS BIGINT) AS qsum FROM q),
p AS (SELECT source, n_docs, n_tokens,
             (q * 1000000) // qsum AS weight_ppm
      FROM q CROSS JOIN s),
pl AS (SELECT *, ({TRAIN_TOKEN_BUDGET} * weight_ppm) // 1000000
                   AS planned_tokens
       FROM p)
SELECT source, n_docs, n_tokens, weight_ppm, planned_tokens,
       (planned_tokens * 1000000) // n_tokens AS epochs_e6
FROM pl
"""


PACK_CAPACITY = 256  # tokens per packed training window (power of two:
# start/C is then an EXACT double division, so floor() matches integer
# division bit-for-bit in both engines)
_PACK_SHARDS = 32


def pack_sequences(
    toks: DataFrame,
    capacity: int = PACK_CAPACITY,
    n_shards: int = _PACK_SHARDS,
) -> DataFrame:
    """Concat-then-chunk sequence packing over a (doc_id, n_tokens)
    frame — the step that turns filtered documents into fixed-capacity
    training windows (GPT-style packing): documents concatenate in
    doc_id order and slice every `capacity` tokens; each doc reports its
    global token start offset, the chunk it starts in, and how many
    chunks it spans. `capacity` must be a power of two so `start/cap` is
    an exact double division (floor == integer division in both
    engines).

    The global running sum is the scale-sensitive part: a naive
    `SUM() OVER (ORDER BY doc_id)` is a single-partition global sort.
    Instead docs are order-preservingly sharded (shard = doc_id·S DIV
    (max_id+1), monotone integer math over nonnegative ids), each shard
    cumsums under a shard-partitioned window, and only the S per-shard
    totals pass through the tiny ordered funnel that yields shard
    offsets (the `ordered_concat` / reference rank-funnel pattern,
    src/mapreduce.jl:138-146), broadcast back — never a data-sized
    global sort."""
    from pyspark.sql.window import Window as W

    assert capacity & (capacity - 1) == 0, "capacity must be a power of 2"
    mx = toks.agg(F.max("doc_id").alias("mx"))
    sharded = toks.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("doc_id") * n_shards) / (F.col("mx") + 1)
        ).cast("long").alias("shard"),
    )
    w_local = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = sharded.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    # per-shard totals come from the window output (max running sum), so
    # this branch shares the scan→Exchange(shard)→Window subtree instead
    # of re-aggregating the input
    w_off = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offs = (
        local.groupBy("shard")
        .agg(F.max("local_cum").alias("tot"))
        .select(
            "shard",
            F.coalesce(F.sum("tot").over(w_off), F.lit(0))
            .cast("long")
            .alias("off"),
        )
    )
    cap = float(capacity)
    start = F.col("off") + F.col("local_cum") - F.col("n_tokens")
    chunk = F.floor(start / cap)
    last_chunk = F.floor((start + F.col("n_tokens") - 1) / cap)
    return local.join(F.broadcast(offs), "shard").select(
        "doc_id",
        "n_tokens",
        start.alias("start_off"),
        chunk.alias("chunk_id"),
        (last_chunk - chunk + 1).alias("spans"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pack_sequences` over the fixture corpus (see that docstring for
    the sharded-cumsum design)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    # materialize the tiny (doc_id, n_tokens) projection: 16 bytes/doc,
    # and it keeps the corpus-sized scan + regex tokenization to ONE
    # pass — the max-id probe, window branch, and offsets branch all
    # reread it otherwise (4 FileScans, tokenization twice)
    toks = materialize(
        docs.select(
            "doc_id",
            F.size(TH.words(F.col("text"))).cast("long").alias("n_tokens"),
        )
    )
    return pack_sequences(toks)


_SHUF_MOD = 2**32


def shuffle_positions(
    ids: DataFrame, n_shards: int = _PACK_SHARDS
) -> DataFrame:
    """Deterministic corpus shuffle over a (doc_id) frame — the
    reproducible pseudo-random training order between mixture sampling
    and sequence packing: each doc's sort key is a multiplicative hash
    (no RNG; re-runs and both engines agree), and its global shuffle
    position is the rank under that key.

    Scale shape: the key space is uniform, so shard = key DIV (2³²/S) is
    an order-preserving equi-width split that needs no sampling pass
    (unlike `repartitionByRange`); within-shard ranks come from a
    shard-partitioned window and the S shard counts pass through the
    tiny ordered funnel for offsets. Same np-funnel as `ordered_concat`
    — a 100 TB corpus is shuffled without any global sort."""
    from pyspark.sql.window import Window as W

    keyed = ids.select(
        "doc_id",
        ((F.col("doc_id") * _KNUTH) % _SHUF_MOD).alias("skey"),
        (
            ((F.col("doc_id") * _KNUTH) % _SHUF_MOD)
            / F.lit(float(_SHUF_MOD // n_shards))
        ).cast("long").alias("shard"),
    )
    w_local = W.partitionBy("shard").orderBy("skey", "doc_id")
    local = keyed.withColumn(
        "lrank", F.row_number().over(w_local).cast("long")
    )
    # shard counts = max within-shard rank, derived from the window output
    # so the offsets branch reuses the shard exchange instead of a second
    # corpus scan
    w_off = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offs = (
        local.groupBy("shard")
        .agg(F.max("lrank").alias("cnt"))
        .select(
            "shard",
            F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
            .cast("long")
            .alias("off"),
        )
    )
    return local.join(F.broadcast(offs), "shard").select(
        "doc_id",
        "skey",
        (F.col("off") + F.col("lrank")).alias("shuffle_pos"),
    )


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`shuffle_positions` over the fixture corpus (see that docstring
    for the equi-width shard design)."""
    # not materialized: the window and offsets branches each read the
    # parquet's doc_id column, and a materialized copy was read twice
    # too, so it saved no scan (SCALING.md, "One materialization rule")
    docs = load_table(spark, sf_dir, "documents")
    return shuffle_positions(docs.select("doc_id"))


ORACLE_CORPUS_SHUFFLE = f"""
SELECT doc_id, (doc_id * {_KNUTH}) % {_SHUF_MOD} AS skey,
       CAST(ROW_NUMBER() OVER (ORDER BY (doc_id * {_KNUTH}) % {_SHUF_MOD},
                               doc_id) AS BIGINT) AS shuffle_pos
FROM documents
"""


def q_training_order_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus prep in one plan — the composition the whole
    LLM-pipeline tier exists for: near-dup survivors (canonical
    min-doc_id per SimHash fingerprint — ~20% of fixture docs drop, so
    every stage is non-vacuous) → deterministic hash shuffle into
    training order → fixed-capacity sequence packing ALONG THAT ORDER
    (real pipelines pack the shuffled stream, not doc_id order — packing
    receives `shuffle_pos` as its ordering id). Emits per surviving doc
    its training position and packed window.

    Scale shape is the sum of its parts, each already plan-gated: one
    fingerprint shuffle for dedup, shard-funnel shuffle+pack (no global
    sort), and tiny broadcast funnels — nothing quadratic, nothing
    single-partition over data."""
    from parallelutilities_jl_spark.operators.dedup import _simhash_df

    # Survivor lineage is materialized ONCE (narrow id+hash+count
    # frame — tiny next to the corpus): it truncates the dedup lineage,
    # so the downstream pack/join plan no longer re-plans the
    # fingerprint stage per consumer branch. `with_n_tokens` rides the
    # token count on the same narrow fingerprint pass — the corpus is
    # scanned and tokenized exactly once, and the old second scan +
    # doc-keyed n_tokens join are gone.
    fp = materialize(_simhash_df(spark, sf_dir, with_n_tokens=True))
    # canonical survivor in ONE shuffle: lexicographic struct-min picks
    # the min-doc_id row per fingerprint and its n_tokens rides along —
    # the previous groupBy(min) + left_semi join paid a second
    # corpus-keyed exchange and a join for the same rows
    kept = materialize(
        fp.groupBy("simhash")
        .agg(
            F.min(F.struct("doc_id", "n_tokens")).alias("m")
        )
        .select(F.col("m.doc_id").alias("doc_id"), F.col("m.n_tokens").alias("n_tokens"))
    )
    pos = shuffle_positions(kept.select("doc_id"))
    # materialized: pack_sequences' max-id probe, window branch, and
    # offsets branch would otherwise each recompute the shuffle windows
    ordered = materialize(
        kept.join(pos, "doc_id").select(
            F.col("doc_id").alias("orig_doc_id"),
            F.col("shuffle_pos").alias("doc_id"),  # pack along training order
            "n_tokens",
        )
    )
    packed = pack_sequences(ordered.select("doc_id", "n_tokens"))
    return packed.join(ordered, ["doc_id", "n_tokens"]).select(
        F.col("orig_doc_id").alias("doc_id"),
        F.col("doc_id").alias("train_pos"),
        "n_tokens",
        "start_off",
        "chunk_id",
    )


ORACLE_TRAINING_ORDER_PACKING = f"""
WITH stoks AS (SELECT DISTINCT doc_id, UNNEST({TH.dd_words('text')}) AS w
               FROM documents),
sth AS (SELECT doc_id, {TH.dd_md5_int48('w')} AS h FROM stoks),
sbits AS (SELECT doc_id, t.b AS b,
                 SUM(((h >> t.b) & 1) * 2 - 1) AS s
          FROM sth, range(0, 32) t(b) GROUP BY doc_id, t.b),
fp AS (SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM sbits GROUP BY doc_id),
canon AS (SELECT simhash, MIN(doc_id) AS doc_id FROM fp GROUP BY 1),
tok AS (SELECT doc_id, CAST(len({_DD_WS}) AS BIGINT) AS n_tokens
        FROM documents),
kept AS (SELECT tok.doc_id, tok.n_tokens FROM tok
         JOIN canon ON tok.doc_id = canon.doc_id),
pos AS (SELECT doc_id, n_tokens,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY (doc_id * {_KNUTH}) % {_SHUF_MOD}, doc_id)
                 AS BIGINT) AS train_pos
        FROM kept),
c AS (SELECT doc_id, train_pos, n_tokens,
             SUM(n_tokens) OVER (ORDER BY train_pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
      FROM pos)
SELECT doc_id, train_pos, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(FLOOR(CAST(start_off AS DOUBLE) / {float(PACK_CAPACITY)})
            AS BIGINT) AS chunk_id
FROM c
"""


ORACLE_SEQUENCE_PACKING = f"""
WITH t AS (SELECT doc_id, CAST(len({_DD_WS}) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
      FROM t)
SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(FLOOR(CAST(start_off AS DOUBLE) / {float(PACK_CAPACITY)})
            AS BIGINT) AS chunk_id,
       CAST(FLOOR(CAST(start_off + n_tokens - 1 AS DOUBLE)
                  / {float(PACK_CAPACITY)})
            - FLOOR(CAST(start_off AS DOUBLE) / {float(PACK_CAPACITY)})
            + 1 AS BIGINT) AS spans
FROM c
"""


CHUNK_WINDOW = 64  # tokens per retrieval chunk
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks (RAG-ingest shape): every document
    explodes into 64-token windows starting every 48 tokens, each
    carrying its md5 content fingerprint — the unit that downstream
    embeds and indexes. Per-doc work only (tokenize → explode → slice →
    hash, all codegen'd JVM expressions, no shuffle at all); chunk count
    is ~n_tokens/stride, so output scales linearly with the corpus."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        TH.words(F.col("text")).alias("w"),
    ).withColumn("n", F.size("w").cast("long"))
    exploded = w.select(
        "doc_id",
        "w",
        "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("n") - 1,
                F.lit(CHUNK_STRIDE).cast("long"),
            )
        ).alias("start"),
    )
    n_toks = F.least(F.lit(CHUNK_WINDOW).cast("long"), F.col("n") - F.col("start"))
    return exploded.select(
        "doc_id",
        "start",
        n_toks.alias("n_toks"),
        F.md5(
            F.array_join(
                F.slice("w", F.col("start") + 1, n_toks), " "
            )
        ).alias("chunk_md5"),
    )


ORACLE_DOC_CHUNKS = f"""
WITH w AS (
  SELECT doc_id, {TH.dd_words('text')} AS wl FROM documents
),
n AS (SELECT doc_id, wl, CAST(len(wl) AS BIGINT) AS n FROM w),
s AS (
  SELECT doc_id, wl, n,
         unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS start
  FROM n
)
SELECT doc_id, start,
       LEAST({CHUNK_WINDOW}, n - start) AS n_toks,
       md5(array_to_string(
           wl[start + 1 : start + LEAST({CHUNK_WINDOW}, n - start)], ' '))
         AS chunk_md5
FROM s
"""


# PII scrub: patterns kept to the Java-regex ∩ RE2 common subset so
# Spark and the DuckDB oracle compile them identically (no lookaround,
# no backrefs — neither engine pair needs them for this class)
PII_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.com"
PII_PHONE_RE = r"555-[0-9]{4}"


def _pii_augmented_text() -> Column:
    """Deterministic synthetic contact strings: the fixture corpus has
    no PII (by construction), so the scrub operator seeds its own —
    doc_id ≡ 0 (mod 3) gets an email + phone, ≡ 1 gets an email, ≡ 2 is
    left clean. Both engines build the identical augmented text, so the
    redaction math is fully oracle-checked and non-vacuous."""
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), did.cast("string"), F.lit("@mail.com")
    )
    phone = F.concat(
        F.lit(" call 555-"), (F.lit(1000) + did % 9000).cast("string")
    )
    return (
        F.when(did % 3 == 0, F.concat(F.col("text"), email, phone))
        .when(did % 3 == 1, F.concat(F.col("text"), email))
        .otherwise(F.col("text"))
    )


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (the redaction step every training corpus runs
    before packing): regex-redact emails and phone numbers, report per
    source how many documents were touched, how many of each PII class
    was removed, and the net character delta of the redaction.

    Scale shape: the scrub itself is a pure narrow map (regexp_count +
    regexp_replace are JVM codegen expressions — no UDF, no shuffle);
    the only exchange is the tiny per-source summary agg. At 100 TB the
    redacted text would be written back through a partitioned sink; the
    stats frame is what the pipeline run-report keeps."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "source", _pii_augmented_text().alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    per_doc = aug.select(
        "source",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL_RE))
        .cast("long")
        .alias("ne"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE_RE))
        .cast("long")
        .alias("np"),
        (F.length("t") - F.length(redacted)).cast("long").alias("delta"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when((F.col("ne") > 0) | (F.col("np") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_pii"),
        F.sum("ne").cast("long").alias("n_emails"),
        F.sum("np").cast("long").alias("n_phones"),
        F.sum("delta").cast("long").alias("chars_removed"),
    )


def q_dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER-BUILD contract: constructing this DataFrame runs nearly
    the whole computation — the CC component executes at build time
    and the four lazy components are `materialize`d on a
    side thread (round-16 overlap optimization), pinning their blocks
    until released; callers needing a lazy plan must compose the
    component queries themselves.

    The per-source DATASET CARD — the one-table summary a data team
    publishes with a corpus release, composed from five already-
    verified per-source censuses: language diversity
    (`lang_mix_entropy`), near-dup redundancy (`dedup_rate_by_source`),
    tokenizer fit (`oov_rate_by_source`), distributional health
    (`zipf_slope_by_source`), and the quality cut the keep budget
    implies (`quality_threshold_plan`). One row per source; every
    column is the exact-integer statistic of its component query, so
    the card inherits each component's oracle.

    Scale shape: each component is its own audited corpus pass (see
    their SCALING.md rows); the card adds only four S-row equi-joins
    on `source` — at any corpus size the join inputs are
    source-cardinality aggregates, so the composition is free. The
    card is the showcase that the per-source statistics compose
    WITHOUT a new corpus pass.

    Concurrency (round-16 optimization): `dedup_rate_by_source` builds
    its dup components EAGERLY at build time — the MinHash candidate
    and verify jobs, then `connected_components` — while the other
    four components are lazy until the caller's one action. On the
    fixtures the dup graph is tiny (sf0.1: 256 pairs, 512 directed
    edge rows, below `_CC_TINY_MAX_ROWS` = 4096), so the components
    come from ONE single-task union-find and no propagation round
    runs; only past that gate does CC become a sequence of small
    bounded shuffles that underfills the cluster. Either way the
    build-time jobs leave cores idle, so the four lazy components
    materialize (S rows each) on a second job-submitting thread WHILE
    they run — Spark schedules jobs from both threads onto the same
    executor pool. On the tiny-graph path the overlap still pays: over
    8 alternating reps at sf0.1 with identical rows, 5.40 s median wall
    [5.27, 6.04], 15.5 s CPU, against 5.95 s [5.78, 6.60], 16.1 s CPU
    with no thread and `rest` joined lazily. The final action then
    only joins five S-row frames.
    Results are unchanged (same component frames, same join), and the
    four-way lazy subtree still shares its tokenize exchange via AQE
    stage reuse because it stays ONE plan. The side thread is an
    `InheritableThread`, so its checkpoint job carries the caller's
    local properties (job group, description, scheduler pool), like
    the main-thread jobs."""
    from pyspark import InheritableThread

    from parallelutilities_jl_spark.operators.dedup import (
        q_dedup_rate_by_source,
    )
    from parallelutilities_jl_spark.operators.text import (
        q_lang_mix_entropy,
        q_oov_rate_by_source,
        q_zipf_slope_by_source,
    )

    lang = q_lang_mix_entropy(spark, sf_dir).select(
        "source", "n_docs", "n_langs", "entropy_q"
    )
    oov = q_oov_rate_by_source(spark, sf_dir).select(
        "source", "n_tokens", "oov_rate_e6"
    )
    zipf = q_zipf_slope_by_source(spark, sf_dir).select(
        "source", F.col("slope_e6").alias("zipf_slope_e6")
    )
    qual = q_quality_threshold_plan(spark, sf_dir).select(
        "source", "threshold_milli", "keep_ppm"
    )
    rest = (
        lang.join(oov, "source").join(zipf, "source").join(qual, "source")
    )
    box: dict = {}

    def _materialize_rest() -> None:
        try:
            box["rest"] = materialize(rest)
        except BaseException as e:  # propagate to the caller thread
            box["err"] = e

    t = InheritableThread(
        target=_materialize_rest, name="card_lazy_components"
    )
    t.start()
    try:
        dup = q_dedup_rate_by_source(spark, sf_dir).select(
            "source", "n_redundant", "dup_rate_e6"
        )
    finally:
        t.join()
    if "err" in box:
        raise box["err"]
    # same column order as the original lang→dup→oov→zipf→qual join
    return box["rest"].join(dup, "source").select(
        "source",
        "n_docs",
        "n_langs",
        "entropy_q",
        "n_redundant",
        "dup_rate_e6",
        "n_tokens",
        "oov_rate_e6",
        "zipf_slope_e6",
        "threshold_milli",
        "keep_ppm",
    )


def _oracle_dataset_card() -> str:
    from parallelutilities_jl_spark.operators import dedup as D
    from parallelutilities_jl_spark.operators import text as T

    return f"""
WITH lang AS (SELECT source, n_docs, n_langs, entropy_q
              FROM ({T.ORACLES["lang_mix_entropy"]})),
dup AS (SELECT source, n_redundant, dup_rate_e6
        FROM ({D.ORACLES["dedup_rate_by_source"]})),
oov AS (SELECT source, n_tokens, oov_rate_e6
        FROM ({T.ORACLES["oov_rate_by_source"]})),
zipf AS (SELECT source, slope_e6 AS zipf_slope_e6
         FROM ({T.ORACLES["zipf_slope_by_source"]})),
qual AS (SELECT source, threshold_milli, keep_ppm
         FROM ({_oracle_quality_threshold()}))
SELECT lang.source, n_docs, n_langs, entropy_q, n_redundant,
       dup_rate_e6, n_tokens, oov_rate_e6, zipf_slope_e6,
       threshold_milli, keep_ppm
FROM lang JOIN dup USING (source) JOIN oov USING (source)
JOIN zipf USING (source) JOIN qual USING (source)
"""


ORACLE_PII_SCRUB = f"""
WITH aug AS (
  SELECT doc_id, source,
         CASE
           WHEN doc_id % 3 = 0 THEN
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.com' || ' call 555-'
                  || CAST(1000 + doc_id % 9000 AS VARCHAR)
           WHEN doc_id % 3 = 1 THEN
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.com'
           ELSE text
         END AS t
  FROM documents
), per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS ne,
         CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS np,
         CAST(length(t) - length(
           regexp_replace(
             regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS delta
  FROM aug
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ne > 0 OR np > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii,
       CAST(SUM(ne) AS BIGINT) AS n_emails,
       CAST(SUM(np) AS BIGINT) AS n_phones,
       CAST(SUM(delta) AS BIGINT) AS chars_removed
FROM per_doc
GROUP BY source
"""


BOILER_NAV = "<nav>home | about | login</nav> "
BOILER_FOOT = " <footer>copyright 2024 example corp</footer>"
_TAG_RE = r"</?[a-z]+>"


def _boiler_augmented_text() -> Column:
    """Deterministic synthetic HTML wrappers (the fixture corpus is
    plain text, so the scrub seeds its own boilerplate, like the PII
    op): doc_id ≡ 0 (mod 4) gets nav + footer chrome, ≡ 1 gets a bare
    <div> wrapper, the rest stay clean. Identical construction in both
    engines — the extraction math is oracle-checked and non-vacuous."""
    did = F.col("doc_id")
    return (
        F.when(
            did % 4 == 0,
            F.concat(F.lit(BOILER_NAV), F.col("text"), F.lit(BOILER_FOOT)),
        )
        .when(
            did % 4 == 1,
            F.concat(F.lit("<div>"), F.col("text"), F.lit("</div>")),
        )
        .otherwise(F.col("text"))
    )


def q_boilerplate_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-boilerplate removal pass (the main-content extraction step
    every web corpus runs before quality scoring): strip nav/footer
    blocks wholesale, then residual markup tags, and report per source
    how many documents carried chrome, how many tags were removed, the
    characters dropped, and the retained fraction (exact integer ratio
    of totals). Regexes stay in the Java-regex ∩ RE2 dialect subset,
    same policy as the PII scrub.

    Scale shape: pure narrow map (regexp_count / regexp_replace are
    JVM codegen expressions — no UDF, no shuffle) + one tiny per-source
    agg. The cleaned text would be written back through a partitioned
    sink at 100 TB; this frame is the run report."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id", "source", _boiler_augmented_text().alias("t")
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), r"<nav>[^<]*</nav>", ""),
            r"<footer>[^<]*</footer>",
            "",
        ),
        _TAG_RE,
        "",
    )
    per_doc = aug.select(
        "source",
        F.regexp_count(F.col("t"), F.lit(_TAG_RE)).cast("long").alias(
            "n_tags"
        ),
        F.length("t").cast("long").alias("len_aug"),
        F.length(clean).cast("long").alias("len_clean"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_tags") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_chrome"),
        F.sum("n_tags").cast("long").alias("n_tags_removed"),
        F.sum(F.col("len_aug") - F.col("len_clean"))
        .cast("long")
        .alias("chars_removed"),
        F.expr(
            "sum(len_clean) * 1000000 div sum(len_aug)"
        ).alias("kept_frac_e6"),
    )


ORACLE_BOILERPLATE_SCRUB = f"""
WITH aug AS (
  SELECT doc_id, source,
         CASE
           WHEN doc_id % 4 = 0 THEN
             '{BOILER_NAV}' || text || '{BOILER_FOOT}'
           WHEN doc_id % 4 = 1 THEN '<div>' || text || '</div>'
           ELSE text
         END AS t
  FROM documents
), per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(t, '{_TAG_RE}')) AS BIGINT) AS n_tags,
         CAST(length(t) AS BIGINT) AS len_aug,
         CAST(length(
           regexp_replace(regexp_replace(regexp_replace(t,
             '<nav>[^<]*</nav>', '', 'g'),
             '<footer>[^<]*</footer>', '', 'g'),
             '{_TAG_RE}', '', 'g')) AS BIGINT) AS len_clean
  FROM aug
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tags > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_chrome,
       CAST(SUM(n_tags) AS BIGINT) AS n_tags_removed,
       CAST(SUM(len_aug - len_clean) AS BIGINT) AS chars_removed,
       CAST(SUM(len_clean) * 1000000 // SUM(len_aug) AS BIGINT)
         AS kept_frac_e6
FROM per_doc GROUP BY source
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-dup COMPONENT
    representative instead of the raw doc_id, so every member of a
    near-duplicate cluster lands in the same split — the
    dedup-before-split discipline of Lee et al. 2022 (arXiv:2107.06499):
    a test document whose near-copy sits in train is leakage the naive
    per-doc hash split cannot prevent. Emits the per-split census plus
    `n_moved`, the count of documents whose split differs from the
    naive `hash_split_documents` assignment — the direct measure of how
    much leakage the component keying repaired.

    At 100 TB: rides the LSH component map (banded, df-capped) with one
    left join of documents against the (much smaller) component table
    and one groupBy(split) — the same shuffle budget as
    `quality_canonical_dedup`. Hashing the representative keeps the
    80/10/10 proportions in expectation because component reps are
    uniformly spread through id space."""
    from parallelutilities_jl_spark.operators.dedup import (
        q_dedup_components,
    )

    comp = q_dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    full = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", F.col("doc_id")).alias("rep"),
        "n_chars",
    )
    rep_b = (F.col("rep") * _KNUTH) % (2**32) % _SPLIT_BUCKETS
    doc_b = _bucket_col()

    def split_of(b: Column) -> Column:
        return (
            F.when(b < _TRAIN_LT, "train")
            .when(b < _VAL_LT, "val")
            .otherwise("test")
        )

    return (
        full.select(
            split_of(rep_b).alias("split"),
            (split_of(rep_b) != split_of(doc_b)).cast("int").alias("mv"),
            "rep",
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_groups"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("mv").cast("long").alias("n_moved"),
        )
    )


def _oracle_leakage_safe_split() -> str:
    from parallelutilities_jl_spark.operators.dedup import _oracles as ddo

    edge_sql = ddo()["minhash_near_dup"]
    rep_b = f"(rep * {_KNUTH}) % {2**32} % {_SPLIT_BUCKETS}"

    def split_of(b: str) -> str:
        return (
            f"CASE WHEN {b} < {_TRAIN_LT} THEN 'train' "
            f"WHEN {b} < {_VAL_LT} THEN 'val' ELSE 'test' END"
        )

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
fulld AS (SELECT d.doc_id,
                 COALESCE(c.component_id, d.doc_id) AS rep,
                 d.n_chars
          FROM documents d LEFT JOIN comp c USING (doc_id)),
a AS (SELECT {split_of(rep_b)} AS split,
             CASE WHEN {split_of(rep_b)} <> {split_of(_DD_BUCKET)}
                  THEN 1 ELSE 0 END AS mv,
             rep, n_chars
      FROM fulld)
SELECT split, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(mv) AS BIGINT) AS n_moved
FROM a GROUP BY split
"""


# Curriculum granularity: quality scores quantized to 3 decimal places
# (FLOOR(score*1000) — a single IEEE multiply + floor, bit-identical on
# both engines) give a histogram of ≤ ~1001 distinct keys REGARDLESS of
# corpus size, so the equal-frequency bucketing below never sorts or
# windows anything data-sized.
_CURRICULUM_SCALE = 1000
_CURRICULUM_BUCKETS = 10


def q_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: assign every document to one of 10
    equal-frequency quality tiers (ties at 3-dp score granularity land
    in one tier) and report the per-tier doc and estimated-token budget
    — the table a curriculum-ordered training run is scheduled from.

    Scale shape (the reason this is not `NTILE() OVER (ORDER BY
    score)`): a global ntile is a single-partition data-sized window.
    Here the only data-sized operation is one map-side-combinable
    groupBy on the quantized score; the cumulative "docs below this
    score" prefix runs over the ≤1001-row histogram (the same bounded
    sharded-cumsum pattern as `sequence_packing`), and the tier id is
    exact integer arithmetic `below * B div N` — no float division at a
    tier boundary to disagree across engines."""
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    _, _, score = quality_parts(F.col("text"))
    per_doc = docs.select(
        F.floor(score * _CURRICULUM_SCALE).cast("long").alias("sk"),
        F.ceil(F.length("text").cast("double") / F.lit(4.0))
        .cast("long")
        .alias("toks"),
    )
    return curriculum_tiers(per_doc)


def curriculum_tiers(per_doc: DataFrame) -> DataFrame:
    """Equal-frequency tier census from a (sk, toks) frame — split out
    so property tests can drive synthetic score distributions through
    the identical plan."""
    hist = per_doc.groupBy("sk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("toks").alias("tok_sum"),
    )
    from pyspark.sql.window import Window as W

    # histogram-sized window (≤1001 rows at any corpus size — bounded by
    # quantization, not data); the single-partition WindowExec is benign
    w_below = W.orderBy("sk").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "sk",
        "cnt",
        "tok_sum",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
        .cast("long")
        .alias("below"),
    )
    total = hist.agg(F.sum("cnt").cast("long").alias("n_total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            F.expr(
                f"(below * {_CURRICULUM_BUCKETS}) div n_total"
            ).alias("tier"),
            "cnt",
            "tok_sum",
            "sk",
        )
        .groupBy("tier")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.sum("tok_sum").alias("est_tokens"),
            F.min("sk").alias("min_score_k"),
            F.max("sk").alias("max_score_k"),
        )
    )


ORACLE_QUALITY_CURRICULUM = f"""
WITH d AS (
  SELECT CAST(FLOOR({dd_quality_score('text')} * {_CURRICULUM_SCALE})
              AS BIGINT) AS sk,
         CAST(CEIL(length(text) / 4.0) AS BIGINT) AS toks
  FROM documents WHERE text IS NOT NULL),
h AS (SELECT sk, COUNT(*) AS cnt, CAST(SUM(toks) AS BIGINT) AS tok_sum
      FROM d GROUP BY sk),
c AS (SELECT sk, cnt, tok_sum,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY sk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM h),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM h)
SELECT (below * {_CURRICULUM_BUCKETS}) // n_total AS tier,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(SUM(tok_sum) AS BIGINT) AS est_tokens,
       MIN(sk) AS min_score_k,
       MAX(sk) AS max_score_k
FROM c CROSS JOIN t
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023, arXiv:2302.03169)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (paper: 10k; vocab-scaled)
DSIR_TARGET_LANG = "en"  # the "target domain" the importance weights aim at


def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (arXiv:2302.03169):
    score every raw document by how much more likely its hashed-n-gram
    features are under the TARGET distribution (here: the corpus' own
    `lang = 'en'` slice standing in for a curated target domain) than
    under the RAW distribution, log w(doc) = Σ_f [log p_tgt(b_f) −
    log p_raw(b_f)] with Laplace-smoothed bucket probabilities. Docs with
    w ≥ 1 (q_logw ≥ 0) are the importance-resampling keep-set.

    Features are unigrams + word bigrams hashed into {DSIR_BUCKETS}
    buckets (md5-derived, engine-portable); both n-gram distributions
    are B-row histograms. All logs are the transcendental-free 2^20
    fixed-point `_qlog2`, so the per-doc weight is EXACT integer math —
    order-free, bit-identical in DuckDB (float-parity policy).

    At 100 TB: one tokenize pass → a per-(doc, bucket) tf agg (map-side
    combinable, the only data-sized shuffle) → two ≤B-row histograms
    broadcast back → per-doc agg. The fitted "model" (two histograms) is
    KB-sized driver-free broadcast state; no data-sized sort, no UDF —
    exactly the shape the paper's hashed-n-gram estimator was chosen
    for. Reference analog: arbitrary per-element map under `pmapreduce`
    (src/mapreduce.jl:95-96) — here the map is the feature scorer and
    the reduction is the per-doc integer sum."""
    from parallelutilities_jl_spark.operators.text import _qlog2

    docs = load_table_parallel(spark, sf_dir, "documents")
    w = TH.words(F.col("text"))
    toks = F.filter(w, lambda x: x != "")
    feats = F.when(
        F.size(toks) >= 2, F.concat(toks, TH.shingles(toks, 2))
    ).otherwise(toks)
    fb = docs.select(
        "doc_id", "lang", F.explode(feats).alias("f")
    ).select(
        "doc_id",
        "lang",
        (TH.md5_int48(F.col("f")) % DSIR_BUCKETS).alias("b"),
    )
    # ONE tokenize pass: the per-(doc, bucket) tf agg is the only
    # data-sized shuffle, checkpointed because both the histograms and
    # the scorer consume it (without this, each consumer re-tokenizes
    # the corpus); both n-gram histograms then derive FROM tf — lang
    # rides the grouping key (it is functionally dependent on doc_id)
    # instead of forcing a second corpus scan
    tf = materialize(
        fb.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("tf"))
    )
    hist = tf.groupBy("b").agg(
        F.sum("tf").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("tf")).otherwise(
                0
            )
        ).alias("c_t"),
    )
    tot = hist.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    terms = (
        tf.join(F.broadcast(hist), "b")
        .select(
            "doc_id",
            "tf",
            (F.col("c_t") + 1).alias("c_t1"),
            (F.col("c_r") + 1).alias("c_r1"),
        )
        .select(
            "doc_id",
            "tf",
            F.expr(_qlog2("c_t1", spark=True)).alias("q_t"),
            F.expr(_qlog2("c_r1", spark=True)).alias("q_r"),
        )
    )
    agg = terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_feats"),
        F.sum(F.col("tf") * (F.col("q_t") - F.col("q_r"))).alias("q_sum"),
    )
    scored = (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_feats",
            "q_sum",
            (F.col("n_r") + DSIR_BUCKETS).alias("nr1"),
            (F.col("n_t") + DSIR_BUCKETS).alias("nt1"),
        )
        .select(
            "doc_id",
            "n_feats",
            (
                F.col("q_sum")
                + F.col("n_feats")
                * (
                    F.expr(_qlog2("nr1", spark=True))
                    - F.expr(_qlog2("nt1", spark=True))
                )
            ).alias("q_logw"),
        )
        .select(
            "doc_id",
            "n_feats",
            "q_logw",
            (F.col("q_logw") >= 0).alias("selected"),
        )
    )
    # left-join back to the corpus: a doc whose normalized text yields
    # ZERO features (explode emits no rows) would otherwise vanish from
    # the selection output with no signal — it gets the defined row
    # (n_feats=0, q_logw=0, selected=true): no evidence ⟺ importance
    # weight exactly 1, DSIR keeps it. NULL-text docs stay excluded
    # (corpus-wide NULL-doc policy: no text at all ≠ empty evidence).
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
            F.coalesce("q_logw", F.lit(0).cast("long")).alias("q_logw"),
            F.coalesce("selected", F.lit(True)).alias("selected"),
        )
    )


def _oracle_dsir() -> str:
    from parallelutilities_jl_spark.operators.text import _qlog2

    B, TL = DSIR_BUCKETS, DSIR_TARGET_LANG
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter({TH.dd_words('text')}, x -> x <> '') AS w
  FROM documents),
farr AS (
  SELECT doc_id, lang,
         CASE WHEN len(w) >= 2 THEN w || {TH.dd_shingles('w', 2)}
              ELSE w END AS fs
  FROM toks),
fb AS (
  SELECT doc_id, lang, {TH.dd_md5_int48('f')} % {B} AS b
  FROM (SELECT doc_id, lang, UNNEST(fs) AS f FROM farr)),
hist AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r,
         CAST(COUNT(*) FILTER (WHERE lang = '{TL}') AS BIGINT) AS c_t
  FROM fb GROUP BY b),
tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
               CAST(SUM(c_t) AS BIGINT) AS n_t FROM hist),
tf AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS tf
       FROM fb GROUP BY 1, 2),
terms AS (
  SELECT doc_id, tf, c_t + 1 AS c_t1, c_r + 1 AS c_r1
  FROM tf JOIN hist USING (b)),
qterms AS (
  SELECT doc_id, tf,
         {_qlog2('c_t1', spark=False)} AS q_t,
         {_qlog2('c_r1', spark=False)} AS q_r
  FROM terms),
agg AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_feats,
         CAST(SUM(tf * (q_t - q_r)) AS BIGINT) AS q_sum
  FROM qterms GROUP BY doc_id),
fin AS (
  SELECT doc_id, n_feats,
         q_sum + n_feats * ({_qlog2(f'n_r + {B}', spark=False)}
                            - {_qlog2(f'n_t + {B}', spark=False)}) AS q_logw
  FROM agg CROSS JOIN tot)
SELECT b.doc_id,
       CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
       CAST(COALESCE(q_logw, 0) AS BIGINT) AS q_logw,
       COALESCE(q_logw >= 0, TRUE) AS selected
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) b
LEFT JOIN fin USING (doc_id)
"""


# ---------------------------------------------------------------------------
# deterministic per-key bounded sampling (bottom-k sketch)
# ---------------------------------------------------------------------------

_RS_K = 20  # sample size per key
_RS_SHARDS = 8  # stage-1 fan-out bound


def q_reservoir_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source uniform sample without replacement — the
    bottom-k sketch: each source keeps its {_RS_K} docs with the
    smallest salted md5 rank (a fixed hash, so re-runs, engines, and
    cluster sizes all draw the IDENTICAL sample; a bottom-k over a
    uniform hash IS a uniform k-sample).

    Scale shape — no data-sized per-key window: keys here are few
    (sources), so a single `row_number() over (partition by source)`
    would funnel whole sources through single tasks. Instead the
    classic two-stage top-k: stage 1 ranks within (source, hash-shard)
    — {_RS_SHARDS}× smaller partitions, each emitting ≤ k rows — and
    stage 2 ranks the surviving ≤ k·{_RS_SHARDS} rows per source.
    Stage-1 winners are a superset of the true per-source bottom-k, so
    the composition is EXACT, and the final window runs on a bounded
    frame at any corpus size."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents")
    h = TH.md5_int48(
        F.concat(F.lit("rs:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.select(
        "source",
        "doc_id",
        h.alias("h"),
        (h % _RS_SHARDS).alias("shard"),
    )
    w1 = W.partitionBy("source", "shard").orderBy("h", "doc_id")
    stage1 = (
        keyed.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _RS_K)
        .drop("r1", "shard")
    )
    w2 = W.partitionBy("source").orderBy("h", "doc_id")
    return (
        stage1.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= _RS_K)
        .select("source", "doc_id", "h", "rnk")
    )


ORACLE_RESERVOIR_SAMPLE = f"""
WITH h AS (
  SELECT source, doc_id,
         ('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS h
  FROM documents)
SELECT source, doc_id, h, rnk FROM (
  SELECT source, doc_id, h,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY h, doc_id) AS BIGINT) AS rnk
  FROM h)
WHERE rnk <= {_RS_K}
"""


# ---------------------------------------------------------------------------
# fuzzy (near-duplicate) benchmark contamination
# ---------------------------------------------------------------------------


def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark-contamination screen — the industry-standard
    complement to the exact-shingle `contamination_check`: a corpus doc
    is contaminated if it is a NEAR-duplicate of an eval doc (verbatim
    screens miss light paraphrase/formatting edits; cf. the n-gram +
    fuzzy decontamination in GPT-3 appx C / Llama 2). Candidates come
    from the SAME MinHash-LSH machinery as the dedup tier (zero-shuffle
    per-doc signatures, banded buckets, corpus-side bucket cap); the
    eval side's band keys BROADCAST (a benchmark suite is tiny vs the
    corpus, exactly like the exact screen), and candidates verify with
    exact Jaccard ≥ {JACCARD_THRESHOLD} on the in-row shingle arrays.
    The confirm predicate and the reported score are exact integers
    (13·ni ≥ 3·(na+nb) ⟺ jac ≥ 3/10; jac_e6 = (10⁶·ni) div union), so
    no float threshold can flip cross-engine. Output: per contaminated
    corpus doc, how many eval docs it near-matches and its worst
    (highest) Jaccard."""
    from parallelutilities_jl_spark.operators.dedup import (
        MAX_LSH_BUCKET,
        lsh_bands,
        minhash_per_doc,
    )
    from pyspark.sql.window import Window as W

    src = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    per_doc = materialize(minhash_per_doc(spark, sf_dir).join(src, "doc_id"))
    # source rides the band explode (round-16): the doc-keyed
    # join-back exchange the old two-step paid is gone
    bands = lsh_bands(per_doc, carry=("source",))
    eb = (
        bands.filter(F.col("source") == EVAL_SOURCE)
        .select("band", "key", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    cb = bands.filter(F.col("source") != EVAL_SOURCE).withColumn(
        "bsz", F.count(F.lit(1)).over(W.partitionBy("band", "key"))
    ).filter(F.col("bsz") <= MAX_LSH_BUCKET)
    cand = (
        cb.join(F.broadcast(eb), ["band", "key"])
        .select("doc_id", "eval_doc")
        .distinct()
    )
    corpus_arr = per_doc.select(
        "doc_id", "source", F.col("shs").alias("shs_c"), F.col("n").alias("nc")
    )
    eval_arr = per_doc.filter(F.col("source") == EVAL_SOURCE).select(
        F.col("doc_id").alias("eval_doc"),
        F.col("shs").alias("shs_e"),
        F.col("n").alias("ne"),
    )
    ni = F.size(F.array_intersect("shs_c", "shs_e")).cast("long")
    verified = (
        cand.join(corpus_arr, "doc_id")
        .join(F.broadcast(eval_arr), "eval_doc")
        .withColumn("ni", ni)
        .filter(13 * F.col("ni") >= 3 * (F.col("nc") + F.col("ne")))
        .select(
            "doc_id",
            "source",
            "eval_doc",
            F.expr("(1000000 * ni) div (nc + ne - ni)").alias("jac_e6"),
        )
    )
    return verified.groupBy("doc_id", "source").agg(
        F.countDistinct("eval_doc").alias("n_eval_hits"),
        F.max("jac_e6").alias("max_jac_e6"),
    )


def _oracle_fuzzy_contamination() -> str:
    from parallelutilities_jl_spark.operators.dedup import (
        MAX_LSH_BUCKET,
        _dd_bands_cte,
        _dd_shingle_cte,
        _dd_sig_cte,
    )

    return f"""
WITH {_dd_shingle_cte()}, {_dd_sig_cte()}, {_dd_bands_cte()},
srcs AS (SELECT doc_id, source FROM documents),
bs AS (SELECT bands.doc_id, band, key, source
       FROM bands JOIN srcs USING (doc_id)),
eb AS (SELECT DISTINCT band, key, doc_id AS eval_doc FROM bs
       WHERE source = '{EVAL_SOURCE}'),
cb AS (SELECT * FROM (
         SELECT doc_id, band, key,
                COUNT(*) OVER (PARTITION BY band, key) AS bsz
         FROM bs WHERE source <> '{EVAL_SOURCE}')
       WHERE bsz <= {MAX_LSH_BUCKET}),
cand AS (SELECT DISTINCT cb.doc_id, eval_doc
         FROM cb JOIN eb USING (band, key)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT cand.doc_id, eval_doc, COUNT(*) AS ni
          FROM cand JOIN sh sc ON sc.doc_id = cand.doc_id
          JOIN sh se ON se.doc_id = cand.eval_doc AND se.sh = sc.sh
          GROUP BY 1, 2),
ver AS (SELECT i.doc_id, s.source, eval_doc,
               (1000000 * ni) // (x.n + y.n - ni) AS jac_e6
        FROM inter i
        JOIN sizes x ON x.doc_id = i.doc_id
        JOIN sizes y ON y.doc_id = i.eval_doc
        JOIN srcs s ON s.doc_id = i.doc_id
        WHERE 13 * ni >= 3 * (x.n + y.n))
SELECT doc_id, source,
       CAST(COUNT(DISTINCT eval_doc) AS BIGINT) AS n_eval_hits,
       CAST(MAX(jac_e6) AS BIGINT) AS max_jac_e6
FROM ver GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# split drift monitor (population stability index)
# ---------------------------------------------------------------------------

_PSI_ALERT = 0.2  # the standard PSI "significant shift" threshold
# Under the no-drift null, E[PSI] ≈ (B−1)·(1/n_tr + 1/n_te)/ln2 from
# sampling noise alone — at small per-source samples that dwarfs the 0.2
# alert line, so the flag adds a noise allowance of K·B·(1/n_tr + 1/n_te)
# (K covers the 1/ln2 and variance slack); an alert then means the shift
# exceeds what sampling noise explains, at any sample size.
_PSI_NOISE_K = 2.0


def q_split_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-test drift monitor: per-source Population Stability
    Index over doc-length buckets — the standard pipeline-monitoring
    check that a (re)generated split still draws both halves from the
    same distribution (PSI < 0.1 stable, > 0.2 action). Buckets are
    power-of-two `n_chars` bins (the bin()-length trick — integer,
    engine-identical); PSI = Σ_b (p_b − q_b)·log2(p_b/q_b) with
    Laplace-smoothed bucket counts.

    Exact cross-engine arithmetic: the log2 ratio is a difference of
    fixed-point `_qlog2` integers, the (p−q) factor is cleared to the
    integer numerator c_tr·N_te − c_te·N_tr, and the per-source sum
    runs in DECIMAL(38,0) — one double division at the end on
    identical operands (float-parity policy). Scale shape: one scan →
    a (source × ~30 buckets)-bounded agg → per-source rollup; the
    histogram, not the data, is what aggregates."""
    from parallelutilities_jl_spark.operators.text import _qlog2

    docs = load_table_parallel(spark, sf_dir, "documents")
    b = _bucket_col()
    lb = F.expr("length(bin(n_chars + 1))")
    hist = (
        docs.filter((b < _TRAIN_LT) | (b >= _VAL_LT))
        .select(
            "source",
            lb.alias("lb"),
            (b < _TRAIN_LT).cast("long").alias("is_train"),
        )
        .groupBy("source", "lb")
        .agg(
            (F.sum("is_train") + 1).alias("c_tr"),
            (F.sum(1 - F.col("is_train")) + 1).alias("c_te"),
        )
    )
    tot = hist.groupBy("source").agg(
        F.sum("c_tr").alias("n_tr"),
        F.sum("c_te").alias("n_te"),
        F.count(F.lit(1)).alias("b_cnt"),
    )
    terms = (
        hist.join(F.broadcast(tot), "source")
        .select(
            "source",
            "n_tr",
            "n_te",
            "b_cnt",
            (
                (
                    F.col("c_tr").cast("decimal(38,0)")
                    * F.col("n_te").cast("decimal(38,0)")
                    - F.col("c_te").cast("decimal(38,0)")
                    * F.col("n_tr").cast("decimal(38,0)")
                )
                * (
                    (
                        F.expr(_qlog2("c_tr", spark=True))
                        - F.expr(_qlog2("n_tr", spark=True))
                    )
                    - (
                        F.expr(_qlog2("c_te", spark=True))
                        - F.expr(_qlog2("n_te", spark=True))
                    )
                ).cast("decimal(38,0)")
            ).alias("num"),
        )
        .groupBy("source")
        .agg(
            F.first("n_tr").alias("n_tr"),
            F.first("n_te").alias("n_te"),
            F.first("b_cnt").alias("b_cnt"),
            F.sum("num").alias("psi_num"),
        )
    )
    from parallelutilities_jl_spark.operators.text import LOGPPL_Q

    psi = F.col("psi_num").cast("double") / (
        F.col("n_tr").cast("double")
        * F.col("n_te").cast("double")
        * F.lit(float(LOGPPL_Q))
    )
    allowance = (
        F.lit(_PSI_NOISE_K)
        * F.col("b_cnt").cast("double")
        * (F.col("n_tr").cast("double") + F.col("n_te").cast("double"))
        / (F.col("n_tr").cast("double") * F.col("n_te").cast("double"))
    )
    return terms.select(
        "source",
        "n_tr",
        "n_te",
        "b_cnt",
        psi.alias("psi"),
        (psi > F.lit(_PSI_ALERT) + allowance).alias("drifted"),
    )


def _oracle_split_drift_psi() -> str:
    from parallelutilities_jl_spark.operators.text import LOGPPL_Q, _qlog2

    return f"""
WITH marked AS (
  SELECT source, length(bin(n_chars + 1)) AS lb,
         CASE WHEN {_DD_BUCKET} < {_TRAIN_LT} THEN 1 ELSE 0 END AS is_train
  FROM documents
  WHERE {_DD_BUCKET} < {_TRAIN_LT} OR {_DD_BUCKET} >= {_VAL_LT}),
hist AS (
  SELECT source, lb,
         CAST(SUM(is_train) + 1 AS BIGINT) AS c_tr,
         CAST(SUM(1 - is_train) + 1 AS BIGINT) AS c_te
  FROM marked GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(SUM(c_tr) AS BIGINT) AS n_tr,
         CAST(SUM(c_te) AS BIGINT) AS n_te,
         CAST(COUNT(*) AS BIGINT) AS b_cnt
  FROM hist GROUP BY source),
terms AS (
  SELECT h.source, n_tr, n_te, b_cnt,
         (CAST(c_tr AS HUGEINT) * n_te - CAST(c_te AS HUGEINT) * n_tr)
         * (({_qlog2('c_tr', spark=False)} - {_qlog2('n_tr', spark=False)})
            - ({_qlog2('c_te', spark=False)} - {_qlog2('n_te', spark=False)}))
           AS num
  FROM hist h JOIN tot USING (source)),
agg AS (
  SELECT source, ANY_VALUE(n_tr) AS n_tr, ANY_VALUE(n_te) AS n_te,
         ANY_VALUE(b_cnt) AS b_cnt, SUM(num) AS psi_num
  FROM terms GROUP BY source),
fin AS (
  SELECT source, n_tr, n_te, b_cnt,
         CAST(psi_num AS DOUBLE)
           / (CAST(n_tr AS DOUBLE) * CAST(n_te AS DOUBLE)
              * {float(LOGPPL_Q)}) AS psi,
         {_PSI_NOISE_K} * CAST(b_cnt AS DOUBLE)
           * (CAST(n_tr AS DOUBLE) + CAST(n_te AS DOUBLE))
           / (CAST(n_tr AS DOUBLE) * CAST(n_te AS DOUBLE)) AS allowance
  FROM agg)
SELECT source, n_tr, n_te, b_cnt, psi,
       psi > {_PSI_ALERT} + allowance AS drifted
FROM fin
"""


# Context lengths the packing-capacity planner compares (tokens per
# one-doc-per-window training example)
_PACK_CAPACITIES = (128, 256, 512, 1024)


def q_packing_capacity_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The context-length PLANNER for one-doc-per-window (BERT-style)
    batching: for each candidate capacity, what fraction of corpus
    tokens gets TRUNCATED away (doc longer than the window) versus
    what fraction of window slots is PADDING (doc shorter) — the two
    losses a context-length choice trades off. `padding_waste_buckets`
    reports waste for dynamic power-of-two bucketing; this compares
    FIXED capacities side by side, and `sequence_packing` is the
    concat-packing alternative that pays neither cost.

    Exactness: whitespace token counts (the packing ops' convention),
    LEAST/GREATEST and exact-integer ppm divisions end-to-end; clamped
    kept-tokens keep both numerators provably non-negative so Spark
    `div` and DuckDB `//` agree on every reachable input.

    Scale shape: ONE narrow token-count scan into ONE global aggregate
    row (map-side combinable — every capacity's three sums are columns
    of the same agg), then a stack() generator emits the 4 plan rows.
    No shuffle wider than the 1-row aggregate at any corpus size."""
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per = docs.select(
        F.size(TH.words(F.col("text"))).cast("long").alias("n")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("real_tokens"),
    ]
    for c in _PACK_CAPACITIES:
        aggs.append(
            F.sum(F.least(F.col("n"), F.lit(c).cast("long"))).alias(
                f"kept_{c}"
            )
        )
    row = per.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({c} AS BIGINT), kept_{c}" for c in _PACK_CAPACITIES
    )
    n_caps = len(_PACK_CAPACITIES)
    return row.selectExpr(
        "n_docs",
        "real_tokens",
        f"stack({n_caps}, {stack_args}) AS (capacity, kept_tokens)",
    ).filter(
        # no docs -> no plan (and the nullif below keeps any other
        # zero-denominator from becoming an ANSI divide-by-zero)
        F.col("n_docs") > 0
    ).selectExpr(
        "capacity",
        "n_docs",
        "real_tokens",
        "kept_tokens",
        "(real_tokens - kept_tokens) * 1000000"
        " div nullif(real_tokens, 0) AS truncated_ppm",
        "(n_docs * capacity - kept_tokens) * 1000000"
        " div nullif(n_docs * capacity, 0) AS pad_waste_ppm",
    )


def _oracle_packing_capacity() -> str:
    ws = TH.dd_words("text")
    kept = ", ".join(
        f"CAST(SUM(LEAST(len({ws}), {c})) AS BIGINT) AS kept_{c}"
        for c in _PACK_CAPACITIES
    )
    selects = " UNION ALL ".join(
        f"SELECT CAST({c} AS BIGINT) AS capacity, n_docs, real_tokens, "
        f"kept_{c} AS kept_tokens, "
        f"(real_tokens - kept_{c}) * 1000000 // nullif(real_tokens, 0)"
        f" AS truncated_ppm, "
        f"(n_docs * {c} - kept_{c}) * 1000000 // nullif(n_docs * {c}, 0)"
        f" AS pad_waste_ppm FROM a WHERE n_docs > 0"
        for c in _PACK_CAPACITIES
    )
    return f"""
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({ws})) AS BIGINT) AS real_tokens, {kept}
  FROM documents WHERE text IS NOT NULL)
{selects}
"""


# Global keep budget for the quality-threshold planner: keep the top
# 30% of each source by quality score. Exact-integer ceil bound: the
# n_docs * PPM product stays < 2^63 for any real per-source doc count
# (< 9.2e12 docs).
QUALITY_KEEP_PPM = 300_000


def q_quality_threshold_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold PLANNER that goes with `quality_curriculum`'s
    scorer: given a global keep budget (top QUALITY_KEEP_PPM of each
    source by quality score), find the per-source score CUT-OFF a
    production filter should apply — the number quality-filter configs
    are written from. Emits, per source: docs seen, the budgeted keep
    target (exact-integer ceil), the highest score threshold whose
    keep-count meets the target (ties at the threshold bucket kept
    inclusively, so n_keep >= target_keep), and the realized keep rate.

    Float-parity policy: the score is `quality_parts` — the exact
    formula `text_quality_score` already hash-verifies across engines —
    quantized once onto a milli grid (floor(score*1000), <= 1001
    buckets); every step after that is int64 arithmetic.

    Scale shape: one corpus scan into a (source x <=1001-bucket)
    hash-agg histogram (map-side combinable), then windows and the
    threshold pick run on the S x 1001-row histogram — the per-source
    window sorts <= 1001 rows regardless of corpus size, and nothing
    after the first agg touches the corpus."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    _, _, score = quality_parts(F.col("text"))
    hist = (
        docs.select(
            "source",
            F.floor(score * 1000).cast("long").alias("score_milli"),
        )
        .groupBy("source", "score_milli")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    w_desc = (
        W.partitionBy("source")
        .orderBy(F.col("score_milli").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "source",
        "score_milli",
        F.sum("n_b").over(w_desc).alias("cum"),
        F.sum("n_b").over(W.partitionBy("source")).alias("n_docs"),
    )
    # keep docs with score_milli >= t; the threshold is the HIGHEST t
    # whose cumulative count meets the budget (the min-score bucket's
    # cum equals n_docs >= target, so a pick always exists)
    eligible = cum.filter(
        F.col("cum")
        >= F.expr(f"(n_docs * {QUALITY_KEEP_PPM} + 999999) div 1000000")
    )
    pick = eligible.groupBy("source").agg(
        F.max(F.struct("score_milli", "cum", "n_docs")).alias("p")
    )
    return pick.select(
        "source",
        F.col("p.n_docs").alias("n_docs"),
        F.expr(
            f"(p.n_docs * {QUALITY_KEEP_PPM} + 999999) div 1000000"
        ).alias("target_keep"),
        F.col("p.score_milli").alias("threshold_milli"),
        F.col("p.cum").alias("n_keep"),
        F.expr("(p.cum * 1000000) div p.n_docs").alias("keep_ppm"),
    )


def _oracle_quality_threshold() -> str:
    return f"""
WITH d AS (
  SELECT source,
         CAST(FLOOR(({dd_quality_score('text')}) * 1000) AS BIGINT)
           AS score_milli
  FROM documents WHERE text IS NOT NULL),
h AS (SELECT source, score_milli, CAST(COUNT(*) AS BIGINT) AS n_b
      FROM d GROUP BY 1, 2),
c AS (SELECT source, score_milli,
             CAST(SUM(n_b) OVER (
               PARTITION BY source ORDER BY score_milli DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(n_b) OVER (PARTITION BY source) AS BIGINT)
               AS n_docs
      FROM h),
e AS (SELECT * FROM c
      WHERE cum >= (n_docs * {QUALITY_KEEP_PPM} + 999999) // 1000000)
SELECT source,
       MAX(n_docs) AS n_docs,
       (MAX(n_docs) * {QUALITY_KEEP_PPM} + 999999) // 1000000
         AS target_keep,
       MAX(score_milli) AS threshold_milli,
       max_by(cum, score_milli) AS n_keep,
       (max_by(cum, score_milli) * 1000000) // MAX(n_docs) AS keep_ppm
FROM e GROUP BY source
"""


QUERIES = {
    "doc_chunk_windows": q_doc_chunk_windows,
    "pii_scrub_stats": q_pii_scrub_stats,
    "dataset_card_report": q_dataset_card_report,
    "boilerplate_scrub_stats": q_boilerplate_scrub_stats,
    "hash_split_documents": q_hash_split,
    "paragraph_dedup": q_paragraph_dedup,
    "contamination_check": q_contamination_check,
    "source_overlap_census": q_source_overlap_census,
    "dedup_order_plan": q_dedup_order_plan,
    "corpus_filter_pipeline": q_filter_pipeline,
    "stratified_sample": q_stratified_sample,
    "substring_dup_spans": q_substring_dup_spans,
    "mixture_weighted_sample": q_mixture_weighted_sample,
    "mixture_epochs_plan": q_mixture_epochs_plan,
    "sequence_packing": q_sequence_packing,
    "corpus_shuffle": q_corpus_shuffle,
    "training_order_packing": q_training_order_packing,
    "quality_curriculum": q_quality_curriculum,
    "leakage_safe_split": q_leakage_safe_split,
    "dsir_importance_weights": q_dsir_importance_weights,
    "reservoir_sample_per_key": q_reservoir_sample_per_key,
    "split_drift_psi": q_split_drift_psi,
    "fuzzy_contamination": q_fuzzy_contamination,
    "quality_threshold_plan": q_quality_threshold_plan,
    "packing_capacity_plan": q_packing_capacity_plan,
}

ORACLES = {
    "quality_curriculum": ORACLE_QUALITY_CURRICULUM,
    "leakage_safe_split": _oracle_leakage_safe_split(),
    "doc_chunk_windows": ORACLE_DOC_CHUNKS,
    "pii_scrub_stats": ORACLE_PII_SCRUB,
    "dataset_card_report": _oracle_dataset_card(),
    "boilerplate_scrub_stats": ORACLE_BOILERPLATE_SCRUB,
    "substring_dup_spans": ORACLE_SUBSTRING_SPANS,
    "mixture_weighted_sample": ORACLE_MIXTURE_SAMPLE,
    "sequence_packing": ORACLE_SEQUENCE_PACKING,
    "corpus_shuffle": ORACLE_CORPUS_SHUFFLE,
    "training_order_packing": ORACLE_TRAINING_ORDER_PACKING,
    "hash_split_documents": ORACLE_HASH_SPLIT,
    "paragraph_dedup": ORACLE_PARAGRAPH_DEDUP,
    "contamination_check": ORACLE_CONTAMINATION,
    "source_overlap_census": ORACLE_SOURCE_OVERLAP,
    "dedup_order_plan": ORACLE_DEDUP_ORDER,
    "mixture_epochs_plan": ORACLE_MIXTURE_EPOCHS,
    "corpus_filter_pipeline": ORACLE_FILTER_PIPELINE,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "dsir_importance_weights": _oracle_dsir(),
    "reservoir_sample_per_key": ORACLE_RESERVOIR_SAMPLE,
    "split_drift_psi": _oracle_split_drift_psi(),
    "fuzzy_contamination": _oracle_fuzzy_contamination(),
    "quality_threshold_plan": _oracle_quality_threshold(),
    "packing_capacity_plan": _oracle_packing_capacity(),
}
