"""Text-analysis operators over `documents` — language ID, quality
scoring, token statistics, fingerprinting (BASELINE.json north star;
SURVEY §7 phase 5).

Everything is built from portable scalar expressions (no UDF, no Python
in the hot path): counting via length-difference tricks and `filter` on
word arrays, so the DuckDB oracle evaluates the very same formulas.

At 100 TB these are embarrassingly-parallel projections — one scan, no
shuffle; the per-language marker lists ride along as literals (on a real
pipeline, a broadcast map).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.functions import texthash as TH
from parallelutilities_jl_spark.session import materialize
from parallelutilities_jl_spark.sources.fixtures import load_table_parallel

STOPWORDS = ("the", "a", "of", "and", "in")

# marker-word heuristics per language (n-gram-style language ID)
LANG_MARKERS = {
    "en": ("the", "of", "and"),
    "de": ("der", "die", "und"),
    "fr": ("le", "les", "des"),
    "es": ("el", "los", "las"),
}


def _count_in(ws: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(ws, lambda w: w.isin(*markers))).cast("long")


def _dd_count_in(ws: str, markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"CAST(len(list_filter({ws}, w -> w IN ({lst}))) AS BIGINT)"


# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# symbols — the GPT-2-style split points, minus the unicode classes (the
# char-class subset shared by Spark's and DuckDB's regex dialects)
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words, chars, a BPE-ish regex token
    count (letter/digit runs + symbols), and the ~4-chars/token
    estimate."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    nt = TH.norm_text(F.col("text"))
    ws = F.split(nt, " ")
    n_words = F.size(ws).cast("long")
    n_chars = F.length(nt).cast("long")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_norm"),
        F.round(
            (n_chars - (n_words - 1)).cast("double") / n_words, 6
        ).alias("avg_word_len"),
        F.regexp_count(nt, F.lit(BPE_REGEX)).cast("long").alias(
            "bpe_tokens_regex"
        ),
        F.ceil(n_chars / F.lit(4.0)).cast("long").alias("bpe_tokens_est"),
    )


def quality_parts(raw: Column) -> tuple[Column, Column, Column]:
    """(punct_ratio, stop_ratio, score) — the quality heuristic, exposed
    so filter pipelines reuse the exact same formula the scorer reports."""
    nt = TH.norm_text(raw)
    ws = F.split(nt, " ")
    n_words = F.size(ws).cast("double")
    n_chars = F.length(raw).cast("double")
    punct = (
        n_chars - F.length(F.regexp_replace(raw, r"[.,!?;:]", ""))
    ).cast("double")
    stop = _count_in(ws, STOPWORDS).cast("double")
    # empty text => 0-char denominator; ANSI mode raises on x/0, and a
    # real corpus always contains empty docs — score them 0-punctuation
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    stop_ratio = stop / n_words
    len_score = F.least(n_words / 100.0, F.lit(1.0))
    score = (
        0.5 * len_score + 0.3 * F.least(stop_ratio * 5, F.lit(1.0))
        + 0.2 * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    return punct_ratio, stop_ratio, score


# DuckDB twin of quality_parts: {c} is the raw text column
DD_QUALITY_SCORE = (
    "(0.5 * LEAST(CAST(len(string_split({nt}, ' ')) AS DOUBLE) / 100.0, 1.0)"
    " + 0.3 * LEAST((CAST({stop} AS DOUBLE)"
    "                / len(string_split({nt}, ' '))) * 5, 1.0)"
    " + 0.2 * (1 - LEAST((CASE WHEN length({c}) > 0"
    "            THEN CAST(length({c})"
    "            - length(regexp_replace({c}, '[.,!?;:]', '', 'g'))"
    "            AS DOUBLE) / length({c}) ELSE 0.0 END) * 10, 1.0)))"
)


def dd_quality_score(c: str) -> str:
    nt = TH.dd_norm_text(c)
    stop = _dd_count_in(f"string_split({nt}, ' ')", STOPWORDS)
    return DD_QUALITY_SCORE.format(c=c, nt=nt, stop=stop)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, punctuation density, stopword ratio,
    mean word length — combined into a [0, 1]-ish score."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    punct_ratio, stop_ratio, score = quality_parts(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: count per-language marker hits, argmax
    with a fixed precedence (en > de > fr > es; 'und' = undetermined)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    ws = TH.words(F.col("text"))
    counts = {
        lang: _count_in(ws, marks) for lang, marks in LANG_MARKERS.items()
    }
    c = {lang: F.col(f"n_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*c.values())
    pred = (
        F.when(best == 0, "und")
        .when(c["en"] == best, "en")
        .when(c["de"] == best, "de")
        .when(c["fr"] == best, "fr")
        .otherwise("es")
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            *[counts[lang].alias(f"n_{lang}") for lang in LANG_MARKERS],
        )
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            *[f"n_{lang}" for lang in LANG_MARKERS],
            pred.alias("pred_lang"),
        )
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: the k minimal shingle hashes summarise
    the document (here k=1 plus the distinct-shingle count) — the
    order-statistic sketch reused from MinHash.

    Zero-shuffle: the distinct shingle set never leaves its document
    row — min-hash and count are HOF folds over a per-row array (min
    over distinct == min over all, so `array_distinct` serves both
    outputs; the previous explode + groupBy(doc_id) + countDistinct
    paid a corpus-sized exchange plus a distinct-expand for state that
    was per-row all along)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    shs = F.array_distinct(TH.shingles(F.col("ws"), 3))
    return (
        docs.select("doc_id", TH.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", shs.alias("shs"))
        .select(
            "doc_id",
            F.array_min(
                F.transform(F.col("shs"), lambda sh: F.md5(sh))
            ).alias("fingerprint"),
            F.size("shs").cast("long").alias("n_shingles"),
        )
    )


# Winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003): word k-grams,
# window of w consecutive k-gram hashes; any shared run of k+w-1 words
# is GUARANTEED to share a selected fingerprint (the local-selection
# theorem the global-min `doc_fingerprint` sketch cannot offer).
WINNOW_K = 3
WINNOW_W = 4
# positional argmin key space: key = h*C - pos encodes (min hash,
# rightmost tie-break) as one int64 — h is 32-bit so h*2^20 stays well
# under 2^63; docs longer than 2^20 k-grams would need a wider C (and
# a 64-bit key would then demand a narrower hash; at that length,
# winnow per chunk).
WINNOW_C = 1 << 20
# fingerprints shared by more docs than this are boilerplate — drop
# them before the overlap self-join (same df-cap role as NGRAM_MAX_DF)
WINNOW_MAX_DF = 64
WINNOW_MIN_SHARED = 2


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL winnowing fingerprints (Schleimer et al., SIGMOD
    2003 — the MOSS selection rule): over each document's word
    {WINNOW_K}-gram hash sequence, every window of {WINNOW_W}
    consecutive hashes selects its minimum (rightmost occurrence on
    ties), and the fingerprint set is the distinct selected
    (position, hash) pairs. Guarantee: two documents sharing any run
    of k+w-1 = {WINNOW_K + WINNOW_W - 1} words share at least one
    selected hash — the local-coverage property the global-min
    `doc_fingerprint` sketch lacks, and what makes this the standard
    substring-level contamination/plagiarism screen.

    Zero-shuffle: the whole selection is in-row higher-order-function
    algebra — the (min hash, rightmost pos) argmin of a window is the
    plain integer MIN of `h*C - pos` keys (C = {WINNOW_C} bounds pos),
    so each doc's fingerprint set is `array_distinct` over per-window
    `array_min`s, exploded. No window function, no per-doc shuffle;
    identical integer arithmetic in DuckDB decodes the same keys.
    Cost is O(tokens · w) per row with w = {WINNOW_W}."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    return _winnow_fp_frame(docs)


def _winnow_fp_frame(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """The winnowing selection over a documents frame, carrying any
    `extra_cols` (e.g. `source`) through the in-row algebra — callers
    that need doc attributes on the fingerprint rows get them for
    free from the SAME scan instead of re-joining the corpus."""
    extra = list(extra_cols)
    base = (
        docs.select("doc_id", *extra, TH.words(F.col("text")).alias("ws"))
        # lower bound: at least one full window; upper bound: the
        # integer argmin key encodes pos in [1, C) — docs beyond C-1
        # k-grams would silently corrupt the decode, so they are
        # EXCLUDED (mirrored in the oracle; winnow per chunk at that
        # length in production, cf. the WINNOW_C comment)
        .filter(
            (F.size("ws") >= WINNOW_K + WINNOW_W - 1)
            & (F.size("ws") <= WINNOW_C + WINNOW_K - 2)
        )
        .select(
            "doc_id",
            *extra,
            F.transform(
                TH.shingles(F.col("ws"), WINNOW_K),
                lambda sh: TH.md5_int32(sh),
            ).alias("hs"),
        )
    )
    keys = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - (WINNOW_W - 1)),
            lambda s: F.array_min(
                F.transform(
                    F.sequence(s, s + (WINNOW_W - 1)),
                    lambda p: F.element_at(F.col("hs"), p)
                    * F.lit(WINNOW_C)
                    - p,
                )
            ),
        )
    )
    return base.select(
        "doc_id", *extra, F.explode(keys).alias("k")
    ).select(
        "doc_id",
        *extra,
        F.expr(f"(k + {WINNOW_C - 1}) div {WINNOW_C}").alias("fp"),
        F.expr(
            f"((k + {WINNOW_C - 1}) div {WINNOW_C}) * {WINNOW_C} - k"
        ).alias("pos"),
    )


def q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document contamination screen on the winnowing
    fingerprints: document pairs sharing >= {WINNOW_MIN_SHARED}
    distinct selected hashes, with the shared count. By the winnowing
    guarantee this catches EVERY pair sharing two disjoint runs of
    k+w-1 words — substring-level overlap the shingle-set screens
    (Jaccard/containment) only catch once the overlap dominates the
    doc.

    Scale shape: the fingerprint frame is ~2·tokens/w rows; hashes
    held by more than {WINNOW_MAX_DF} docs are boilerplate and are
    dropped BEFORE the self-join (the same df-cap every LSH family
    here uses), bounding per-hash fan-out at {WINNOW_MAX_DF}²/2 pairs.
    One fp-keyed exchange feeds cap + join; the pair count is a
    map-side-combinable agg."""
    from pyspark.sql.window import Window as W

    fps = (
        q_winnowing_fingerprints(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
    )
    fps = (
        fps.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("fp"))
        )
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .drop("df")
    )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def q_winnowing_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-benchmark contamination screen with the WINNOWING
    GUARANTEE: a corpus doc sharing ANY verbatim run of k+w-1 =
    {WINNOW_K + WINNOW_W - 1} words with an eval doc (source =
    EVAL_SOURCE) is certain to share a selected fingerprint — the
    exact case (a benchmark answer string quoted inside a training
    document) that Jaccard/containment screens only catch once the
    quote dominates the doc (`fuzzy_contamination` needs whole-doc
    similarity >= tau; `contamination_check` needs the exact shingle
    to survive its cap). Emits, per flagged corpus doc: how many eval
    docs it shares fingerprints with, the total shared-fingerprint
    count, and the largest single-eval-doc overlap.

    Scale shape: the winnowing scans are zero-exchange; the eval
    fingerprint frame is benchmark-sized and BROADCAST; corpus-side
    fingerprints held by more than {WINNOW_MAX_DF} corpus docs are
    boilerplate and drop before the join (documented miss-mode: a
    quote that is ALSO corpus boilerplate is suppressed); the per-doc
    tails are two map-side-combinable aggs."""
    from parallelutilities_jl_spark.sources.fixtures import EVAL_SOURCE
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents")
    # source rides the fingerprint scan itself (_winnow_fp_frame), so
    # no corpus-sized doc_id re-join — the scans stay zero-exchange
    fps = (
        _winnow_fp_frame(docs, extra_cols=("source",))
        .select("doc_id", "source", "fp")
        .distinct()
    )
    ev = F.broadcast(
        fps.filter(F.col("source") == EVAL_SOURCE).select(
            F.col("doc_id").alias("eval_doc"), "fp"
        )
    )
    cb = (
        fps.filter(F.col("source") != EVAL_SOURCE)
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("doc_id", "fp")
    )
    pair = (
        cb.join(ev, "fp")
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pair.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
        F.sum("shared").alias("n_shared_fps"),
        F.max("shared").alias("max_shared"),
    )


def _oracle_winnowing_contamination() -> str:
    from parallelutilities_jl_spark.sources.fixtures import EVAL_SOURCE

    raw_ws = TH.dd_words("text")
    return f"""
WITH {_winnow_fp_cte(raw_ws)},
d AS (SELECT DISTINCT doc_id, fp FROM fps),
s AS (SELECT d.doc_id, d.fp, documents.source
      FROM d JOIN documents USING (doc_id)),
ev AS (SELECT doc_id AS eval_doc, fp FROM s
       WHERE source = '{EVAL_SOURCE}'),
cold AS (SELECT fp FROM s WHERE source <> '{EVAL_SOURCE}'
         GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DF}),
cb AS (SELECT s.doc_id, s.fp FROM s JOIN cold USING (fp)
       WHERE source <> '{EVAL_SOURCE}'),
pair AS (SELECT cb.doc_id, ev.eval_doc, COUNT(*) AS shared
         FROM cb JOIN ev USING (fp) GROUP BY 1, 2)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
       CAST(SUM(shared) AS BIGINT) AS n_shared_fps,
       CAST(MAX(shared) AS BIGINT) AS max_shared
FROM pair GROUP BY doc_id
"""


# Gopher-style repetition thresholds (Rae et al. 2021 use per-n-gram
# caps of this magnitude; exact values matter less than the mechanism)
TOP_BIGRAM_MAX_FRAC = 0.2
DUP_WORD_MAX_FRAC = 0.7


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: docs dominated by one repeated
    bigram or by duplicated words are boilerplate/spam — emit the counts
    and the keep decision. All comparisons are single IEEE divisions of
    identical integers against identical literals, so the keep flag is
    deterministic cross-engine.

    Scale shape: one explode + two hash-aggs keyed by (doc_id, bigram) —
    linear in corpus token count, map-side combinable (same shuffle
    shape as MinHash signatures)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", TH.words(F.col("text")).alias("ws")
    ).filter(F.size("ws") >= 2)
    stats = base.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("long").alias(
            "n_distinct_words"
        ),
    )
    bg = base.select(
        "doc_id",
        (F.size("ws") - 1).cast("long").alias("n_bigrams"),
        F.explode(TH.shingles(F.col("ws"), 2)).alias("bg"),
    )
    top = (
        bg.groupBy("doc_id", "n_bigrams", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_bigrams")
        .agg(F.max("c").alias("top_bigram_n"))
    )
    keep = (
        (
            F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
            <= TOP_BIGRAM_MAX_FRAC
        )
        & (
            (
                1
                - F.col("n_distinct_words").cast("double")
                / F.col("n_words")
            )
            <= DUP_WORD_MAX_FRAC
        )
    )
    return stats.join(top, "doc_id").select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "n_bigrams",
        "top_bigram_n",
        keep.alias("keep_repetition"),
    )


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top characteristic terms per document, tf-idf style — ordered by
    (tf DESC, df ASC, term ASC), i.e. frequent-in-doc and rare-in-corpus.

    The ordering is INTEGER-keyed on purpose: ranking by the float score
    tf·ln(N/df) would hinge on ln(), which is not guaranteed identically
    rounded across engines (float-parity policy) — the integer key gives
    the same ranking as the score whenever scores differ, and a
    deterministic tie-break when they don't.

    Scale shape: two hash-aggs — (doc_id, term) then (term) — and an
    equi-join of tf against the corpus-wide df table on term; the window
    top-k shuffles on doc_id. All linear, all map-side combinable."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TH.words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("w").asc()
    )
    return (
        tf.join(df_, "w")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", F.col("w").alias("term"), "tf", "df", "rnk")
    )


# unigram-LM quality filter: bits-per-token threshold (CCNet uses a
# wikipedia-trained LM's perplexity; here the LM is the corpus itself and
# the cut sits near the fixture corpus median so the flag is non-vacuous)
LOGPPL_Q = 1 << 20  # fixed-point fraction scale for the quantized log2
LOGPPL_MAX_BITS = 4.89


def _qlog2(x: str, *, spark: bool) -> str:
    """Fixed-point log2 of a positive integer expression, built ONLY from
    correctly-rounded IEEE ops so both engines produce the same integer:
    msb from the binary-string length, mantissa from an EXACT
    power-of-two division, linear interpolation between powers of two
    (max error 0.086 bits — fine for a quality threshold), floored at
    2^20 fixed point. `ln`/`log2`/`pow` are implementation-defined libm
    calls that may differ in the last ulp between JVM and DuckDB; this
    expression never calls them."""
    msb = f"(length(bin({x})) - 1)"
    pw = (
        f"shiftleft(CAST(1 AS BIGINT), CAST({msb} AS INT))"
        if spark
        else f"(CAST(1 AS BIGINT) << {msb})"
    )
    return (
        f"CAST(FLOOR(({msb} + CAST({x} AS DOUBLE) / CAST({pw} AS DOUBLE)"
        f" - 1.0) * {LOGPPL_Q}.0) AS BIGINT)"
    )


def q_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM log-perplexity filter (the CCNet/Wenzek et al. 2019
    mechanism): score each document by mean information content under a
    unigram model trained on the corpus itself — bits/token =
    mean(log2 N - log2 c_w) — and keep docs under the threshold
    (high perplexity = gibberish tail, very low = boilerplate).

    Cross-engine determinism: per-token information is quantized to a
    2^20 fixed-point integer via the transcendental-free `_qlog2`, so the
    per-document aggregation is integer math (order-free) and the single
    final division is one IEEE op on identical operands.

    Scale shape: tokenize → (doc, word) tf agg → corpus word-count agg →
    broadcast-join counts back (vocab ≪ corpus) → per-doc agg. Two
    linear map-side-combinable shuffles; the LM table is the broadcast
    side, exactly how a real trained-LM filter ships its vocab."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TH.words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    cw = tf.groupBy("w").agg(F.sum("tf").alias("c"))
    tot = cw.agg(F.sum("c").alias("n_corpus"))
    scored = (
        tf.join(F.broadcast(cw), "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "tf",
            F.expr(_qlog2("n_corpus", spark=True)).alias("q_n"),
            F.expr(_qlog2("c", spark=True)).alias("q_c"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * (F.col("q_n") - F.col("q_c"))).alias(
                "q_bits"
            ),
        )
    )
    bits = F.col("q_bits").cast("double") / (
        F.col("n_tokens").cast("double") * F.lit(float(LOGPPL_Q))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "q_bits",
        bits.alias("bits_per_token"),
        (bits <= LOGPPL_MAX_BITS).alias("keep_ppl"),
    )


VOCAB_TOP_N = 20


def q_vocab_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 bigrams — the counting pass a BPE/wordpiece
    vocab build starts from. orderBy+limit compiles to
    TakeOrderedAndProject: each partition keeps its local top-20, only
    those reach the driver — no global sort at any scale."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    bg = (
        docs.select(TH.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(F.explode(TH.shingles(F.col("ws"), 2)).alias("bg"))
    )
    return (
        bg.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bg"))
        .limit(VOCAB_TOP_N)
        .select(F.col("bg").alias("bigram"), "n")
    )


BPE_MERGES = 5
# Every symbol is wrapped as "(sym)" in the working representation, so a
# merge is a plain literal REPLACE of "(x)(y)" with "(xy)": adjacent
# matches share no characters, which makes left-to-right non-overlapping
# replacement semantics identical in every engine (the subtle boundary-
# sharing case of space-separated symbol strings can't arise). Training
# words are restricted to ^[a-z0-9]+$ (standard BPE pre-tokenization),
# so "(" and ")" can never appear inside a symbol.
_BPE_WORD_RE = "^[a-z0-9]+$"
_BPE_SYM_RE = r"\(([^()]+)\)"


def q_lang_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix entropy — the diversity number a dataset
    card reports per subcorpus (a source whose language distribution
    collapsed is a curation bug). H = log2(N) − (Σ c·log2 c)/N over the
    per-(source, lang) doc counts, computed ENTIRELY in the quantized
    fixed-point log2 (`_qlog2`, 2^20 scale — no libm, so both engines
    produce the identical integer; the final division is exact integer
    `div` on the positive domain). Two map-side-combinable aggs on tiny
    group counts; nothing data-sized after the first.
    Int64 bound: Σ c·qlog2(c) ≤ N·40·2^20 — fine to ~10¹² docs/source;
    beyond that the sum moves to DECIMAL(38,0) like the money tier."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    g = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "source",
            "c",
            F.expr(_qlog2("c", spark=True)).alias("qc"),
        )
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.sum(F.col("c") * F.col("qc")).alias("s"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            (
                F.expr(_qlog2("n_docs", spark=True))
                - F.expr("s div n_docs")
            ).alias("entropy_q"),
        )
    )


ORACLE_LANG_MIX_ENTROPY = f"""
WITH g AS (
  SELECT source, COUNT(*) AS c FROM documents GROUP BY source, lang),
t AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
         COUNT(*) AS n_langs,
         CAST(SUM(c * {_qlog2('c', spark=False)}) AS BIGINT) AS s
  FROM g GROUP BY source)
SELECT source, n_docs, n_langs,
       CAST({_qlog2('n_docs', spark=False)} - s // n_docs AS BIGINT)
         AS entropy_q
FROM t
"""


# Re-encode the working word histogram (apply pending merges, truncate
# the plan with `materialize`) every this many rounds: bounds the
# per-round literal-REPLACE chain at R, so total replace work is
# O(merges·R·vocab) — LINEAR in merge count — instead of the unbounded
# chain's O(merges²·vocab). At a real tokenizer's 32k merges the
# unbounded chain is the op's scale-killer (round-10 verdict finding 3);
# same bounded-lineage pattern as dedup.connected_components'
# propagation checkpoint.
BPE_REENCODE_EVERY = 8


def _learn_bpe(spark: SparkSession, sf_dir: str):
    """The BPE training loop shared by `bpe_merges` (emits the merge
    table) and `bpe_apply_fertility` (applies the merges back to the
    corpus). Returns (raw vocab_df, merges, per-round top-1 rows —
    plain collected tuples: one (rank, x, y, merged, pair_count) row
    per round IS the model state, so consumers rebuild the merge table
    from driver state instead of re-executing every round's pair-count
    shuffle at action time)."""
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    vocab = materialize(  # reused every merge round
        docs.select(F.explode(TH.words(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike(_BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace("word", "(.)", r"($1)").alias("w"), "freq"
        )
    )

    def pair_counts(wcol: Column, frame: DataFrame) -> DataFrame:
        syms = F.regexp_extract_all(wcol, F.lit(_BPE_SYM_RE), 1)
        return (
            frame.select(syms.alias("s"), "freq")
            # single-symbol words have no pairs; the >=2 guard also keeps
            # sequence() ascending (Spark's sequence(1, 0) is DESCENDING)
            .filter(F.size("s") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("s") - 1),
                        lambda i: F.struct(
                            F.element_at("s", i).alias("x"),
                            F.element_at("s", i + 1).alias("y"),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.x", "p.y")
            .agg(F.sum("freq").alias("pair_count"))
        )

    merges: list[tuple[str, str]] = []
    pending: list[tuple[str, str]] = []  # not yet baked into `work`
    work = vocab  # working histogram; re-encoded every R rounds
    out: list[tuple] = []
    for r in range(BPE_MERGES):
        wcol = _apply_merges(F.col("w"), pending)
        top = (
            pair_counts(wcol, work)
            .orderBy(F.col("pair_count").desc(), "x", "y")
            .limit(1)
        )
        rows = top.collect()  # model state: one (x, y) pair per round
        if not rows:  # corpus exhausted (empty/degenerate): stop merging
            break
        row = rows[0]
        merges.append((row["x"], row["y"]))
        pending.append((row["x"], row["y"]))
        out.append(
            (
                r + 1,
                row["x"],
                row["y"],
                row["x"] + row["y"],
                row["pair_count"],
            )
        )
        if len(pending) >= BPE_REENCODE_EVERY and r + 1 < BPE_MERGES:
            # bake the pending merges in and truncate the plan — the
            # next round's replace chain restarts at length 0
            work = materialize(
                work.select(
                    _apply_merges(F.col("w"), pending).alias("w"), "freq"
                )
            )
            pending = []
    return vocab, merges, out


def _apply_merges(wcol: Column, merges: list[tuple[str, str]]) -> Column:
    for x, y in merges:
        wcol = F.replace(wcol, F.lit(f"({x})({y})"), F.lit(f"({x}{y})"))
    return wcol


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first `BPE_MERGES` merge steps (Sennrich
    et al. 2016, arXiv:1508.07909): count adjacent symbol pairs over the
    word-frequency histogram, take the most frequent pair (ties broken
    lexicographically), fuse it everywhere, repeat. Output: the learned
    merge table (rank, pair, fused symbol, weighted pair count) — the
    artifact a tokenizer ships.

    Spark shape (same driver-held-model loop as `kmeans_assign`): the
    corpus-sized work is ONE tokenize + groupBy(word) pass; everything
    after runs on the word-frequency vocabulary (bounded by vocabulary
    growth, not corpus size — the classic BPE-on-histogram trick), kept
    distributed and materialized once. Each merge round
    is one map-side-combinable pair-count shuffle plus a 1-row
    TakeOrderedAndProject argmax to the driver; the chosen pair is
    applied as a literal REPLACE (narrow map) in the next round's plan,
    and the working histogram is re-encoded + checkpointed every
    `BPE_REENCODE_EVERY` rounds so the replace chain stays bounded —
    total replace work linear in merge count (10x-merges stress row in
    SCALING.md). The merge table itself is rebuilt from the driver-held
    per-round argmax rows (the model), not by re-executing each round's
    pair-count shuffle at action time. The oracle replays the identical
    rounds as chained CTEs."""
    _, merges, out = _learn_bpe(spark, sf_dir)
    schema = (
        "merge_rank long, x string, y string, merged string, "
        "pair_count long"
    )
    return spark.createDataFrame(out, schema)


def q_bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the tokenizer story: APPLY the learned merges
    back to the corpus and measure the compression they buy — weighted
    symbol counts before/after, i.e. how far 5 merges move tokens/word
    toward the fertility a shipped tokenizer reports. Application is a
    literal-REPLACE chain over the checkpointed word-frequency vocab (a
    pure narrow map — at corpus scale this is the per-document tokenize
    pass, embarrassingly parallel); symbol counts are length-difference
    tricks on the wrapped encoding, so both engines count identically.
    `saved_e6` = floor((before-after)·10⁶ / before): exact int64 inputs
    (< 2⁵³) through one correctly-rounded division — engine-stable."""
    vocab, merges, out = _learn_bpe(spark, sf_dir)
    if not out:  # empty/degenerate corpus: no stats row (and the
        # ungrouped agg below would emit a single all-NULL row instead)
        return spark.createDataFrame(
            [],
            "n_words long, symbols_before long, symbols_after long, "
            "saved_e6 long",
        )

    def n_syms(c: Column) -> Column:
        return (
            F.length(c) - F.length(F.replace(c, F.lit("("), F.lit("")))
        ).cast("long")

    per_word = vocab.select(
        "freq",
        n_syms(F.col("w")).alias("before"),
        n_syms(_apply_merges(F.col("w"), merges)).alias("after"),
    )
    return per_word.agg(
        F.sum("freq").alias("n_words"),
        F.sum(F.col("freq") * F.col("before")).alias("symbols_before"),
        F.sum(F.col("freq") * F.col("after")).alias("symbols_after"),
        F.floor(
            (
                F.sum(F.col("freq") * F.col("before"))
                - F.sum(F.col("freq") * F.col("after"))
            )
            * F.lit(1_000_000).cast("long")
            / F.sum(F.col("freq") * F.col("before"))
        ).alias("saved_e6"),
    )


def _bpe_cte_chain(n_merges: int = BPE_MERGES) -> tuple[list[str], list[str]]:
    """The merge rounds as chained CTEs (no RNG → replayable). DuckDB's
    generate_series(1, 0) is empty (unlike Spark's), so single-symbol
    words drop out of the pair lateral naturally. Returns (ctes,
    per-round merge-table SELECTs); the final vocab is `v{n_merges}`.
    Each vocab and winner CTE is read twice (next round's pair count
    and its rewrite), so they are MATERIALIZED: inlined, round r would
    expand into 2^r copies of the corpus scan and its aggregates —
    11 rounds at sf0.001 ran out of memory in DuckDB at 11 GiB."""
    nt = TH.dd_norm_text("text")
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS w, freq FROM (
    SELECT word, COUNT(*) AS freq FROM (
      SELECT UNNEST(string_split({nt}, ' ')) AS word
      FROM documents WHERE text IS NOT NULL)
    WHERE regexp_matches(word, '{_BPE_WORD_RE}') GROUP BY word))"""
    ]
    finals = []
    for r in range(1, n_merges + 1):
        prev = f"v{r - 1}"
        ctes.append(
            f"""p{r} AS (
  SELECT s[i] AS x, s[i + 1] AS y,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT regexp_extract_all(w, '{_BPE_SYM_RE}', 1) AS s, freq
        FROM {prev}),
       UNNEST(generate_series(1, len(s) - 1)) AS u(i)
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT x, y, pair_count FROM p{r} "
            f"ORDER BY pair_count DESC, x, y LIMIT 1)"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED ("
            f"SELECT REPLACE(w, '(' || x || ')(' || y || ')', "
            f"'(' || x || y || ')') AS w, freq "
            f"FROM {prev} CROSS JOIN t{r})"
        )
        finals.append(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, x, y, "
            f"x || y AS merged, pair_count FROM t{r}"
        )
    return ctes, finals


def _oracle_bpe_merges(n_merges: int = BPE_MERGES) -> str:
    ctes, finals = _bpe_cte_chain(n_merges)
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(finals)


def _oracle_bpe_fertility(n_merges: int = BPE_MERGES) -> str:
    ctes, _ = _bpe_cte_chain(n_merges)
    syms = "length(w) - length(REPLACE(w, '(', ''))"
    return f"""
WITH {",".join(ctes)},
b AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_words,
             CAST(SUM(freq * ({syms})) AS BIGINT) AS symbols_before
      FROM v0),
a AS (SELECT CAST(SUM(freq * ({syms})) AS BIGINT) AS symbols_after
      FROM v{n_merges})
SELECT n_words, symbols_before, symbols_after,
       CAST(FLOOR((symbols_before - symbols_after) * CAST(1000000 AS BIGINT)
                  / symbols_before) AS BIGINT) AS saved_e6
FROM b CROSS JOIN a
"""


PAD_BUCKET_MAX_EXP = 12  # length buckets: powers of two up to 2^12


def q_padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching efficiency — the padding-waste table
    behind dynamic batching: documents grouped into power-of-two token
    buckets (every doc in a batch pads to the bucket ceiling), emitting
    per-bucket doc counts, real tokens, padded tokens, and exact waste
    rate floor((padded−real)·10⁶/padded). The number that says whether
    a pipeline should bucket-batch or sort-batch.

    Scale shape: one narrow token-count map (whitespace tokens, the
    same normalization the packing ops use) + one map-side-combinable
    groupBy over ≤{PAD_BUCKET_MAX_EXP}+1 buckets. Bucket ceiling is
    2^ceil(log2 n) computed with integer comparisons (no float log —
    engine-exact everywhere). Docs longer than the 2^{PAD_BUCKET_MAX_EXP}
    top bucket count their tokens CLAMPED to the bucket ceiling (the
    chunking a packing pipeline applies), so waste_e6 is provably
    non-negative — this keeps Spark `div` (truncate) and DuckDB `//`
    (floor) identical on every reachable input, not just current
    fixtures (round-6 advice)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    n_tok = F.size(TH.words(F.col("text"))).cast("long")
    # smallest power of two >= n (n >= 1 always: words('') == [''])
    ceilings = [2**e for e in range(PAD_BUCKET_MAX_EXP + 1)]
    bucket = F.lit(2**PAD_BUCKET_MAX_EXP).cast("long")
    for c in reversed(ceilings):
        bucket = F.when(F.col("n") <= c, F.lit(c).cast("long")).otherwise(
            bucket
        )
    per = docs.select(n_tok.alias("n")).select(
        "n", bucket.alias("bucket")
    )
    agg = per.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # clamp to the top-bucket ceiling: padded >= real by construction
        F.sum(
            F.least(F.col("n"), F.lit(2**PAD_BUCKET_MAX_EXP).cast("long"))
        ).alias("real_tokens"),
    )
    padded = F.col("n_docs") * F.col("bucket")
    return agg.select(
        "bucket",
        "n_docs",
        "real_tokens",
        padded.alias("padded_tokens"),
        F.expr(
            "(n_docs * bucket - real_tokens) * 1000000"
            " div (n_docs * bucket)"
        ).alias("waste_e6"),
    )


def _oracle_padding_waste() -> str:
    ws = TH.dd_words("text")
    cases = " ".join(
        f"WHEN n <= {2**e} THEN {2**e}"
        for e in range(PAD_BUCKET_MAX_EXP + 1)
    )
    return f"""
WITH t AS (SELECT CAST(len({ws}) AS BIGINT) AS n FROM documents),
b AS (SELECT n, CAST(CASE {cases} ELSE {2**PAD_BUCKET_MAX_EXP} END
                AS BIGINT) AS bucket FROM t),
agg AS (SELECT bucket, COUNT(*) AS n_docs,
               CAST(SUM(LEAST(n, {2**PAD_BUCKET_MAX_EXP})) AS BIGINT)
                   AS real_tokens
        FROM b GROUP BY bucket)
SELECT bucket, n_docs, real_tokens,
       n_docs * bucket AS padded_tokens,
       CAST((n_docs * bucket - real_tokens) * 1000000
            // (n_docs * bucket) AS BIGINT) AS waste_e6
FROM agg
"""


OOV_VOCAB_K = 20  # "tokenizer vocabulary" = top-K corpus tokens


def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a fixed top-{OOV_VOCAB_K}
    corpus vocabulary — the dataset-card number that says which
    subcorpus a tokenizer trained on the head of the distribution will
    fragment worst. Vocabulary selection is deterministic (count desc,
    token asc), OOV is an exact integer count, rate is
    floor(oov·10⁶/total).

    Scale shape (round-16 optimization — one corpus pass, was two):
    the token stream aggregates ONCE into (source, w) counts (map-side
    combinable, the module's standard vocab-sized exchange — the same
    subtree `zipf_slope_by_source` builds, so AQE stage reuse shares
    the shuffle when both censuses run in one plan, e.g. the dataset
    card). The global vocab then comes from summing the per-source
    counts (vocab-sized, identical totals and tie-break ⇒ identical
    vocab), and the per-source tally is vocab-sized arithmetic — the
    old second corpus pass through a corpus-sized broadcast join is
    gone."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(TH.words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.groupBy("w")
        .agg(F.sum("c").alias("cw"))
        .orderBy(F.col("cw").desc(), F.col("w"))
        .limit(OOV_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    tallied = cnt.join(F.broadcast(vocab), "w", "left")
    return (
        tallied.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(
                    F.lit(0).cast("long")
                )
            ).cast("long").alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tokens").alias("oov_rate_e6"),
        )
    )


def _oracle_oov_rate() -> str:
    raw_ws = TH.dd_words("text")
    return f"""
WITH tok AS (SELECT source, UNNEST({raw_ws}) AS w FROM documents),
tf AS (SELECT source, w FROM tok WHERE w <> ''),
vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM tf GROUP BY w
                         ORDER BY c DESC, w LIMIT {OOV_VOCAB_K})),
t AS (SELECT source,
             CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END AS oov
      FROM tf)
SELECT source, COUNT(*) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) * 1000000 // COUNT(*) AS BIGINT) AS oov_rate_e6
FROM t GROUP BY source
"""


SKIPGRAM_W = 3  # co-occurrence window (word2vec-style context radius)
SKIPGRAM_TOP_N = 20


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counting — the (center, context) pair
    histogram word2vec/GloVe training data starts from (Mikolov et al.,
    arXiv:1301.3781). Counts unordered forward pairs (w_i, w_j) with
    i < j <= i+{SKIPGRAM_W}; symmetric contexts are this doubled, so
    forward-only loses nothing and halves the pair stream. Top-N by
    count with a total deterministic tiebreak.

    Scale shape: the pair stream is built INSIDE each document row with
    higher-order functions (nested transform over index sequences — no
    positions explode, no self-join on position adjacency), so the only
    data-sized operations are one explode and one map-side-combinable
    groupBy; orderBy+limit compiles to TakeOrderedAndProject (per-
    partition local top-N, no global sort)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    pairs = (
        docs.select(TH.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"""flatten(transform(
                        sequence(1, size(ws) - 1),
                        i -> transform(
                          sequence(i + 1, least(i + {SKIPGRAM_W}, size(ws))),
                          j -> concat(element_at(ws, i), ' ',
                                      element_at(ws, j)))))"""
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(SKIPGRAM_TOP_N)
    )


def _oracle_skipgrams() -> str:
    raw_ws = TH.dd_words("text")
    return f"""
WITH w AS (SELECT {raw_ws} AS ws FROM documents),
pr AS (SELECT UNNEST(flatten(list_transform(
         generate_series(1, len(ws) - 1),
         i -> list_transform(
           generate_series(i + 1, least(i + {SKIPGRAM_W}, len(ws))),
           j -> ws[i] || ' ' || ws[j])))) AS pair
       FROM w WHERE len(ws) >= 2)
SELECT pair, COUNT(*) AS n FROM pr GROUP BY pair
ORDER BY n DESC, pair LIMIT {SKIPGRAM_TOP_N}
"""


FUZZY_MAX_DIST = 3  # edit-distance bound for vocab variant pairs


def q_vocab_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-level fuzzy matching (typo/variant detection): distinct
    corpus tokens, blocked self-join, Levenshtein <= {FUZZY_MAX_DIST}.
    The entity-resolution shape every cleaning pipeline needs — dedup the
    corpus to its vocabulary FIRST (|V| << corpus), then pair only within
    blocks, never all-pairs over documents.

    Scale shape: the vocab agg is one map-side-combinable shuffle; the
    self-join is keyed on the blocking key (first character here; a real
    pipeline uses phonetic keys or char-ngram LSH for recall), so the
    join is an equi-join with per-block cardinality, not a cartesian.
    The |len(a)-len(b)| <= d prefilter is implied by the distance bound
    but lets the engine drop pairs before the O(len^2) edit-distance
    kernel. Levenshtein itself is JVM-side (`F.levenshtein`), identical
    unit-cost semantics in DuckDB.

    Blocking trades recall for scale by construction: pairs whose first
    characters differ are unreachable (documented contract, same on both
    engines)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(TH.words(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("blk", F.substring("tok", 1, 1))
    )
    a = vocab.select(
        F.col("blk"),
        F.col("tok").alias("tok_a"),
        F.col("n").alias("n_a"),
    )
    b = vocab.select(
        F.col("blk"),
        F.col("tok").alias("tok_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("tok_a") < F.col("tok_b"))
            & (
                F.abs(F.length("tok_a") - F.length("tok_b"))
                <= FUZZY_MAX_DIST
            )
            & (
                F.levenshtein(F.col("tok_a"), F.col("tok_b"))
                <= FUZZY_MAX_DIST
            )
        )
        .select(
            "tok_a",
            "tok_b",
            F.levenshtein(F.col("tok_a"), F.col("tok_b")).alias("dist"),
            "n_a",
            "n_b",
        )
    )


def _winnow_fp_cte(raw_ws: str) -> str:
    """The winnowing selection as a DuckDB CTE chain ending in
    `fps(doc_id, fp, pos)` — identical integer key algebra to the
    Spark HOF path (key = h*C - pos; decode by ceil-div)."""
    c = WINNOW_C
    return f"""w AS (SELECT doc_id, {raw_ws} AS ws FROM documents),
sh AS (SELECT doc_id, {TH.dd_shingles('ws', WINNOW_K)} AS shs
       FROM w WHERE len(ws) >= {WINNOW_K + WINNOW_W - 1}
         AND len(ws) <= {WINNOW_C + WINNOW_K - 2}),
hl AS (SELECT doc_id,
              list_transform(shs, x -> {TH.dd_md5_int32('x')}) AS hs
       FROM sh),
ks AS (SELECT doc_id, UNNEST(list_distinct(list_transform(
              generate_series(1, len(hs) - {WINNOW_W - 1}),
              s -> list_min(list_transform(
                   generate_series(s, s + {WINNOW_W - 1}),
                   p -> hs[p] * {c} - p))))) AS k
       FROM hl),
fps AS (SELECT doc_id, (k + {c - 1}) // {c} AS fp,
               ((k + {c - 1}) // {c}) * {c} - k AS pos
        FROM ks)"""


def _oracle_vocab_fuzzy() -> str:
    raw_ws = TH.dd_words("text")
    d = FUZZY_MAX_DIST
    return f"""
WITH tok AS (SELECT UNNEST({raw_ws}) AS tok FROM documents),
v AS (SELECT tok, COUNT(*) AS n, substr(tok, 1, 1) AS blk
      FROM tok WHERE tok <> '' GROUP BY tok)
SELECT a.tok AS tok_a, b.tok AS tok_b,
       CAST(levenshtein(a.tok, b.tok) AS INT) AS dist,
       a.n AS n_a, b.n AS n_b
FROM v a JOIN v b ON a.blk = b.blk AND a.tok < b.tok
WHERE abs(len(a.tok) - len(b.tok)) <= {d}
  AND levenshtein(a.tok, b.tok) <= {d}
"""


def _oracles() -> dict[str, str]:
    nt = TH.dd_norm_text("text")
    ws = f"string_split({nt}, ' ')"
    raw_ws = TH.dd_words("text")
    marker_counts = ", ".join(
        f"{_dd_count_in('ws', marks)} AS n_{lang}"
        for lang, marks in LANG_MARKERS.items()
    )
    return {
        "token_stats": f"""
WITH t AS (SELECT doc_id, {nt} AS nt FROM documents),
s AS (SELECT doc_id, nt, string_split(nt, ' ') AS ws FROM t)
SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       CAST(length(nt) AS BIGINT) AS n_chars_norm,
       ROUND(CAST(length(nt) - (len(ws) - 1) AS DOUBLE) / len(ws), 6)
         AS avg_word_len,
       CAST(len(regexp_extract_all(nt, '{BPE_REGEX}')) AS BIGINT)
         AS bpe_tokens_regex,
       CAST(CEIL(length(nt) / 4.0) AS BIGINT) AS bpe_tokens_est
FROM s
""",
        "text_quality_score": f"""
WITH s AS (SELECT doc_id, text,
                  CAST(length(text) AS DOUBLE) AS n_chars,
                  CAST(length(text) -
                       length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                       AS DOUBLE) AS punct,
                  string_split({nt}, ' ') AS ws
           FROM documents),
r AS (SELECT doc_id,
             CASE WHEN n_chars > 0 THEN punct / n_chars
                  ELSE 0.0 END AS punct_ratio,
             CAST({_dd_count_in('ws', STOPWORDS)} AS DOUBLE) / len(ws)
               AS stop_ratio,
             LEAST(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) AS len_score
      FROM s)
SELECT doc_id, ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stop_ratio, 6) AS stopword_ratio,
       ROUND(0.5 * len_score + 0.3 * LEAST(stop_ratio * 5, 1.0)
             + 0.2 * (1 - LEAST(punct_ratio * 10, 1.0)), 6) AS quality_score
FROM r
""",
        "lang_id_ngram": f"""
WITH s AS (SELECT doc_id, lang, {raw_ws} AS ws FROM documents),
c AS (SELECT doc_id, lang AS labeled_lang, {marker_counts} FROM s)
SELECT doc_id, labeled_lang, n_en, n_de, n_fr, n_es,
       CASE WHEN GREATEST(n_en, n_de, n_fr, n_es) = 0 THEN 'und'
            WHEN n_en = GREATEST(n_en, n_de, n_fr, n_es) THEN 'en'
            WHEN n_de = GREATEST(n_en, n_de, n_fr, n_es) THEN 'de'
            WHEN n_fr = GREATEST(n_en, n_de, n_fr, n_es) THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM c
""",
        "doc_fingerprint": f"""
WITH w AS (SELECT doc_id, {raw_ws} AS ws FROM documents),
sh AS (SELECT doc_id,
              UNNEST(list_transform(generate_series(1, len(ws) - 2),
                     j -> array_to_string(ws[j:j+2], ' '))) AS sh
       FROM w WHERE len(ws) >= 3)
SELECT doc_id, MIN(md5(sh)) AS fingerprint,
       COUNT(DISTINCT sh) AS n_shingles
FROM sh GROUP BY doc_id
""",
        "winnowing_fingerprints": f"""
WITH {_winnow_fp_cte(raw_ws)}
SELECT doc_id, fp, pos FROM fps
""",
        "winnowing_overlap": f"""
WITH {_winnow_fp_cte(raw_ws)},
d AS (SELECT DISTINCT doc_id, fp FROM fps),
cold AS (SELECT fp FROM d GROUP BY fp
         HAVING COUNT(*) <= {WINNOW_MAX_DF}),
df AS (SELECT d.* FROM d JOIN cold USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM df a JOIN df b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
""",
        "repetition_stats": f"""
WITH w AS (SELECT doc_id, {raw_ws} AS ws FROM documents),
base AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
bg AS (SELECT doc_id, CAST(len(ws) - 1 AS BIGINT) AS n_bigrams,
              UNNEST({TH.dd_shingles('ws', 2)}) AS bg
       FROM base),
top AS (SELECT doc_id, n_bigrams, MAX(c) AS top_bigram_n FROM (
          SELECT doc_id, n_bigrams, bg, COUNT(*) AS c
          FROM bg GROUP BY 1, 2, 3) GROUP BY 1, 2),
st AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
              CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words
       FROM base)
SELECT st.doc_id, n_words, n_distinct_words, n_bigrams,
       CAST(top_bigram_n AS BIGINT) AS top_bigram_n,
       (CAST(top_bigram_n AS DOUBLE) / n_bigrams <= {TOP_BIGRAM_MAX_FRAC}
        AND (1 - CAST(n_distinct_words AS DOUBLE) / n_words)
            <= {DUP_WORD_MAX_FRAC}) AS keep_repetition
FROM st JOIN top ON st.doc_id = top.doc_id
""",
        "tfidf_top_terms": f"""
WITH tok AS (SELECT doc_id, UNNEST({raw_ws}) AS w FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
       WHERE w <> '' GROUP BY 1, 2),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, w AS term, tf, df, rnk FROM (
  SELECT doc_id, w, tf, df,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tf DESC, df ASC, w ASC) AS BIGINT) AS rnk
  FROM tf JOIN df USING (w))
WHERE rnk <= {TFIDF_TOP_K}
""",
        "unigram_logppl": f"""
WITH tok AS (SELECT doc_id, UNNEST({raw_ws}) AS w FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
       WHERE w <> '' GROUP BY 1, 2),
cw AS (SELECT w, SUM(tf) AS c FROM tf GROUP BY 1),
tot AS (SELECT SUM(c) AS n_corpus FROM cw),
sc AS (SELECT doc_id, SUM(tf) AS n_tokens,
              SUM(tf * ({_qlog2('n_corpus', spark=False)}
                        - {_qlog2('c', spark=False)})) AS q_bits
       FROM tf JOIN cw USING (w) CROSS JOIN tot
       GROUP BY doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(q_bits AS BIGINT) AS q_bits,
       CAST(q_bits AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * {LOGPPL_Q}.0)
         AS bits_per_token,
       (CAST(q_bits AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * {LOGPPL_Q}.0)
        <= {LOGPPL_MAX_BITS}) AS keep_ppl
FROM sc
""",
        "vocab_top_bigrams": f"""
WITH w AS (SELECT {raw_ws} AS ws FROM documents),
bg AS (SELECT UNNEST({TH.dd_shingles('ws', 2)}) AS bigram
       FROM w WHERE len(ws) >= 2)
SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {VOCAB_TOP_N}
""",
    }


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA census: the confusion matrix of the marker-word
    language ID against the corpus labels — the artifact that says
    whether the cheap heuristic is good enough to drive the language
    filter (per-pair counts expose exactly WHICH languages it confuses,
    not just an accuracy scalar). One groupBy over the per-doc
    prediction frame; the matrix is |langs|² rows at any corpus
    size."""
    per_doc = q_lang_id(spark, sf_dir)
    return (
        per_doc.groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "correct", F.col("labeled_lang") == F.col("pred_lang")
        )
    )


PMI_MIN_COUNT = 5  # collocation support floor (noise gate)
PMI_TOP_K = 50


def q_bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information — the
    association-strength ranking behind phrase detection / multi-word
    tokenizer entries (Mikolov et al. 2013 use exactly this corpus
    statistic to decide which bigrams become single tokens). Differs
    from `vocab_top_bigrams` (raw frequency): PMI divides out the
    unigram marginals, so "of the" sinks and genuinely-associated pairs
    surface. PMI = log2(p(x,y) / (p(x)·p(y))) with p from corpus
    counts; every log is the transcendental-free fixed-point `_qlog2`,
    so the score q_pmi = qlog2(c_xy) + 2·qlog2(N_uni) − qlog2(N_bi) −
    qlog2(c_x) − qlog2(c_y) is exact integer math — identical ranking
    in both engines (float-parity policy).

    Scale shape: one tokenize pass feeding two hash-aggs (bigram and
    unigram counts, both map-side combinable); the marginals join is
    vocab-sized and broadcasts; orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort). The
    support floor keeps the ranked set sparse at any corpus size."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    w = TH.words(F.col("text"))
    toks = F.filter(w, lambda x: x != "")
    base = docs.select(toks.alias("ws"))
    uni = base.select(F.explode("ws").alias("t"))
    cx = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    nu = cx.agg(F.sum("c").alias("n_uni"))
    pairs = base.filter(F.size("ws") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda j: F.struct(
                    F.element_at(F.col("ws"), j).alias("x"),
                    F.element_at(F.col("ws"), j + 1).alias("y"),
                ),
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bc = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    nb = bc.agg(F.sum("c_xy").alias("n_bi"))
    # no broadcast hint on the unigram-count joins: unlike the bounded
    # broadcasts elsewhere (64-row direction, 256-row histograms),
    # vocabulary cardinality grows with the corpus — forcing a
    # broadcast would be a driver/executor OOM hazard at 100 TB. AQE
    # decides: small vocab → runtime broadcast; large vocab → shuffled
    # hash/sort-merge join on the (already support-filtered) bigram
    # side, which is the scale-safe shape.
    scored = (
        bc.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(
            cx.select(F.col("t").alias("x"), F.col("c").alias("c_x")),
            "x",
        )
        .join(
            cx.select(F.col("t").alias("y"), F.col("c").alias("c_y")),
            "y",
        )
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            (
                F.expr(_qlog2("c_xy", spark=True))
                + 2 * F.expr(_qlog2("n_uni", spark=True))
                - F.expr(_qlog2("n_bi", spark=True))
                - F.expr(_qlog2("c_x", spark=True))
                - F.expr(_qlog2("c_y", spark=True))
            ).alias("q_pmi"),
        )
    )
    return scored.orderBy(
        F.col("q_pmi").desc(), F.col("x"), F.col("y")
    ).limit(PMI_TOP_K)


def _oracle_bigram_pmi() -> str:
    return f"""
WITH toks AS (
  SELECT list_filter({TH.dd_words('text')}, t -> t <> '') AS ws
  FROM documents),
uni AS (SELECT UNNEST(ws) AS t FROM toks),
cx AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY t),
nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM cx),
bi AS (SELECT ws[j] AS x, ws[j + 1] AS y
       FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(j)
       WHERE len(ws) >= 2),
bc AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bi GROUP BY 1, 2),
nb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bc),
scored AS (
  SELECT x, y, c_xy, cx1.c AS c_x, cx2.c AS c_y,
         {_qlog2('c_xy', spark=False)}
         + 2 * {_qlog2('n_uni', spark=False)}
         - {_qlog2('n_bi', spark=False)}
         - {_qlog2('cx1.c', spark=False)}
         - {_qlog2('cx2.c', spark=False)} AS q_pmi
  FROM bc
  JOIN cx cx1 ON cx1.t = bc.x
  JOIN cx cx2 ON cx2.t = bc.y
  CROSS JOIN nu CROSS JOIN nb
  WHERE c_xy >= {PMI_MIN_COUNT})
SELECT x, y, c_xy, c_x, c_y, CAST(q_pmi AS BIGINT) AS q_pmi
FROM scored
ORDER BY q_pmi DESC, x, y
LIMIT {PMI_TOP_K}
"""


# --- character-class entropy filter --------------------------------------

# Entropy band for the keep flag, in 2^20 fixed-point bits. 4 classes
# => H in [0, 2] bits; near-zero entropy means the doc is almost a
# single character class (digit dumps, dot leaders, base64-ish runs) —
# the Gopher-style "symbol soup" screen at the character level.
CHAR_ENTROPY_MIN_Q = int(0.60 * (1 << 20))


def q_char_class_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class entropy quality filter: distribution of the four
    normalized-text character classes (a-z / 0-9 / space / other) per
    document, plus its Shannon entropy and a keep flag. Complements
    `text_quality_score` (word-level ratios) and `repetition_stats`
    (n-gram duplication): this catches digit dumps, separator runs, and
    encoded blobs that word-level screens miss.

    Cross-engine determinism: class counts are length-difference
    integers on the shared normalization; H_q = qlog2(n) − (Σ c·qlog2 c)
    div n entirely in the transcendental-free 2^20 fixed point
    (`_qlog2`), zero-count classes contributing exactly 0 — identical
    integers on both engines (float-parity policy).

    Scale shape: a pure narrow map — one scan, no shuffle at any corpus
    size; the same embarrassingly-parallel projection as the module's
    other per-doc filters."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    nt = TH.norm_text(F.col("text"))
    base = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", nt.alias("nt"))
        .select(
            "doc_id",
            F.length("nt").alias("n"),
            (
                F.length("nt")
                - F.length(F.regexp_replace("nt", "[a-z]", ""))
            ).cast("long").alias("c_alpha"),
            (
                F.length("nt")
                - F.length(F.regexp_replace("nt", "[0-9]", ""))
            ).cast("long").alias("c_digit"),
            (
                F.length("nt")
                - F.length(F.regexp_replace("nt", " ", ""))
            ).cast("long").alias("c_space"),
        )
        .filter(F.col("n") > 0)
        .withColumn(
            "c_other",
            (
                F.col("n") - F.col("c_alpha") - F.col("c_digit")
                - F.col("c_space")
            ).cast("long"),
        )
    )
    term = lambda c: F.expr(  # noqa: E731 — 0·log 0 ≡ 0 branch
        f"CASE WHEN {c} > 0 THEN {c} * {_qlog2(c, spark=True)} "
        "ELSE CAST(0 AS BIGINT) END"
    )
    hq = (
        F.expr(_qlog2("n", spark=True))
        - F.expr(
            "(h_alpha + h_digit + h_space + h_other) div CAST(n AS BIGINT)"
        )
    )
    return (
        base.withColumn("h_alpha", term("c_alpha"))
        .withColumn("h_digit", term("c_digit"))
        .withColumn("h_space", term("c_space"))
        .withColumn("h_other", term("c_other"))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars_norm"),
            "c_alpha",
            "c_digit",
            "c_space",
            "c_other",
            hq.alias("entropy_q"),
            (hq >= CHAR_ENTROPY_MIN_Q).alias("keep_char_entropy"),
        )
    )


def _oracle_char_entropy() -> str:
    nt = TH.dd_norm_text("text")

    def term(c: str) -> str:
        return (
            f"CASE WHEN {c} > 0 THEN {c} * {_qlog2(c, spark=False)} "
            "ELSE CAST(0 AS BIGINT) END"
        )

    return f"""
WITH s AS (
  SELECT doc_id, {nt} AS nt FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, length(nt) AS n,
         CAST(length(nt) - length(regexp_replace(nt, '[a-z]', '', 'g'))
              AS BIGINT) AS c_alpha,
         CAST(length(nt) - length(regexp_replace(nt, '[0-9]', '', 'g'))
              AS BIGINT) AS c_digit,
         CAST(length(nt) - length(replace(nt, ' ', ''))
              AS BIGINT) AS c_space
  FROM s WHERE length(nt) > 0),
c2 AS (
  SELECT *, CAST(n - c_alpha - c_digit - c_space AS BIGINT) AS c_other
  FROM c),
h AS (
  SELECT *, {_qlog2('n', spark=False)}
            - ({term('c_alpha')} + {term('c_digit')} + {term('c_space')}
               + {term('c_other')}) // CAST(n AS BIGINT) AS entropy_q
  FROM c2)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars_norm,
       c_alpha, c_digit, c_space, c_other, entropy_q,
       entropy_q >= {CHAR_ENTROPY_MIN_Q} AS keep_char_entropy
FROM h
"""


# --- Zipf slope per source ------------------------------------------------

ZIPF_TOP_K = 32
ZIPF_MIN_TERMS = 8


def q_zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent per source — the dataset-card statistic that a
    natural-language subcorpus obeys c(r) ∝ r^s with s ≈ −1 over its
    head vocabulary (machine-generated or templated sources flatten the
    curve, |s| ≪ 1). Fits s by least squares on (qlog2 rank, qlog2
    count) over each source's top-{ZIPF_TOP_K} unigrams:
    slope_e6 = floor(1e6·(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)).

    Cross-engine determinism: x and y are transcendental-free 2^20
    fixed-point logs (`_qlog2`), every Σ is exact int64 (bounds: x ≤
    5·2²⁰, y ≤ 63·2²⁰, n ≤ 32 ⇒ n·Σxy < 2³⁶·2⁴⁰ ≪ 2⁶³), and the single
    final division is one IEEE op on identical integers.

    Scale shape: one tokenize pass → (source, word) hash-agg (map-side
    combinable, the module's standard vocab-sized exchange) → per-source
    top-K window over vocab-sized rows (|sources| partitions of vocab
    size — never corpus-sized) → one ≤K·|sources|-row agg. Output is
    |sources| rows at any corpus size."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(TH.words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    win = W.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    top = (
        cnt.withColumn("r", F.row_number().over(win).cast("long"))
        .filter(F.col("r") <= ZIPF_TOP_K)
        .select(
            "source",
            "c",
            F.expr(_qlog2("r", spark=True)).alias("x"),
            F.expr(_qlog2("c", spark=True)).alias("y"),
        )
    )
    s = top.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.max("c").alias("top_count"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.filter(F.col("n_terms") >= ZIPF_MIN_TERMS)
        .select(
            "source",
            "n_terms",
            "top_count",
            F.floor(
                F.lit(1000000.0) * num.cast("double")
                / den.cast("double")
            ).cast("long").alias("slope_e6"),
        )
    )


def _oracle_zipf_slope() -> str:
    return f"""
WITH tok AS (
  SELECT source, UNNEST(list_filter({TH.dd_words('text')}, t -> t <> ''))
         AS w
  FROM documents),
cnt AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, w),
rk AS (
  SELECT source, c,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY c DESC, w ASC) AS BIGINT) AS r
  FROM cnt),
xy AS (
  SELECT source, c, {_qlog2('r', spark=False)} AS x,
         {_qlog2('c', spark=False)} AS y
  FROM rk WHERE r <= {ZIPF_TOP_K}),
s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
         MAX(c) AS top_count,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY source)
SELECT source, n_terms, top_count,
       CAST(FLOOR(1000000.0
            * CAST(n_terms * sxy - sx * sy AS DOUBLE)
            / CAST(n_terms * sxx - sx * sx AS DOUBLE)) AS BIGINT)
         AS slope_e6
FROM s WHERE n_terms >= {ZIPF_MIN_TERMS}
"""


NOVELTY_K = 3  # word k-grams for the novelty census


def q_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-ordered n-gram NOVELTY per document — the data-valuation
    census dedup pipelines run after near-dup removal: for each doc,
    the fraction of its distinct word {NOVELTY_K}-grams whose global
    FIRST occurrence (min doc_id = arrival order) is this document.
    Low novelty ⟹ the doc is mostly re-treading earlier corpus content
    even if no single earlier doc is a near-duplicate (the cross-doc
    redundancy MinHash pairs don't see). Emits (doc_id, n_grams,
    n_novel, novelty_e6), fixed-point rate.

    Scale shape: explode → map-side-combinable groupBy on the shingle
    key (the same shuffle space the MinHash family uses) → join back →
    per-doc agg. First-occurrence fan-out is one row per (shingle,
    doc), so hot shingles never blow up the join; everything is linear
    in total shingle count."""
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ws = TH.words(F.col("text"))
    sh = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= NOVELTY_K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(TH.shingles(F.col("ws"), NOVELTY_K))
            ).alias("sh"),
        )
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_grams").alias(
                "novelty_e6"
            ),
        )
    )


def _oracle_ngram_novelty() -> str:
    wsql = TH.dd_words("text")
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, UNNEST({TH.dd_shingles(wsql, NOVELTY_K)}) AS sh
            FROM documents
            WHERE text IS NOT NULL AND len({wsql}) >= {NOVELTY_K}),
first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh),
per AS (SELECT doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel
        FROM sh JOIN first USING (sh) GROUP BY doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST((n_novel * 1000000) // n_grams AS BIGINT) AS novelty_e6
FROM per
"""


# Coverage targets for the vocab planner (ppm of token occurrences a
# rank-truncated vocabulary must cover). Overflow bound for the exact
# ceil: total_tokens * ppm < 2^63, i.e. < ~9.7e12 tokens per source.
COV95_PPM = 950_000
COV99_PPM = 990_000


def q_vocab_coverage_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-sizing PLANNER: per source, the smallest
    frequency-ranked vocabulary covering >=95% / >=99% of token
    occurrences — the number a vocab-size / OOV-budget decision is made
    from (`oov_rate_by_source` then audits the chosen vocab).

    The scale trick is the COUNT-TIER histogram: ranking the vocabulary
    directly is a vocab-sized per-source window sort (billions of rows
    of hapax legomena at 100 TB). But every word in a tier (same
    occurrence count c) contributes the same c tokens, so the minimal
    rank is exact from the tier frame alone: walk tiers in c-desc
    order, find the tier where the cumulative token count crosses the
    target, and take full-tier words before it plus ceil((target -
    tokens_before)/c) words inside it. Distinct counts c1 > c2 > ...
    sum to <= total, so there are O(sqrt(total_tokens)) tiers — the
    window after the two hash-aggs sorts a sqrt-sized frame, never the
    vocabulary.

    Float-parity: pure int64 arithmetic end-to-end (counts, products,
    one exact-integer ceil per target)."""
    from pyspark.sql.window import Window as W

    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    wc = (
        docs.select(
            "source", F.explode(TH.words(F.col("text"))).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    tiers = wc.groupBy("source", "n_w").agg(
        F.count(F.lit(1)).alias("words")
    ).withColumn("tokens", F.col("n_w") * F.col("words"))
    w_desc = (
        W.partitionBy("source")
        .orderBy(F.col("n_w").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    b = tiers.select(
        "source",
        "n_w",
        "words",
        "tokens",
        F.sum("tokens").over(w_desc).alias("cum_t"),
        F.sum("words").over(w_desc).alias("cum_w"),
        F.sum("tokens").over(W.partitionBy("source")).alias("total"),
        F.sum("words").over(W.partitionBy("source")).alias("n_vocab"),
    ).select(
        "source",
        "n_w",
        "cum_t",
        "total",
        "n_vocab",
        (F.col("cum_w") - F.col("words")).alias("w_before"),
        (F.col("cum_t") - F.col("tokens")).alias("t_before"),
    )

    def _pick(ppm: int) -> Column:
        tgt = F.expr(f"(total * {ppm} + 999999) div 1000000")
        return F.max(
            F.when(
                F.col("cum_t") >= tgt,
                F.struct("n_w", "w_before", "t_before"),
            )
        )

    def _vocab(p: str, ppm: int) -> Column:
        return F.col(f"{p}.w_before") + F.expr(
            f"((total_tokens * {ppm} + 999999) div 1000000"
            f" - {p}.t_before + {p}.n_w - 1) div {p}.n_w"
        )

    return (
        b.groupBy("source")
        .agg(
            F.max("total").alias("total_tokens"),
            F.max("n_vocab").alias("distinct_words"),
            _pick(COV95_PPM).alias("p95"),
            _pick(COV99_PPM).alias("p99"),
        )
        .select(
            "source",
            "total_tokens",
            "distinct_words",
            _vocab("p95", COV95_PPM).alias("vocab_p95"),
            _vocab("p99", COV99_PPM).alias("vocab_p99"),
        )
    )


def _oracle_vocab_coverage() -> str:
    wsql = TH.dd_words("text")

    def _vb(ppm: int) -> str:
        flt = f"FILTER (WHERE cum_t >= (total * {ppm} + 999999) // 1000000)"
        return (
            f"max_by(w_before, n_w) {flt}"
            f" + ((MAX(total) * {ppm} + 999999) // 1000000"
            f"     - max_by(t_before, n_w) {flt}"
            f"     + MAX(n_w) {flt} - 1) // MAX(n_w) {flt}"
        )

    return f"""
WITH wc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_w
  FROM (SELECT source, UNNEST({wsql}) AS w
        FROM documents WHERE text IS NOT NULL)
  WHERE w <> '' GROUP BY 1, 2),
t AS (SELECT source, n_w, CAST(COUNT(*) AS BIGINT) AS words,
             CAST(n_w * COUNT(*) AS BIGINT) AS tokens
      FROM wc GROUP BY 1, 2),
c AS (SELECT source, n_w, words, tokens,
             CAST(SUM(tokens) OVER w1 AS BIGINT) AS cum_t,
             CAST(SUM(words) OVER w1 AS BIGINT) AS cum_w,
             CAST(SUM(tokens) OVER (PARTITION BY source) AS BIGINT)
               AS total,
             CAST(SUM(words) OVER (PARTITION BY source) AS BIGINT)
               AS n_vocab
      FROM t
      WINDOW w1 AS (PARTITION BY source ORDER BY n_w DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
b AS (SELECT source, n_w, cum_t, total, n_vocab,
             cum_w - words AS w_before, cum_t - tokens AS t_before
      FROM c)
SELECT source, MAX(total) AS total_tokens, MAX(n_vocab) AS distinct_words,
       {_vb(COV95_PPM)} AS vocab_p95,
       {_vb(COV99_PPM)} AS vocab_p99
FROM b GROUP BY source
"""


QUERIES = {
    "ngram_novelty_rate": q_ngram_novelty_rate,
    "token_stats": q_token_stats,
    "text_quality_score": q_text_quality,
    "lang_id_ngram": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "winnowing_fingerprints": q_winnowing_fingerprints,
    "winnowing_overlap": q_winnowing_overlap,
    "winnowing_contamination": q_winnowing_contamination,
    "repetition_stats": q_repetition_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "vocab_top_bigrams": q_vocab_top_bigrams,
    "unigram_logppl": q_unigram_logppl,
    "bpe_merges": q_bpe_merges,
    "bpe_apply_fertility": q_bpe_apply_fertility,
    "lang_mix_entropy": q_lang_mix_entropy,
    "vocab_fuzzy_pairs": q_vocab_fuzzy_pairs,
    "skipgram_pairs": q_skipgram_pairs,
    "padding_waste_buckets": q_padding_waste_buckets,
    "oov_rate_by_source": q_oov_rate_by_source,
    "bigram_pmi_top": q_bigram_pmi_top,
    "lang_id_confusion": q_lang_id_confusion,
    "char_class_entropy": q_char_class_entropy,
    "zipf_slope_by_source": q_zipf_slope_by_source,
    "vocab_coverage_plan": q_vocab_coverage_plan,
}

ORACLES = _oracles()
ORACLES["ngram_novelty_rate"] = _oracle_ngram_novelty()
ORACLES["bpe_merges"] = _oracle_bpe_merges()
ORACLES["bpe_apply_fertility"] = _oracle_bpe_fertility()
ORACLES["lang_mix_entropy"] = ORACLE_LANG_MIX_ENTROPY
ORACLES["vocab_fuzzy_pairs"] = _oracle_vocab_fuzzy()
ORACLES["skipgram_pairs"] = _oracle_skipgrams()
ORACLES["padding_waste_buckets"] = _oracle_padding_waste()
ORACLES["oov_rate_by_source"] = _oracle_oov_rate()
ORACLES["bigram_pmi_top"] = _oracle_bigram_pmi()
ORACLES["char_class_entropy"] = _oracle_char_entropy()
ORACLES["zipf_slope_by_source"] = _oracle_zipf_slope()
ORACLES["vocab_coverage_plan"] = _oracle_vocab_coverage()
ORACLES["winnowing_contamination"] = _oracle_winnowing_contamination()
ORACLES["lang_id_confusion"] = f"""
WITH per AS ({ORACLES["lang_id_ngram"]})
SELECT labeled_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       labeled_lang = pred_lang AS correct
FROM per GROUP BY 1, 2
"""
