"""Full-text retrieval operators over `documents` — BM25 ranking and
positional phrase search (the query side of an LLM data pipeline: RAG
retrieval, eval-set mining, corpus exploration).

Cross-engine determinism follows the repo's float-parity policy: the
BM25 idf is the transcendental-free fixed-point `_qlog2` (operators/
text.py) so it is integer-identical in Spark and DuckDB; per-term
contributions are floored to integers before the per-doc SUM, so the
aggregation is order-free integer math. Ranking keys are therefore
bit-stable across engines, combine orders, and cluster sizes.

At 100 TB:
* `bm25_topk` filters the token stream to the query's terms *before*
  the tf aggregation — the corpus-sized explode never shuffles more
  than rows-matching-query-terms; the df/avgdl sides are tiny and
  broadcast. Final top-k is orderBy+limit = TakeOrderedAndProject
  (per-partition local top-k, no global sort).
* `phrase_match` keeps only the phrase's terms' postings (filter
  pushdown on the exploded stream) and equi-joins them on
  (doc_id, adjacent position) — the classic positional-index
  intersection, a keyed shuffle of postings for two terms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.functions import texthash as TH
from parallelutilities_jl_spark.operators.text import _qlog2
from parallelutilities_jl_spark.session import materialize
from parallelutilities_jl_spark.sources.fixtures import load_table_parallel

# BM25 constants (Robertson k1/b defaults); written as exact double
# literals used verbatim in both dialects.
BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_QUERY = ("spark", "vector", "window")
BM25_TOP_K = 10

PHRASE = ("table", "part")  # adjacent-word phrase


def _bm25_contrib_sql(*, spark: bool) -> str:
    """Per-(doc, term) BM25 contribution as a BIGINT, from columns
    tf, dl, df, n_docs, sum_dl in scope.

    idf = ln((N - df + 0.5)/(df + 0.5) + 1) = ln((N+1)/(df+0.5)), i.e.
    log2(2*(N+1)) - log2(2*df+1) in log2 units — both integer args, so
    `_qlog2` applies. The tf part is one fixed dag of correctly-rounded
    IEEE double ops on identical operands (identical in both engines);
    FLOOR then quantizes to an order-free integer.
    """
    idf = (
        f"({_qlog2('2 * (n_docs + 1)', spark=spark)}"
        f" - {_qlog2('2 * df + 1', spark=spark)})"
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    tf_part = (
        f"(CAST(tf AS DOUBLE) * ({BM25_K1} + 1.0))"
        f" / (CAST(tf AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B}"
        f" + {BM25_B} * (CAST(dl AS DOUBLE) / {avgdl})))"
    )
    return (
        f"CAST(FLOOR(CAST({idf} AS DOUBLE) * {tf_part}) AS BIGINT)"
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed 3-term query.

    Plan shape: ONE tokenize pass → per-doc (dl, query-term
    occurrences) projection, materialized at build
    because the corpus stats and the postings both consume it →
    (doc, term) tf hash-agg → broadcast-join the 3-row df table and
    the 1-row corpus stats → integer contribution → per-doc SUM →
    TakeOrderedAndProject top-k. Two small keyed shuffles; the corpus
    is scanned and tokenized exactly once."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    # ONE tokenize pass feeds both consumers (round-17, guide §1.2):
    # the stats aggregate and the postings previously each re-ran the
    # corpus tokenize (narrow map — no exchange for the planner to
    # reuse). The per-doc projection keeps only the doc length and the
    # query-term occurrences (duplicates preserved — tf counts them),
    # so the checkpointed frame is N rows of a few scalars, never the
    # full token arrays. Identical rows: dl and the surviving tokens
    # are the same per document; filter(NULL) stays NULL and
    # explode(NULL) emits nothing, exactly like the old explode+isin.
    qarr = F.array(*[F.lit(t) for t in BM25_QUERY])
    base = materialize(
        docs.select("doc_id", TH.words(F.col("text")).alias("ws")).select(
            "doc_id",
            F.size("ws").cast("long").alias("dl"),
            F.filter(
                "ws", lambda w: F.array_contains(qarr, w)
            ).alias("qws"),
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    tok = base.select("doc_id", "dl", F.explode("qws").alias("w"))
    tf = tok.groupBy("doc_id", "dl", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    contrib = F.expr(_bm25_contrib_sql(spark=True))
    return (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col("doc_id"))
        .limit(BM25_TOP_K)
    )


def oracle_bm25() -> str:
    nt = TH.dd_norm_text("text")
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH base AS (
  SELECT doc_id, string_split({nt}, ' ') AS ws FROM documents
), d AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM base
), s AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d
), tok AS (
  SELECT doc_id, dl, unnest(ws) AS w FROM d
), tf AS (
  SELECT doc_id, dl, w, COUNT(*) AS tf FROM tok
  WHERE w IN ({terms}) GROUP BY 1, 2, 3
), dfq AS (
  SELECT w, COUNT(*) AS df FROM tf GROUP BY 1
), c AS (
  SELECT doc_id, {_bm25_contrib_sql(spark=False)} AS contrib
  FROM tf JOIN dfq USING (w) CROSS JOIN s
)
SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_q FROM c GROUP BY doc_id
ORDER BY score_q DESC, doc_id LIMIT {BM25_TOP_K}
"""


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: documents containing the exact
    adjacent-word phrase, with occurrence counts.

    Plan shape: posexplode to (doc, pos, word) postings, keep only the
    phrase's two terms (the filter rides the explode — no other tokens
    survive), equi-join term-1 postings against term-2 postings shifted
    by one position on (doc_id, pos), count per doc. This is how a
    distributed positional inverted index answers phrase queries: a
    keyed shuffle of two posting lists, never a scan of full text."""
    w1, w2 = PHRASE
    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(TH.words(F.col("text"))).alias("pos", "w"),
    )
    p1 = tok.filter(F.col("w") == w1).select("doc_id", "pos")
    p2 = tok.filter(F.col("w") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def oracle_phrase() -> str:
    nt = TH.dd_norm_text("text")
    w1, w2 = PHRASE
    return f"""
WITH d AS (SELECT doc_id, string_split({nt}, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(list_filter(generate_series(1, len(ws) - 1),
            j -> ws[j] = '{w1}' AND ws[j + 1] = '{w2}')) AS BIGINT)
         AS n_occurrences
FROM d
WHERE len(list_filter(generate_series(1, len(ws) - 1),
          j -> ws[j] = '{w1}' AND ws[j + 1] = '{w2}')) > 0
"""


QUERIES = {
    "bm25_topk": q_bm25_topk,
    "phrase_match_docs": q_phrase_match,
}

ORACLES = {
    "bm25_topk": oracle_bm25(),
    "phrase_match_docs": oracle_phrase(),
}
