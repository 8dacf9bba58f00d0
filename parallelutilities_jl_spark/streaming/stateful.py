"""Custom stateful streaming operators via `applyInPandasWithState` —
the extension point for semantics Structured Streaming's built-ins can't
express (the Spark analog of the reference's bring-your-own-`op`
reduction surface, reference src/mapreduce.jl:104-124, generalized to
unbounded streams).

State lives in the state store (checkpointed, per-key, executor-local);
the user function sees Arrow batches per key per trigger. At scale the
cardinality of the key column bounds state size — pair with watermark
timeouts (`GroupStateTimeout.EventTimeTimeout`) to expire idle keys.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.fixtures import load_table


def running_count_per_key(grouped_stream, key_col: str = "user_id") -> DataFrame:
    """Per-key running event count: the minimal custom stateful operator
    (state = one counter per key, output = updated totals each trigger).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        count = state.getOption[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({key_col: [key[0]], "n": [count]})

    return grouped_stream.applyInPandasWithState(
        fn,
        f"{key_col} long, n long",
        "n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def running_topk_per_key(
    grouped_stream,
    k: int = 3,
    key_col: str = "user_id",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key running top-k: state is the bounded k-item leaderboard
    (two parallel arrays in the state store), merged with each trigger's
    batch and re-emitted — the template for any bounded-sketch state
    (heaps, HLL registers, CMS rows). Ties break on the lower event id,
    so the leaderboard is deterministic regardless of batch split.
    State per key is O(k) forever — safe at any stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            vals, ids = state.get
            items = list(zip(list(vals), list(ids)))
        else:
            items = []
        for pdf in pdfs:
            items.extend(
                zip(pdf[val_col].astype(float), pdf[id_col].astype(int))
            )
        # top-k by (value desc, id asc) — deterministic under any
        # batch boundary placement
        items.sort(key=lambda t: (-t[0], t[1]))
        items = items[:k]
        state.update(([v for v, _ in items], [i for _, i in items]))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(items),
                "rnk": list(range(1, len(items) + 1)),
                id_col: [i for _, i in items],
                val_col: [v for v, _ in items],
            }
        )

    return grouped_stream.applyInPandasWithState(
        fn,
        f"{key_col} long, rnk long, {id_col} long, {val_col} double",
        "vals array<double>, ids array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def running_sum_per_key(
    grouped_stream, key_col: str = "user_id", val_col: str = "value"
) -> DataFrame:
    """Per-key running sum with count — a two-field state tuple; the
    template for richer accumulators (sketches, top-k heaps, model
    partials)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            total, n = state.get
        else:
            total, n = 0.0, 0
        for pdf in pdfs:
            total += float(pdf[val_col].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame(
            {key_col: [key[0]], "total": [total], "n": [n]}
        )

    return grouped_stream.applyInPandasWithState(
        fn,
        f"{key_col} long, total double, n long",
        "total double, n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


EWMA_ALPHA_DEN = 8  # α = 1/8: a' = (x + (den-1)·a) div den, exact int64


def running_ewma_per_key(
    grouped_stream,
    key_col: str = "user_id",
    val_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key integer fixed-point EWMA — the recursive per-element fold
    a' = (x + {EWMA_ALPHA_DEN-1}·a) div {EWMA_ALPHA_DEN} that batch SQL
    cannot express without recursion (no window frame computes a value
    that depends on its own previous OUTPUT), and the metric every
    monitoring pipeline smooths with. Values quantize to int64 e6 units
    (floor(v·10⁶) — bit-deterministic), so the fold is exact integer
    arithmetic: the result is a pure function of the per-key event
    sequence, independent of where trigger boundaries fall.

    Division semantics: the fold uses FLOOR division (Python ``//``,
    rounding toward −inf), matching DuckDB's ``//``; SQL ``div``
    truncates toward zero instead, which diverges for negative
    accumulators. The operator therefore requires a NON-NEGATIVE value
    domain (where floor == truncate — every engine agrees); the batch
    parity query ``stateful_ewma`` (below) and its oracle both rely on
    this and document it.

    State per key is O(1) forever: the current accumulator + count.
    Rows are folded in (ts, event_id) order WITHIN each trigger;
    cross-trigger order is arrival order, so the operator assumes an
    in-order-per-key stream (pair with watermark-driven reordering
    upstream for out-of-order sources) — the pinned invariant is
    batch-boundary independence, tested by feeding the same in-order
    stream in 1 vs N micro-batches."""
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            acc, n = state.get
            acc = int(acc)
            n = int(n)
        else:
            acc, n = None, 0
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col])
            for v in pdf[val_col]:
                x = math.floor(float(v) * 1_000_000)
                acc = (
                    x
                    if acc is None
                    else (x + (EWMA_ALPHA_DEN - 1) * acc)
                    // EWMA_ALPHA_DEN
                )
                n += 1
        if acc is not None:
            state.update((acc, n))
            yield pd.DataFrame(
                {key_col: [key[0]], "n": [n], "ewma_e6": [acc]}
            )

    return grouped_stream.applyInPandasWithState(
        fn,
        f"{key_col} long, n long, ewma_e6 long",
        "acc long, n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


SESSION_GAP_US = 1800 * 1_000_000  # 30-min inactivity gap, exact micros


def running_sessions_per_key(
    grouped_stream,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key streaming sessionizer with O(1) state — the stateful
    twin of the batch `sessionize_events` (and of Structured
    Streaming's built-in session_window, but with custom per-session
    logic the built-in can't carry): state is (last event's epoch-µs,
    session count, current-session event count); an incoming event
    whose gap from the previous exceeds {SESSION_GAP_US} µs opens a new
    session. Gap arithmetic is exact integer MICROS on every engine
    (pandas .value//1000, Spark unix_micros, DuckDB epoch_us), so the
    session boundaries are a pure function of the per-key event
    sequence — independent of trigger placement, pinned like the other
    four operators by the 1-vs-N micro-batch test.

    Emits per trigger: (key, n_sessions so far, size of the currently
    open session). State never grows with history — safe at any stream
    length; idle keys would pair with an EventTimeTimeout in
    production."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            last_us, n_sess, cur_n = state.get
            last_us, n_sess, cur_n = int(last_us), int(n_sess), int(cur_n)
        else:
            last_us, n_sess, cur_n = None, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col])
            for t in pdf[ts_col]:
                # skip NULL timestamps: pd.Timestamp(NaT).value is the
                # int64-min sentinel, which would corrupt last_us and
                # every subsequent gap — mirrors the batch twin's
                # `ts IS NOT NULL` filter (batch ≡ stream parity on the
                # NULL-divergence class; pinned by the null-events
                # corpus test)
                if pd.isna(t):
                    continue
                t_us = int(pd.Timestamp(t).value // 1000)
                if last_us is None or t_us - last_us > SESSION_GAP_US:
                    n_sess += 1
                    cur_n = 1
                else:
                    cur_n += 1
                last_us = t_us
        if last_us is not None:
            state.update((last_us, n_sess, cur_n))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_sessions": [n_sess],
                    "last_n": [cur_n],
                }
            )

    return grouped_stream.applyInPandasWithState(
        fn,
        f"{key_col} long, n_sessions long, last_n long",
        "last_us long, n_sess long, cur_n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Oracle-checked batch-parity queries for the stateful tier
#
# Each applyInPandasWithState operator above has a deterministic batch
# equivalent (reference analog: the ordered per-rank fold semantics,
# src/mapreduce.jl:138-146, extended to unbounded per-key streams).
# Registering those batch sides as qnames gives the driver CORRECTNESS
# visibility into the stateful tier; the streaming⇄batch equivalence is
# pinned by tests/test_streaming_incremental.py (same in-order stream fed
# in 1 vs N micro-batches ≡ these batch plans).
#
# NULL `value` rows are EXCLUDED in every query and its oracle (the
# streaming operators require non-null values — math.floor(None) raises
# — and the engines' null behaviors otherwise diverge: Spark's
# CASE-seeded aggregate fold RESETS its accumulator on the element
# after a NULL while DuckDB's list_reduce stays NULL, and DESC NULL
# placement differs in window ordering; excluding the rows removes the
# whole class — pinned by tests/test_stateful_null_events.py).
# ---------------------------------------------------------------------------


def _events_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )


def q_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity of `running_count_per_key` in per-event form: the
    cumulative count each event would see if it arrived in its own
    trigger. Per-key ordered window — partitioned by key, never a global
    sort, so it scales with the key cardinality × per-key history."""
    ev = _events_nonnull(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
    )


def q_stateful_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity of `running_sum_per_key`, e2-fixed-point so the
    cumulative sum is exact integer arithmetic (no float accumulation
    order sensitivity between engines)."""
    ev = _events_nonnull(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v_e2 = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    return ev.select(
        "user_id",
        "event_id",
        F.sum(v_e2).over(w).alias("total_e2"),
        F.count(F.lit(1)).over(w).alias("n"),
    )


STATEFUL_TOPK_K = 3


def q_stateful_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity of `running_topk_per_key`: the final per-key
    leaderboard (value desc, event_id asc tiebreak — the same
    deterministic order the stateful operator maintains in its O(k)
    state). row_number cast to BIGINT for engine type parity."""
    ev = _events_nonnull(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= STATEFUL_TOPK_K)
        .select("user_id", "rnk", "event_id", "value")
    )


def q_stateful_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity of `running_ewma_per_key`: the final per-key
    accumulator of the integer fixed-point fold
    a' = (x + (den−1)·a) div den over events in (ts, event_id) order.

    Expressed JVM-side as collect_list → array_sort → `aggregate` HOF
    (no Python in the plan). The per-key array is bounded by per-key
    history; at stream scale the applyInPandasWithState operator above
    is the O(1)-state path and this query is its verification plan.
    Division: Spark `DIV` truncates, DuckDB `//` floors — equal on the
    non-negative domain this operator requires (see module docstring)."""
    den = EWMA_ALPHA_DEN
    ev = _events_nonnull(spark, sf_dir)
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.expr("CAST(FLOOR(value * 1000000.0) AS BIGINT)").alias("x_e6"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, "
                "x_e6))), s -> s.x_e6)"
            ).alias("xs")
        )
        .select(
            "user_id",
            F.size("xs").cast("long").alias("n"),
            F.expr(
                "aggregate(xs, CAST(NULL AS BIGINT), (acc, x) -> "
                "CASE WHEN acc IS NULL THEN x "
                f"ELSE (x + {den - 1}L * acc) DIV {den} END)"
            ).alias("ewma_e6"),
        )
    )


def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity of `running_sessions_per_key`: final per-key session
    count and open-session size under the same exact-micros gap rule.
    lag-gap flags → cumulative session ids (per-key windows, never a
    global sort) → one agg; NULL-ts rows are excluded (no position in
    time ⇒ no session, mirrored in the oracle)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fixture ts arrives as TIMESTAMP_NTZ; with the session tz pinned
    # UTC the cast is wall-clock identity, so these micros equal
    # DuckDB's naive epoch_us(ts)
    t_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    gap = t_us - F.lag(t_us).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn(
        "sid", F.sum(is_new).over(wcum).cast("long")
    ).withColumn(
        "mx", F.max("sid").over(Window.partitionBy("user_id"))
    )
    return sess.groupBy("user_id").agg(
        F.max("sid").alias("n_sessions"),
        F.sum((F.col("sid") == F.col("mx")).cast("long")).alias("last_n"),
    )


def sig_dedup_stream(grouped_stream):
    """Streaming ingest near-dup screen: the stateful half of
    `dedup.q_stream_sig_dedup` (which is its registered, oracle-checked
    batch parity — see its docstring for the semantics).

    Input: a stream of (band, key, doc_id, h0..h{N_HASHES-1}) band rows
    (build with `dedup.sig_frame` + `dedup.lsh_bands`, both narrow /
    stream-safe), grouped by (band, key). State per bucket is the
    first STREAM_STATE_CAP arrivals' signatures — two flat arrays,
    O(cap·N_HASHES) longs FOREVER, the property that makes this safe
    on an unbounded ingest stream. Each arriving doc (processed in
    doc_id order within the trigger, so batch-boundary placement never
    changes results) is compared against the stored earlier docs;
    >= SIG_MATCH_MIN matching components emits
    (doc_id, dup_of = min matching stored id, matches = max agreement).
    Cross-bucket reduction (global min dup_of / max matches per doc)
    is the consumer's one-line groupBy — same as the batch query's."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from parallelutilities_jl_spark.operators.dedup import (
        N_HASHES,
        SIG_MATCH_MIN,
        STREAM_STATE_CAP,
    )

    n = N_HASHES

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            ids, flat = state.get
            ids, flat = list(ids), list(flat)
        else:
            ids, flat = [], []
        batches = [pdf for pdf in pdfs if len(pdf)]
        out_doc, out_of, out_m = [], [], []
        if batches:
            rows = pd.concat(batches).sort_values("doc_id")
            hcols = [rows[f"h{i}"].astype("int64").tolist() for i in range(n)]
            for r, doc_id in enumerate(rows["doc_id"].astype("int64")):
                sig = [hcols[i][r] for i in range(n)]
                best_of = None
                best_m = 0
                for j, eid in enumerate(ids):
                    if eid >= doc_id:
                        continue
                    m = sum(
                        1 for i in range(n) if flat[j * n + i] == sig[i]
                    )
                    if m >= SIG_MATCH_MIN:
                        best_of = eid if best_of is None else min(best_of, eid)
                        best_m = max(best_m, m)
                if best_of is not None:
                    out_doc.append(int(doc_id))
                    out_of.append(int(best_of))
                    out_m.append(int(best_m))
                if len(ids) < STREAM_STATE_CAP:
                    ids.append(int(doc_id))
                    flat.extend(sig)
        state.update((ids, flat))
        yield pd.DataFrame(
            {"doc_id": out_doc, "dup_of": out_of, "matches": out_m}
        )

    return grouped_stream.applyInPandasWithState(
        fn,
        "doc_id long, dup_of long, matches long",
        "ids array<long>, flat array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )


QUERIES = {
    "stateful_running_count": q_stateful_running_count,
    "stateful_running_sum": q_stateful_running_sum,
    "stateful_topk": q_stateful_topk,
    "stateful_ewma": q_stateful_ewma,
    "stateful_sessions": q_stateful_sessions,
}

ORACLES = {
    "stateful_running_count": """
SELECT user_id, event_id,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
FROM events WHERE value IS NOT NULL
""",
    "stateful_running_sum": """
SELECT user_id, event_id,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS total_e2,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
FROM events WHERE value IS NOT NULL
""",
    "stateful_topk": f"""
SELECT user_id, rnk, event_id, value
FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rnk
  FROM events WHERE value IS NOT NULL
)
WHERE rnk <= {STATEFUL_TOPK_K}
""",
    # floor-division fold on a non-negative domain: DuckDB // floors,
    # matching the operator's Python //; see running_ewma_per_key.
    "stateful_sessions": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us
  FROM events WHERE ts IS NOT NULL),
g AS (
  SELECT user_id, t_us, event_id,
         CASE WHEN LAG(t_us) OVER w IS NULL
                OR t_us - LAG(t_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
s AS (
  SELECT user_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY t_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sid
  FROM g)
SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN sid = mx THEN 1 ELSE 0 END) AS BIGINT) AS last_n
FROM (SELECT user_id, sid,
             MAX(sid) OVER (PARTITION BY user_id) AS mx FROM s)
GROUP BY user_id
""",
    "stateful_ewma": f"""
WITH s AS (
  SELECT user_id,
         list(CAST(FLOOR(value * 1000000.0) AS BIGINT)
              ORDER BY ts, event_id) AS xs
  FROM events WHERE value IS NOT NULL GROUP BY user_id
)
SELECT user_id, len(xs) AS n,
       list_reduce(xs, (acc, x) -> (x + {EWMA_ALPHA_DEN - 1}*acc)
                                    // {EWMA_ALPHA_DEN}) AS ewma_e6
FROM s
""",
}
