"""NULL-robustness gate for the events surface (analog of the
messy-corpus suite for documents): every events-reading oracle query
must keep cross-engine parity on a corpus where `value` and `props`
are NULL on a stride — the class of latent divergence the stateful
tier hit (CASE-seeded folds resetting after NULL vs list_reduce
staying NULL, DESC NULL placement, SUM-skips-NULL interactions).
Fixture events have no NULLs, so without this corpus the class is
unreachable in CI."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tests.harness_util import _norm

EV_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# every query here reads ONLY the events table
EVENTS_QUERIES = [
    "windowed_event_counts",
    "sliding_window_avg",
    "session_window_agg",
    "stream_dedup_events",
    "stream_join_attribution",
    "sessionize_events",
    "funnel_conversion",
    "retention_cohorts",
    "rolling_active_users",
    "interval_islands",
    "anomaly_daily_counts",
    "skew_profile_events",
    "json_props_stats",
    "user_behavior_similarity",
    "stateful_running_count",
    "stateful_running_sum",
    "stateful_topk",
    "stateful_ewma",
    "stateful_sessions",
    "session_gap_plan",
]


@pytest.fixture(scope="module")
def null_corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("null_ev_corpus")
    t0 = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase"]
    rows = []
    for i in range(60):
        rows.append(
            (
                i,
                t0 + dt.timedelta(minutes=7 * i),
                i % 5,
                types[i % 3],
                None if i % 5 == 0 else float(i) + 0.5,
                None if i % 7 == 0 else '{"k": 1}',
            )
        )
    spark.createDataFrame(rows, EV_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("qname", EVENTS_QUERIES)
def test_null_events_parity(spark, null_corpus, qname):
    _assert_events_parity(spark, null_corpus, qname)


def test_sessionize_subsecond_gap_opens_session(spark, tmp_path):
    # user 1's events are 1800.4 s apart: past the 30-min gap, so two
    # sessions (a whole-second gap would truncate to 1800 and merge
    # them); user 2's exact 1800 s gap stays one session
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.0, None),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=400_000), 1,
         "view", 2.0, None),
        (3, t0, 2, "view", 3.0, None),
        (4, t0 + dt.timedelta(seconds=1800), 2, "view", 4.0, None),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, EV_SCHEMA).write.parquet(
        f"{d}/events.parquet"
    )
    import __spark_entry__ as entrymod

    got = entrymod.queries()["sessionize_events"](spark, d).collect()
    n_sessions = {u: sum(r.user_id == u for r in got) for u in (1, 2)}
    assert n_sessions == {1: 2, 2: 1}
    _assert_events_parity(spark, d, "sessionize_events")


def _assert_events_parity(spark, corpus_dir, qname):
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[qname](spark, corpus_dir)
    s_cols = list(sdf.columns)
    s_rows = sdf.collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{corpus_dir}/events.parquet/*.parquet'"
    )
    arr = con.execute(osql[qname]).fetch_arrow_table()
    d_cols = arr.schema.names
    d_rows = [tuple(r[c] for c in d_cols) for r in arr.to_pylist()]
    con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows), (len(s_rows), len(d_rows))
    order = sorted(s_cols)
    si = [s_cols.index(c) for c in order]
    di = [d_cols.index(c) for c in order]
    a = sorted((tuple(_norm(r[i]) for i in si) for r in s_rows), key=repr)
    b = sorted((tuple(_norm(r[i]) for i in di) for r in d_rows), key=repr)
    assert a == b
