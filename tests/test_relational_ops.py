"""Unit tests for the relational extension operators: as-of join edge
semantics and sessionization gap boundaries.
"""

from datetime import datetime

from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.operators.relational import asof_join, sessionize


def ts(s):
    return datetime.fromisoformat(s)


def make(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def run_asof(spark, left_rows, right_rows):
    left = make(spark, left_rows, "k long, lts timestamp, lid long")
    right = make(spark, right_rows, "k long, rts timestamp, payload string")
    out = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        right_payload=["payload"],
    )
    return {r.lid: r.payload for r in out.collect()}


def test_asof_basic_latest_at_or_before(spark):
    got = run_asof(
        spark,
        [(1, ts("2024-01-01T10:00:00"), 1), (1, ts("2024-01-01T12:00:00"), 2)],
        [(1, ts("2024-01-01T09:00:00"), "a"), (1, ts("2024-01-01T11:00:00"), "b")],
    )
    assert got == {1: "a", 2: "b"}


def test_asof_exact_timestamp_matches(spark):
    # equality counts: right row AT the left timestamp is taken
    got = run_asof(
        spark,
        [(1, ts("2024-01-01T10:00:00"), 1)],
        [(1, ts("2024-01-01T10:00:00"), "exact")],
    )
    assert got == {1: "exact"}


def test_asof_no_prior_row_yields_null(spark):
    got = run_asof(
        spark,
        [(1, ts("2024-01-01T08:00:00"), 1)],
        [(1, ts("2024-01-01T09:00:00"), "later")],
    )
    assert got == {1: None}


def test_asof_key_isolation(spark):
    got = run_asof(
        spark,
        [(1, ts("2024-01-01T10:00:00"), 1), (2, ts("2024-01-01T10:00:00"), 2)],
        [(1, ts("2024-01-01T09:00:00"), "k1")],
    )
    assert got == {1: "k1", 2: None}


def test_asof_duplicate_right_ts_deterministic(spark):
    # two right rows at the same (key, ts): max_by on the first payload
    # column wins — deterministic across runs/partitionings
    got = run_asof(
        spark,
        [(1, ts("2024-01-01T10:00:00"), 1)],
        [(1, ts("2024-01-01T09:00:00"), "x"), (1, ts("2024-01-01T09:00:00"), "z"),
         (1, ts("2024-01-01T09:00:00"), "y")],
    )
    assert got == {1: "z"}


def test_sessionize_gap_boundary(spark):
    """session_window's boundary is INCLUSIVE: an event exactly `gap`
    after the previous one merges into the same session; only a
    strictly-greater gap starts a new session. (The SQL oracle and the
    stateful streaming variant mirror this strict-> break.)"""
    rows = [
        (1, ts("2024-01-01T10:00:00")),
        (1, ts("2024-01-01T10:30:00")),   # exactly 30m -> same session
        (1, ts("2024-01-01T11:00:00.000001")),  # 30m + 1us -> new session
        (2, ts("2024-01-01T10:00:00")),
    ]
    df = make(spark, rows, "user_id long, ts timestamp")
    out = sessionize(df, gap="30 minutes")
    got = sorted(
        (r.user_id, r.session_start.isoformat(), r.n_events)
        for r in out.collect()
    )
    assert got == [
        (1, "2024-01-01T10:00:00", 2),
        (1, "2024-01-01T11:00:00.000001", 1),
        (2, "2024-01-01T10:00:00", 1),
    ]


def run_range(spark, left_rows, right_rows, window_seconds=3600):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.relational import range_join

    left = make(spark, left_rows, "k long, lts timestamp, lid long")
    right = make(spark, right_rows, "k long, rts timestamp, payload string")
    out = range_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        right_payload=["payload"], window_seconds=window_seconds,
    )
    pairs = [(r.lid, r.payload) for r in out.collect()]
    assert len(pairs) == len(set(pairs)), "pair emitted more than once"
    return sorted(pairs)


def test_range_join_window_bounds_inclusive(spark):
    # exactly window-seconds before is IN; one second earlier is OUT;
    # exactly at the left timestamp is IN; after it is OUT
    got = run_range(
        spark,
        [(1, ts("2024-01-01T12:00:00"), 1)],
        [
            (1, ts("2024-01-01T11:00:00"), "at-lower"),
            (1, ts("2024-01-01T10:59:59"), "below"),
            (1, ts("2024-01-01T12:00:00"), "at-left"),
            (1, ts("2024-01-01T12:00:01"), "after"),
        ],
    )
    assert got == [(1, "at-left"), (1, "at-lower")]


def test_range_join_match_across_bucket_boundary(spark):
    # left at 12:30 has window [11:30, 12:30] spanning buckets 11 and 12;
    # a right row in the previous hour-bucket must still match once
    got = run_range(
        spark,
        [(1, ts("2024-01-01T12:30:00"), 1)],
        [(1, ts("2024-01-01T11:45:00"), "prev-bucket"),
         (1, ts("2024-01-01T12:10:00"), "same-bucket")],
    )
    assert got == [(1, "prev-bucket"), (1, "same-bucket")]


def test_range_join_key_isolation_and_multi_left(spark):
    got = run_range(
        spark,
        [(1, ts("2024-01-01T12:00:00"), 1), (2, ts("2024-01-01T12:00:00"), 2)],
        [(1, ts("2024-01-01T11:30:00"), "k1"),
         (2, ts("2024-01-01T11:30:00"), "k2")],
    )
    assert got == [(1, "k1"), (2, "k2")]


def test_asof_tolerance_bounds_lookback(spark):
    """tolerance (seconds) discards matches older than the bound —
    pandas merge_asof semantics; previously the parameter was accepted
    and silently ignored (review find)."""
    left = make(
        spark,
        [(1, ts("2024-01-01T10:00:00"), 1), (1, ts("2024-01-01T10:04:00"), 2)],
        "k long, lts timestamp, lid long",
    )
    right = make(
        spark,
        [(1, ts("2024-01-01T09:59:00"), "a")],
        "k long, rts timestamp, payload string",
    )
    out = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        right_payload=["payload"], tolerance=120,
    )
    got = {r.lid: r.payload for r in out.collect()}
    # lid 1: match 60s old (within 120s); lid 2: match 300s old (out)
    assert got == {1: "a", 2: None}


def test_salted_aggregate_preserves_sub_cent_values(spark):
    """The partial-sum decimal cast must not silently round inputs:
    the old decimal(18,2) cast turned 1000 x 0.004 into 0.0 (review
    find); the (38,9) default keeps 9 fractional digits."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.relational import salted_aggregate

    df = spark.createDataFrame(
        [("a", 0.004)] * 1000, "k string, v double"
    )
    row = salted_aggregate(df, ["k"], sum_cols=["v"]).collect()[0]
    assert row["n"] == 1000
    assert abs(row["sum_v"] - 4.0) < 1e-9


def test_asof_tolerance_numeric_ts_columns(spark):
    """r9 (review find): numeric/epoch ts columns — always accepted by
    the tolerance=None path — must honor tolerance too, by plain
    subtraction in the column's own unit, instead of failing at
    analysis time on timestamp INTERVAL arithmetic."""
    left = make(
        spark, [(1, 1000, 1), (1, 1240, 2)], "k long, lts long, lid long"
    )
    right = make(spark, [(1, 940, "a")], "k long, rts long, payload string")
    out = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        right_payload=["payload"], tolerance=120,
    )
    got = {r.lid: r.payload for r in out.collect()}
    # lid 1: match 60 units old (within 120); lid 2: 300 units old (out)
    assert got == {1: "a", 2: None}


def test_symmetric_multiset_diff_count_equals_exceptall(spark):
    """Pin for the sessionize-demo verify
    (plans/catalog.stream_sessionize_stateful_demo): for any two
    multisets, count(A exceptAll B ∪ B exceptAll A) equals the tagged
    union + groupBy Σ|net| that replaced it — including duplicate rows,
    one-sided rows, empty inputs, and NULL-keyed rows (groupBy and
    exceptAll both treat NULLs as equal; an equi-join would not)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _symmetric_multiset_diff_count,
    )

    cases = [
        ([(1, "x"), (1, "x"), (2, "y"), (3, "z")],
         [(1, "x"), (2, "y"), (2, "y"), (4, "w")], 4),
        ([], [(1, "x")], 1),
        ([(1, "x")], [], 1),
        ([], [], 0),
        ([(1, "x"), (1, "x")], [(1, "x"), (1, "x")], 0),
        # identical NULL-keyed rows on both sides: no mismatch
        ([(None, "x"), (1, None), (None, None)],
         [(None, "x"), (1, None), (None, None)], 0),
        # a one-sided NULL row
        ([(None, "x"), (1, "y")], [(1, "y")], 1),
    ]
    for la, lb, want in cases:
        a = spark.createDataFrame(la, "k int, v string")
        b = spark.createDataFrame(lb, "k int, v string")
        old = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
        new = _symmetric_multiset_diff_count(a, b).collect()[0]["n_mismatch"]
        assert new == old == want, (la, lb, new, old, want)
