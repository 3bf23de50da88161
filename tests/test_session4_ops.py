"""Session-4 operators: CDC compaction, SCD2 intervals, sweep-line peak
concurrency, salted skew join/agg, per-group sampling, containment dedup,
degree assortativity.

Semantics-level invariants on synthetic micro-inputs (exact, hand-checkable)
plus unsalted-vs-salted equivalence; exact DuckDB oracle parity for the
mapped query classes is covered by tools/check_oracle.py
(events_latest_per_key, events_scd2, events_peak_concurrency,
skew_salted_join, doc_per_source_sample, doc_containment_pairs,
graph_assortativity).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(
        master="local[4]", shuffle_partitions=8, app_name="pytest-s4ops"
    )


# --------------------------------------------------------------- cdc


def test_latest_snapshot_exact_max_by(spark):
    from mmkg_rag_spark.operators.cdc import latest_snapshot

    rows = [
        ("u1", 1, "a", 10.0),
        ("u1", 3, "c", 30.0),
        ("u1", 2, "b", 20.0),
        ("u2", 5, "z", 1.0),
    ]
    df = spark.createDataFrame(rows, ["k", "v", "tag", "x"])
    out = {
        r.k: (r.v, r.tag, r.x)
        for r in latest_snapshot(df, ["k"], ["v"]).collect()
    }
    assert out == {"u1": (3, "c", 30.0), "u2": (5, "z", 1.0)}


def test_latest_snapshot_payload_never_participates_in_order(spark):
    """Two versions with the same order key except the tiebreaker: the
    payload values must not influence which row wins (max_by semantics,
    not max-over-struct-of-everything)."""
    from mmkg_rag_spark.operators.cdc import latest_snapshot

    rows = [("k", 1, 1, "zzz"), ("k", 2, 2, "aaa")]
    df = spark.createDataFrame(rows, ["k", "ts", "uid", "payload"])
    (r,) = latest_snapshot(df, ["k"], ["ts", "uid"]).collect()
    assert (r.ts, r.uid, r.payload) == (2, 2, "aaa")


def test_latest_snapshot_is_single_shuffle_no_sort(spark):
    """The plan must be a hash aggregate with a map-side partial — no
    window/sort operator anywhere."""
    from mmkg_rag_spark.operators.cdc import latest_snapshot

    df = spark.createDataFrame([("a", 1, "p")], ["k", "v", "p"])
    plan = latest_snapshot(df, ["k"], ["v"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") == 1


def test_scd2_intervals_chain(spark):
    from mmkg_rag_spark.operators.cdc import scd2_intervals

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u", t0, 1),
        ("u", t0 + dt.timedelta(days=1), 2),
        ("u", t0 + dt.timedelta(days=3), 3),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "uid"])
    out = sorted(
        scd2_intervals(df, ["k"], "ts", ["uid"]).collect(),
        key=lambda r: r.ts,
    )
    # half-open chain: valid_to of row i == valid_from of row i+1
    for a, b in zip(out, out[1:]):
        assert a.valid_to == b.valid_from
    assert out[-1].valid_to is None
    assert [r.is_current for r in out] == [False, False, True]


def test_scd2_current_sentinel(spark):
    from mmkg_rag_spark.operators.cdc import scd2_intervals

    hi = dt.datetime(9999, 12, 31)
    df = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), 1)], ["k", "ts", "uid"]
    )
    (r,) = scd2_intervals(
        df, ["k"], "ts", ["uid"], current_sentinel=F.lit(hi)
    ).collect()
    assert r.valid_to == hi and r.is_current


# ---------------------------------------------------- peak concurrency


def test_peak_concurrency_hand_case(spark):
    from mmkg_rag_spark.operators.temporal import peak_concurrency

    d = dt.datetime
    iv = [
        # day 1: three overlapping at 10:30 (peak 3)
        (d(2024, 1, 1, 10, 0), d(2024, 1, 1, 11, 0)),
        (d(2024, 1, 1, 10, 15), d(2024, 1, 1, 10, 45)),
        (d(2024, 1, 1, 10, 30), d(2024, 1, 1, 12, 0)),
        # spans midnight into day 2, where nothing else is open (peak 1)
        (d(2024, 1, 1, 23, 0), d(2024, 1, 2, 1, 0)),
        # empty interval: contributes nowhere
        (d(2024, 1, 3, 5, 0), d(2024, 1, 3, 5, 0)),
    ]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    out = {r.day.date(): r.peak_concurrent for r in peak_concurrency(df).collect()}
    assert out == {dt.date(2024, 1, 1): 3, dt.date(2024, 1, 2): 1}


def test_peak_concurrency_midnight_end_exclusive(spark):
    """[22:00, 00:00) must NOT touch the next day (half-open end)."""
    from mmkg_rag_spark.operators.temporal import peak_concurrency

    d = dt.datetime
    df = spark.createDataFrame(
        [(d(2024, 1, 1, 22, 0), d(2024, 1, 2, 0, 0))], ["start_ts", "end_ts"]
    )
    out = {r.day.date(): r.peak_concurrent for r in peak_concurrency(df).collect()}
    assert out == {dt.date(2024, 1, 1): 1}


def test_peak_concurrency_window_is_day_partitioned(spark):
    """The running sum must window PARTITION BY day — never a
    single-partition global sort."""
    from mmkg_rag_spark.operators.temporal import peak_concurrency

    d = dt.datetime
    df = spark.createDataFrame(
        [(d(2024, 1, 1, 1, 0), d(2024, 1, 1, 2, 0))], ["start_ts", "end_ts"]
    )
    plan = peak_concurrency(df)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# --------------------------------------------------------------- skew


def test_salted_join_equals_plain_join(spark):
    from mmkg_rag_spark.functions.skew import salted_join

    big = spark.createDataFrame(
        [(k, i) for k in ("hot", "a", "b") for i in range(40 if k == "hot" else 3)],
        ["k", "i"],
    )
    small = spark.createDataFrame([("hot", "H"), ("a", "A")], ["k", "tag"])
    got = sorted(
        (r.k, r.i, r.tag)
        for r in salted_join(big, small, ["k"], salts=4, big_salt_col="i").collect()
    )
    want = sorted((r.k, r.i, r.tag) for r in big.join(small, "k").collect())
    assert got == want


def test_salted_join_left_keeps_unmatched(spark):
    from mmkg_rag_spark.functions.skew import salted_join

    big = spark.createDataFrame([("a", 1), ("orphan", 2)], ["k", "i"])
    small = spark.createDataFrame([("a", "A")], ["k", "tag"])
    got = sorted(
        (r.k, r.i, r.tag)
        for r in salted_join(big, small, ["k"], salts=3, how="left").collect()
    )
    assert got == [("a", 1, "A"), ("orphan", 2, None)]


def test_salted_join_no_salt_column_leaks(spark):
    from mmkg_rag_spark.functions.skew import salted_join

    big = spark.createDataFrame([("a", 1)], ["k", "i"])
    small = spark.createDataFrame([("a", "A")], ["k", "tag"])
    out = salted_join(big, small, ["k"], salts=2)
    assert out.columns == ["k", "i", "tag"]


def test_salted_agg_two_stage_collect_set(spark):
    from mmkg_rag_spark.functions.skew import salted_agg_two_stage

    df = spark.createDataFrame(
        [("hot", i % 5) for i in range(100)] + [("cold", 99)], ["k", "x"]
    )
    out = salted_agg_two_stage(
        df,
        ["k"],
        partial_aggs=[F.collect_set("x").alias("xs")],
        final_aggs=[
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("xs")))
            ).alias("xs")
        ],
        salts=4,
        salt_src=F.col("x"),
    )
    got = {r.k: r.xs for r in out.collect()}
    assert got == {"hot": [0, 1, 2, 3, 4], "cold": [99]}


# ----------------------------------------------------------- sampling


def test_sample_per_group_deterministic_and_capped(spark):
    from mmkg_rag_spark.operators.curation import sample_per_group

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted((r.source, r.doc_id, r.rk) for r in sample_per_group(df, "source", 3, "doc_id").collect())
    b = sorted(
        (r.source, r.doc_id, r.rk)
        for r in sample_per_group(df.repartition(7), "source", 3, "doc_id").collect()
    )
    assert a == b, "sample must be partition-layout-invariant"
    from collections import Counter

    per = Counter(s for s, _, _ in a)
    n_groups = df.select("source").distinct().count()
    assert len(per) == n_groups
    assert all(v <= 3 for v in per.values())
    rks = {(s, rk) for s, _, rk in a}
    for s, cnt in per.items():
        assert {(s, i) for i in range(1, cnt + 1)} <= rks


# -------------------------------------------------------- containment


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a long one: containment(A→B)=1.0
    even though Jaccard is tiny."""
    from mmkg_rag_spark.operators.textdedup import containment_pairs

    short = "alpha beta gamma delta epsilon"
    long = " ".join(f"w{i}" for i in range(200)) + " " + short + " " + " ".join(
        f"v{i}" for i in range(200)
    )
    df = spark.createDataFrame(
        [("a", short), ("b", long), ("c", "totally unrelated words here now")],
        ["doc_id", "text"],
    )
    out = {(r.id_a, r.id_b): (r.cont_a, r.cont_b) for r in
           containment_pairs(df, n=3, threshold=0.9).collect()}
    assert ("a", "b") in out
    ca, cb = out[("a", "b")]
    assert ca == 1.0  # all of a's shingles appear in b
    assert cb < 0.05
    assert len(out) == 1


# ------------------------------------------------------ assortativity


def test_assortativity_star_is_negative_one(spark):
    """A star graph is perfectly disassortative: r = -1."""
    from mmkg_rag_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(6)], ["src", "dst"]
    )
    (r,) = degree_assortativity(edges).collect()
    assert r.n_nodes == 7 and r.n_edges == 6
    assert r.assortativity == pytest.approx(-1.0, abs=1e-9)


def test_assortativity_regular_graph_undefined_or_nan(spark):
    """A cycle is degree-regular: zero variance, r undefined (null/nan)."""
    import math

    from mmkg_rag_spark.operators.graph import degree_assortativity

    n = 5
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % n}") for i in range(n)], ["src", "dst"]
    )
    (r,) = degree_assortativity(edges).collect()
    assert r.n_nodes == n and r.n_edges == n
    assert r.assortativity is None or math.isnan(r.assortativity)


# ----------------------------------------------------- rolling distinct


def test_rolling_distinct_hand_case(spark):
    from mmkg_rag_spark.operators.temporal import rolling_distinct

    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1, 9)),
        (1, d(2024, 1, 1, 17)),   # same user+day: counted once
        (2, d(2024, 1, 2, 9)),
        (1, d(2024, 1, 10, 9)),   # outside the 7d window of day 1-2
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r.day.date(): r.n_active for r in
           rolling_distinct(df, window_days=3).collect()}
    # day1: {1}; day2: {1,2}; day3: {1,2}; day4: {2}; day10: {1}
    assert out == {
        dt.date(2024, 1, 1): 1,
        dt.date(2024, 1, 2): 2,
        dt.date(2024, 1, 3): 2,
        dt.date(2024, 1, 4): 1,
        dt.date(2024, 1, 10): 1,
    }
    # no report day beyond the data's max day (Jan 10)
    assert max(out) == dt.date(2024, 1, 10)


# ----------------------------------------------------------- last touch


def test_last_touch_credit_and_direct(spark):
    from mmkg_rag_spark.operators.temporal import last_touch

    d = dt.datetime
    rows = [
        # user 1: click -> view -> purchase  => credited to view
        (1, d(2024, 1, 1, 9), 1, "click"),
        (1, d(2024, 1, 1, 10), 2, "view"),
        (1, d(2024, 1, 1, 11), 3, "purchase"),
        # purchase then click: second purchase credited to the click,
        # the earlier purchase never is (conversions don't earn credit)
        (1, d(2024, 1, 1, 12), 4, "click"),
        (1, d(2024, 1, 1, 13), 5, "purchase"),
        # user 2: direct conversion, no preceding touch
        (2, d(2024, 1, 2, 9), 6, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {(r.user_id, r.conv_ts): (r.touch_type, r.touch_ts)
           for r in last_touch(df, tiebreak_cols=["event_id"]).collect()}
    assert out[(1, d(2024, 1, 1, 11))] == ("view", d(2024, 1, 1, 10))
    assert out[(1, d(2024, 1, 1, 13))] == ("click", d(2024, 1, 1, 12))
    assert out[(2, d(2024, 1, 2, 9))] == (None, None)
    assert len(out) == 3


# --------------------------------------------------------------- profile


def test_profile_columns_single_scan_counts(spark):
    from mmkg_rag_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, None, 7.5)],
        ["id", "s", "x"],
    )
    out = {r.column: r for r in profile_columns(df).collect()}
    assert set(out) == {"id", "s", "x"}
    assert all(r.n_rows == 3 for r in out.values())
    assert (out["id"].n_null, out["id"].n_distinct) == (0, 3)
    assert (out["s"].n_null, out["s"].n_distinct) == (1, 1)
    assert (out["x"].n_null, out["x"].n_distinct) == (1, 2)
    # numeric bounds order numerically, not lexicographically
    assert out["x"].min_val == "5.0" and out["x"].max_val == "7.5"


def test_profile_truncates_witnesses(spark):
    from mmkg_rag_spark.operators.profile import profile_columns

    df = spark.createDataFrame([("z" * 500,)], ["t"])
    (r,) = profile_columns(df, ["t"]).collect()
    assert len(r.min_val) == 40 and len(r.max_val) == 40


# ------------------------------------------------------- robust outliers


def test_robust_outliers_hampel(spark):
    from mmkg_rag_spark.functions.robust import robust_outlier_stats

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]  # one gross outlier
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "value"])
    (r,) = robust_outlier_stats(df, "grp", "value").collect()
    assert r.n == 6
    assert r.median == pytest.approx(12.5)
    assert r.mad == pytest.approx(1.5)
    assert r.n_outliers == 1  # only the 1000; mean±3σ would flag nothing


def test_robust_outliers_zero_mad_fallback(spark):
    from mmkg_rag_spark.functions.robust import robust_outlier_stats

    vals = [5.0] * 8 + [6.0, 99.0]  # MAD = 0 (median of |x-5| is 0)
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "value"])
    (r,) = robust_outlier_stats(df, "grp", "value").collect()
    assert r.mad == 0.0
    assert r.n_outliers == 2  # fallback: values != median


# ------------------------------------------------- yoy / anomaly classes


def test_orders_monthly_yoy_identity(spark):
    import __spark_entry__ as entry

    rows = entry.q_orders_monthly_yoy(spark, SF_DIR).collect()
    by_month = {r.month: r for r in rows}
    assert rows
    for r in rows:
        y, m = r.month.split("-")
        prev_key = f"{int(y) - 1}-{m}"
        if prev_key in by_month:
            assert r.revenue_prev_year == pytest.approx(
                by_month[prev_key].revenue
            ), r.month
            assert r.yoy_pct == pytest.approx(
                round((r.revenue - r.revenue_prev_year)
                      / r.revenue_prev_year * 100, 4), abs=1e-9
            )
        else:
            assert r.revenue_prev_year is None and r.yoy_pct is None


def test_events_daily_anomalies_fence(spark):
    import __spark_entry__ as entry

    rows = entry.q_events_daily_anomalies(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # closed-form mean/std from the 7 preceding days, |z|>3 fence
        if r.z is not None:
            assert r.is_anomaly == (abs(r.z) > 3.0)
            # recomputed from the 6dp-ROUNDED mean/std, so allow that slop
            assert r.z == pytest.approx(
                (r.n - r.trailing_mean) / r.trailing_std, abs=1e-4
            )
        else:
            assert r.trailing_std == 0.0 and not r.is_anomaly
