"""Salted join/aggregate equivalence, upsert, profiling, t-closeness,
as-of, interval and gap-fill operator behavior."""

from __future__ import annotations

import pyspark.sql.functions as F

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.operators.profile import profile_table
from java_etl_bi_generator_spark.operators.upsert import merge_upsert
from java_etl_bi_generator_spark.queries import registry

from .conftest import SF_DIR


def test_salted_join_matches_plain_join(spark):
    """q_skew_join_salted's replicated-dim salting gives the unsalted
    join's per-segment counts."""
    cu = load_table(spark, SF_DIR, "customer")
    od = load_table(spark, SF_DIR, "orders")
    plain = {
        r["c_mktsegment"]: r["n"]
        for r in od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["c_mktsegment"]: r["n_orders"]
        for r in registry()["q_skew_join_salted"](spark, SF_DIR).collect()
    }
    assert salted == plain


def test_two_phase_agg_matches_direct(spark):
    """q_salted_groupby's (key, salt) partial + final merge equals the
    direct GROUP BY."""
    ev = load_table(spark, SF_DIR, "events")
    direct = {
        r["event_type"]: (r["n"], round(r["s"], 2))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = {
        r["event_type"]: (r["n_events"], round(r["sum_value"], 2))
        for r in registry()["q_salted_groupby"](spark, SF_DIR).collect()
    }
    assert salted == direct


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], ["k", "name", "v"]
    )
    got = {r["k"]: (r["name"], r["v"])
           for r in merge_upsert(target, updates, "k").collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0),
                   4: ("d", 40.0)}


def test_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "x")], ["id", "s"]
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 3
    assert prof["id"]["n_nulls"] == 0
    assert prof["id"]["n_distinct"] == 3
    assert prof["s"]["n_nulls"] == 1
    assert prof["s"]["n_distinct"] == 1
    assert prof["s"]["min_str"] == "x"


def test_gap_fill_interpolate_planted_series(spark):
    """Linear blend on a synthetic hourly series with a 3-hour hole:
    10 @ h0, (gap, gap, gap), 50 @ h4 -> 20/30/40 interpolated."""
    import datetime as dt

    from java_etl_bi_generator_spark.queries import registry

    base = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        ("a", base, 10.0),
        ("a", base + dt.timedelta(hours=4), 50.0),
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {
            r["hour"] - rows[0][1].timestamp() // 3600: (
                r["sv_interp"],
                r["is_gap"],
            )
            for r in registry()["q_gap_fill_interpolate"](spark, d).collect()
        }
    assert out[0] == (10.0, 0) and out[4] == (50.0, 0)
    assert out[1] == (20.0, 1)
    assert out[2] == (30.0, 1)
    assert out[3] == (40.0, 1)


def test_tcloseness_tvd_planted_values(spark):
    """Exact TVD on a planted table: global = 6 A / 2 B; a 4-row all-A
    class and a balanced 2A/2B class both sit at TVD 0.25 (p_c vs
    p_g=(0.75,0.25)), above the t=0.2 breach line."""
    import tempfile

    from java_etl_bi_generator_spark.queries import registry

    rows = (
        [(1, 0.0, "A")] * 4           # class (1, 0): all A
        + [(2, 0.0, "A")] * 2 + [(2, 0.0, "B")] * 2  # class (2, 0): 2A/2B
    )
    df = spark.createDataFrame(
        [(n, b, s) for n, b, s in rows],
        "c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/customer.parquet")
        out = {
            (r["qi_nation"], r["qi_bucket"]): (r["tvd"], r["breaches_t"])
            for r in registry()["q_tcloseness_audit"](spark, d).collect()
        }
    assert out[(1, 0)] == (0.25, 1)
    assert out[(2, 0)] == (0.25, 1)


def test_asof_nearest_direction_and_ties(spark):
    """Planted series: nearest picks the closer side, backward on exact
    ties, forward when nothing precedes, null when no right rows."""
    import datetime as dt

    from java_etl_bi_generator_spark.operators.asof import asof_join_nearest

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10), 100), (1, t(31), 101), (1, t(50), 102), (2, t(5), 200)],
        "user_id int, ts timestamp, event_id int",
    )
    right = spark.createDataFrame(
        [(1, t(8), 1.0), (1, t(30), 2.0), (1, t(52), 3.0)],
        "user_id int, ts timestamp, rv double",
    )
    out = {
        r["event_id"]: (r["rv_m"], r["ts_m"])
        for r in asof_join_nearest(
            left, right, on="user_id", ts_col="ts",
            right_value_cols=["rv"], suffix="_m",
        ).collect()
    }
    assert out[100] == (1.0, t(8))      # 2s back vs 20s fwd -> backward
    assert out[101] == (2.0, t(30))     # 1s back vs 21s fwd -> backward
    assert out[102] == (3.0, t(52))     # 2s fwd vs 20s back -> forward
    assert out[200] == (None, None)     # user 2 has no purchases

    # exact tie: equidistant -> backward preferred
    left2 = spark.createDataFrame(
        [(1, t(20), 300)], "user_id int, ts timestamp, event_id int"
    )
    right2 = spark.createDataFrame(
        [(1, t(10), 7.0), (1, t(30), 8.0)],
        "user_id int, ts timestamp, rv double",
    )
    r300 = asof_join_nearest(
        left2, right2, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix="_m",
    ).collect()[0]
    assert (r300["rv_m"], r300["ts_m"]) == (7.0, t(10))


def test_asof_nearest_subsecond_distances(spark):
    """Microsecond-exact distances: 0.9s back vs 0.1s forward must pick
    forward — whole-second truncation would pick backward (0 <= 1)."""
    import datetime as dt

    from java_etl_bi_generator_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 10, 900000), 1)],
        "user_id int, ts timestamp, event_id int",
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 10, 0), 1.0),
            (1, dt.datetime(2024, 1, 1, 0, 0, 11, 0), 2.0),
        ],
        "user_id int, ts timestamp, rv double",
    )
    r = asof_join_nearest(
        left, right, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix="_m",
    ).collect()[0]
    assert r["rv_m"] == 2.0

    import pytest

    with pytest.raises(ValueError, match="non-empty suffix"):
        asof_join_nearest(
            left, right, on="user_id", ts_col="ts",
            right_value_cols=["rv"], suffix="",
        )


def test_asof_null_right_value_stays_paired_with_its_row(spark):
    """A null right VALUE must ride with its own row: the backward match
    at ts=20 (rv=NULL) must NOT borrow ts=10's value 5.0 — the struct
    carry keeps (value, ts) atomic where per-column ignorenulls carries
    would desync them."""
    import datetime as dt

    from java_etl_bi_generator_spark.operators.asof import (
        asof_join,
        asof_join_forward,
        asof_join_nearest,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(21), 100)], "user_id int, ts timestamp, event_id int"
    )
    right = spark.createDataFrame(
        [(1, t(10), 5.0), (1, t(20), None)],
        "user_id int, ts timestamp, rv double",
    )
    b = asof_join(
        left, right, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix="_m",
    ).collect()[0]
    assert b["rv_m"] is None  # nearest preceding row is (20, NULL)

    right_f = spark.createDataFrame(
        [(1, t(30), None), (1, t(40), 7.0)],
        "user_id int, ts timestamp, rv double",
    )
    f = asof_join_forward(
        left, right_f, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix="_m",
    ).collect()[0]
    assert f["rv_m"] is None  # next following row is (30, NULL)

    n = asof_join_nearest(
        left, right, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix="_m",
    ).collect()[0]
    assert n["ts_m"] == t(20) and n["rv_m"] is None


def test_interval_overlap_bucketization_equals_theta_join(spark):
    """The bucketized overlap join must equal the naive theta join for
    any bucket width (the equivalence that makes it a scale PATH, not a
    different operator) — planted intervals exercise same-bucket
    non-overlaps, cross-bucket overlaps, touching endpoints, and
    bucket-aligned boundaries."""
    from java_etl_bi_generator_spark.operators.intervals import (
        interval_overlap_pairs,
    )

    rows = [
        # key 1: [0,10] & [10,20] touch (overlap, closed); [25,28] & [29,40]
        # share bucket 0/1 at width 30 but do NOT overlap; [100,130] spans
        # buckets; [131,140] adjacent-not-overlapping
        (1, 1, 0, 10), (1, 2, 10, 20), (1, 3, 25, 28), (1, 4, 29, 40),
        (1, 5, 100, 130), (1, 6, 131, 140), (1, 7, 128, 135),
        (2, 8, 0, 100),  # other key: never pairs with key 1
    ]
    df = spark.createDataFrame(rows, "k int, iid int, s int, e int")
    expect = set()
    for ka, ia, sa, ea in rows:
        for kb, ib, sb, eb in rows:
            if ka == kb and ia < ib and sa <= eb and sb <= ea:
                expect.add((ka, ia, ib))
    for width in (1, 7, 30, 1000):
        got = {
            (r["k"], r["id_a"], r["id_b"])
            for r in interval_overlap_pairs(
                df, ["k"], "iid", "s", "e", bucket_width=width
            ).collect()
        }
        assert got == expect, width
