"""range_join (binned point-in-interval) and hypertable_rollup (cascading
multi-resolution time-bucket aggregation) — parity against naive
formulations Catalyst can verify directly."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from pride_spark.operators.joins import range_join
from pride_spark.operators.timeseries import (
    AggSpec,
    hypertable_rollup,
    time_bucket,
)


def _rows(df, *cols):
    # repr sort key: None-valued cells (e.g. the total row's bucket)
    # aren't comparable with datetimes
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


# ---------------------------------------------------------------------------
# range_join
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pts_iv(spark):
    pts = spark.createDataFrame(
        [(1, -7), (2, 0), (3, 5), (4, 12), (5, 99), (6, None)],
        "pid int, x int",
    )
    iv = spark.createDataFrame(
        [
            (10, -10, -5),   # matches x=-7
            (11, -1, 6),     # matches 0, 5
            (12, 5, 5),      # degenerate single-point, matches 5
            (13, 11, 30),    # matches 12
            (14, 8, 2),      # end < start: matches nothing
            (15, 90, 120),   # matches 99
        ],
        "iid int, s int, e int",
    )
    return pts, iv


def _naive(pts, iv, how="inner"):
    cond = (F.col("x") >= F.col("s")) & (F.col("x") <= F.col("e"))
    out = pts.join(iv, cond, "left" if how == "left" else "inner")
    return out


@pytest.mark.parametrize("bin_width", [1, 3, 7, 100])
def test_range_join_matches_naive(spark, pts_iv, bin_width):
    pts, iv = pts_iv
    got = range_join(pts, iv, "x", "s", "e", bin_width=bin_width)
    want = _naive(pts, iv)
    assert _rows(got, "pid", "iid") == _rows(want, "pid", "iid")


def test_range_join_left_keeps_unmatched(spark, pts_iv):
    pts, iv = pts_iv
    got = range_join(pts, iv, "x", "s", "e", bin_width=4, how="left")
    want = _naive(pts, iv, how="left")
    assert _rows(got, "pid", "iid") == _rows(want, "pid", "iid")
    # null-x and never-matching points survive with NULL interval cols
    nulls = {r["pid"] for r in got.filter(F.col("iid").isNull()).collect()}
    assert nulls == {6}


def test_range_join_left_null_payload_not_duplicated(spark):
    # a MATCHED point carrying a NULL payload column must not be re-added
    # as an unmatched row (the row-id add-back, not value equality)
    pts = spark.createDataFrame([(1, 5, None)], "pid int, x int, note string")
    iv = spark.createDataFrame([(9, 0, 10)], "iid int, s int, e int")
    got = range_join(pts, iv, "x", "s", "e", bin_width=4, how="left")
    assert got.count() == 1
    assert got.first()["iid"] == 9


def test_range_join_name_collision_suffix(spark):
    pts = spark.createDataFrame([(1, 5)], "pid int, x int")
    iv = spark.createDataFrame([(2, 0, 10)], "pid int, s int, e int")
    got = range_join(pts, iv, "x", "s", "e", bin_width=4)
    assert "pid_right" in got.columns
    r = got.first()
    assert (r["pid"], r["pid_right"]) == (1, 2)


def test_range_join_rejects_bad_args(spark, pts_iv):
    pts, iv = pts_iv
    with pytest.raises(ValueError):
        range_join(pts, iv, "x", "s", "e", bin_width=0)
    with pytest.raises(ValueError):
        range_join(pts, iv, "x", "s", "e", bin_width=4, how="full")


def test_range_join_plan_is_not_nested_loop(spark, pts_iv):
    pts, iv = pts_iv
    plan = range_join(
        pts, iv, "x", "s", "e", bin_width=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# hypertable_rollup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ts_df(spark):
    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(500):
        ts = base + datetime.timedelta(minutes=17 * i)  # spans ~6 days
        rows.append((i, "a" if i % 3 else "b", ts, float(i % 13) / 7.0))
    return spark.createDataFrame(rows, "id int, grp string, ts timestamp, v double")


def _direct(df, res, by=()):
    return (
        df.groupBy(*by, time_bucket("ts", res).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("v_sum"),
            F.max("v").alias("v_max"),
        )
    )


AGGS = [AggSpec("count", None, "n"), AggSpec("sum", "v", "v_sum"), AggSpec("max", "v", "v_max")]


def test_cascade_equals_direct_aggregate(spark, ts_df):
    out = hypertable_rollup(ts_df, "ts", AGGS, resolutions=("hour", "day"))
    for res in ("hour", "day"):
        got = out.filter(F.col("level") == res).drop("level")
        want = _direct(ts_df, res)
        assert _rows(got, *sorted(got.columns)) == _rows(want, *sorted(got.columns))
    tot = out.filter(F.col("level") == "total").collect()
    assert len(tot) == 1
    assert tot[0]["n"] == 500
    assert tot[0]["bucket_start"] is None


def test_rollup_with_by_keys(spark, ts_df):
    out = hypertable_rollup(
        ts_df, "ts", AGGS, resolutions=("hour", "day"), by=["grp"]
    )
    got = out.filter(F.col("level") == "day").drop("level")
    want = _direct(ts_df, "day", by=["grp"])
    assert _rows(got, *sorted(got.columns)) == _rows(want, *sorted(got.columns))
    # per-key totals
    tot = {r["grp"]: r["n"] for r in out.filter(F.col("level") == "total").collect()}
    assert tot == {"a": ts_df.filter("grp='a'").count(), "b": ts_df.filter("grp='b'").count()}


def test_rollup_resolution_order_and_validation(spark, ts_df):
    out = hypertable_rollup(ts_df, "ts", AGGS, resolutions=("day", "hour"))
    # ladder is sorted finest-first internally regardless of input order
    assert set(r["level"] for r in out.select("level").distinct().collect()) == {
        "hour", "day", "total",
    }
    with pytest.raises(ValueError):
        hypertable_rollup(ts_df, "ts", AGGS, resolutions=("fortnight",))
    with pytest.raises(ValueError):
        AggSpec("median", "v", "bad")  # not re-aggregatable


def test_rollup_single_input_shuffle(spark, ts_df):
    """The raw frame is exchanged ONCE (finest level); coarser levels
    re-aggregate the previous level's output."""
    out = hypertable_rollup(ts_df, "ts", AGGS, resolutions=("hour", "day"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # no grouping-sets row replication


def test_rollup_avg_and_approx_distinct(spark, ts_df):
    """avg cascades exactly (decimal sum+count pair); HLL sketch
    estimates carry the direct sketch's accuracy at every cascaded
    level (estimates compared within sketch tolerance — DataSketches
    mode promotions make them order-sensitive by a hair)."""
    from pride_spark.operators.timeseries import AggSpec, hypertable_rollup

    aggs = [
        AggSpec("avg", "v", "v_avg"),
        AggSpec("approx_distinct", "grp", "grp_dv"),
        AggSpec("approx_distinct", "id", "id_dv"),
    ]
    out = hypertable_rollup(ts_df, "ts", aggs, resolutions=("hour", "day"))
    for res in ("hour", "day"):
        got = {r["bucket_start"]: r for r in out.filter(F.col("level") == res).collect()}
        want = {
            r["bucket_start"]: r
            for r in ts_df.groupBy(time_bucket("ts", res).alias("bucket_start"))
            .agg(
                (F.sum(F.col("v").cast("decimal(28,6)")) / F.count("v"))
                .cast("double")
                .alias("v_avg"),
                F.hll_sketch_estimate(F.hll_sketch_agg("grp")).alias("grp_dv"),
                F.hll_sketch_estimate(F.hll_sketch_agg("id")).alias("id_dv"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k]["v_avg"] == want[k]["v_avg"]  # exact cascade
            for c in ("grp_dv", "id_dv"):
                assert abs(got[k][c] - want[k][c]) <= max(0.02 * want[k][c], 1.0)
    tot = out.filter(F.col("level") == "total").first()
    assert tot["grp_dv"] == 2          # exact at tiny cardinality
    assert abs(tot["id_dv"] - 500) / 500 < 0.05   # HLL estimate of 500 ids


# ---------------------------------------------------------------------------
# week-cascade nesting (regression: an ISO week straddling a month
# boundary must not feed the month/quarter/year cascade)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def straddle_df(spark):
    """Three events around the week of 2024-01-29, which contains both
    Jan 31 and Feb 1 — the adversarial shape for week→month cascades."""
    rows = [
        (1, datetime.datetime(2024, 1, 31, 10), 1.0),
        (2, datetime.datetime(2024, 2, 1, 10), 2.0),
        (3, datetime.datetime(2024, 2, 15, 10), 3.0),
    ]
    return spark.createDataFrame(rows, "id int, ts timestamp, v double")


def test_week_level_does_not_poison_coarser_cascade(spark, straddle_df):
    out = hypertable_rollup(
        straddle_df, "ts", AGGS,
        resolutions=("day", "week", "month", "quarter", "year"),
    )
    months = {
        r["bucket_start"].month: r["n"] for r in out.filter("level='month'").collect()
    }
    assert months == {1: 1, 2: 2}  # Feb 1 must not collapse into January
    for res in ("day", "week", "month", "quarter", "year"):
        got = out.filter(F.col("level") == res).drop("level")
        want = _direct(straddle_df, res)
        cols = sorted(got.columns)
        assert _rows(got, *cols) == _rows(want, *cols)


def test_week_finest_recomputes_month_from_raw(spark, straddle_df):
    """With 'week' as the finest level, month cannot cascade — it must
    take an extra pass over raw events instead of emitting wrong rows."""
    out = hypertable_rollup(straddle_df, "ts", AGGS, resolutions=("week", "month"))
    months = {
        r["bucket_start"].month: r["n"] for r in out.filter("level='month'").collect()
    }
    assert months == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# mergeable fixed-bin histogram measure
# ---------------------------------------------------------------------------


def test_histogram_cascade_equals_direct(spark, ts_df):
    """Fixed-boundary counts SUM, so the cascaded histogram is exactly
    the direct per-level histogram."""
    with pytest.raises(ValueError, match="bins"):
        AggSpec("histogram", "v", "h")  # bins required
    with pytest.raises(ValueError, match="increasing"):
        AggSpec("histogram", "v", "h", bins=[1.0, 1.0])
    with pytest.raises(ValueError, match="only valid"):
        AggSpec("sum", "v", "s", bins=[1.0])

    bins = [0.25, 0.75, 1.25, 1.75]
    aggs = [AggSpec("count", None, "n"), AggSpec("histogram", "v", "v_hist", bins=bins)]
    out = hypertable_rollup(ts_df, "ts", aggs, resolutions=("hour", "day"))

    def direct(res):
        conds = []
        edges = [None, *bins, None]
        for i in range(len(bins) + 1):
            c = F.col("v").isNotNull()
            if edges[i] is not None:
                c = c & (F.col("v") >= edges[i])
            if edges[i + 1] is not None:
                c = c & (F.col("v") < edges[i + 1])
            conds.append(F.sum(c.cast("long")))
        return {
            r["b"]: r["h"]
            for r in ts_df.groupBy(time_bucket("ts", res).alias("b"))
            .agg(F.array(*conds).alias("h"))
            .collect()
        }

    for res in ("hour", "day"):
        got = {
            r["bucket_start"]: r["v_hist"]
            for r in out.filter(F.col("level") == res).collect()
        }
        assert got == direct(res)

    # slot counts cover every non-null row
    tot = out.filter("level='total'").first()
    assert sum(tot["v_hist"]) == tot["n"]
