"""Contract test for the i11 stream-stream LEFT OUTER interval join.

A drained finite source cannot be compared to a batch outer join verbatim:
unmatched views younger than the final watermark horizon are correctly
still buffered (they could match a future purchase). The checkable
contract is:

1. matched rows == the batch INNER interval join, exactly;
2. every null-extended row is a view with NO purchase in its window;
3. every unmatched view that provably EXPIRED (view_ts + interval <
   final watermark) appears null-extended;
4. no view emits twice.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.registry import load
from data_lakes_tp2_student_spark.streaming.jobs import (
    stream_outer_interval_join,
)

from .conftest import SF_SMOKE as SF

INTERVAL = datetime.timedelta(minutes=10)


def _batch_sides(spark):
    ev = load(spark, SF, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return views, purchases


def test_stream_outer_join_contract(spark):
    out = stream_outer_interval_join(spark, SF).collect()
    views, purchases = _batch_sides(spark)

    inner = {
        (r.view_id, r.purchase_id)
        for r in views.join(
            purchases,
            F.expr(
                "v_user = user_id AND purchase_ts >= view_ts "
                "AND purchase_ts < view_ts + interval 10 minutes"
            ),
        ).collect()
    }
    matched = {(r.view_id, r.purchase_id) for r in out if r.purchase_id is not None}
    assert matched == inner  # 1. matched rows are exactly the batch inner join

    matched_views = {v for v, _ in inner}
    null_rows = {r.view_id: r.view_ts for r in out if r.purchase_id is None}
    # 2. no null row for a view that actually has a match
    assert not (set(null_rows) & matched_views)

    # final watermark = min over both inputs of (max event time - 10 min)
    vmax = views.agg(F.max("view_ts")).first()[0]
    pmax = purchases.agg(F.max("purchase_ts")).first()[0]
    watermark = min(vmax, pmax) - INTERVAL
    # 3. every provably-expired unmatched view emitted null-extended
    expired = {
        r.view_id
        for r in views.collect()
        if r.view_id not in matched_views and r.view_ts + INTERVAL < watermark
    }
    assert expired <= set(null_rows)
    # ...and nothing emitted null before it could have expired
    for view_id, view_ts in null_rows.items():
        assert view_ts + INTERVAL <= watermark + datetime.timedelta(minutes=1)

    # 4. each view emits at most once
    all_views = [r.view_id for r in out if r.purchase_id is None]
    assert len(all_views) == len(set(all_views))
