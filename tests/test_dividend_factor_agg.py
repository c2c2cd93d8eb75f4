"""The day calendar's end-of-day aggregate: two-level hash shape.

``first(ticker)`` in an aggregation BUFFER is a string Spark cannot
hash-aggregate — the whole full-bar pass would fall back to
SortAggregate (a sort of every scanned partition before the partial
agg; spill-prone at 100 TB).  ``day_calendar`` therefore keeps ticker
as a LEVEL-1 GROUP KEY (keys may be strings) and resolves the per-day
pick at level 2 over the calendar-sized frame.  These tests pin (a) the
plan: in ``adjust_bars``' lineage every SortAggregate sits above a
HashAggregate, never directly over the bar scan, and (b) value equality
of ``day_calendar`` with the direct one-level formulation on a
multi-day fixture with two bars per day.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.operators.factors import (
    adjust_bars,
    day_calendar,
)

D = dt.datetime.fromisoformat


@pytest.fixture(scope="module")
def bars_split(spark):
    rows = []
    for tick, gid in (("AAA", "FIGI_AAA"), ("BBB", "NOFIGI__BBB")):
        for d_i, day in enumerate(
            ["2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"]
        ):
            for minute in (30, 45):  # two bars per day: max_by must pick 45
                px = 100.0 + d_i + minute / 100.0
                rows.append(
                    (
                        D(f"{day}T15:{minute}:00"),
                        dt.date.fromisoformat(day),
                        tick,
                        gid,
                        px,
                        px * 0.5,
                        10.0,
                    )
                )
    return spark.createDataFrame(
        rows,
        "datetime timestamp, event_day date, ticker string, id string, "
        "close double, close_split double, volume double",
    ).localCheckpoint()


@pytest.fixture(scope="module")
def dividends(spark):
    return spark.createDataFrame(
        [
            ("AAA", None, D("2024-01-03T00:00:00"), 0.30),
            ("AAA", None, D("2024-01-03T00:00:00"), 0.20),  # same-day pair: sums
            ("AAA", None, D("2024-01-06T00:00:00"), 0.10),  # after last bar: drops
        ],
        "ticker string, composite_figi string, ex_date timestamp, cash_amount double",
    )


def test_no_sort_aggregate_in_plan(spark, bars_split, dividends):
    # Every SortAggregate in adjust_bars' plan (the only one is the
    # calendar's level-2 first(ticker)) must have a HashAggregate
    # between it and the bar scan: the full-bar pass is hash-shaped.
    sm = spark.createDataFrame(
        [("AAA", "FIGI_AAA", D("2023-01-01T00:00:00"), None)],
        "ticker string, composite_figi string, effective_start timestamp, "
        "effective_end timestamp",
    )
    splits = spark.createDataFrame(
        [], "ticker string, composite_figi string, execution_date timestamp, ratio double"
    )
    bars = bars_split.select("datetime", "ticker", "close", "volume")
    lines = (
        adjust_bars(bars, sm, splits, dividends)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .splitlines()
    )
    depth = [len(re.match(r"[ :+\-]*", l).group(0)) for l in lines]
    scans = [j for j, l in enumerate(lines) if "Scan" in l and "close#" in l]
    assert scans, "\n".join(lines)
    for j in scans:
        # ancestors of the scan, nearest first
        path, d = [], depth[j]
        for k in range(j - 1, -1, -1):
            if depth[k] < d:
                path.append(lines[k][depth[k]:])
                d = depth[k]
        for a, op in enumerate(path):
            if op.startswith("SortAggregate"):
                assert any(x.startswith("HashAggregate") for x in path[:a]), "\n".join(lines)


def test_calendar_full_bar_pass_is_hash_shaped(spark, bars_split):
    # The one full-bar pass (day_calendar level 1) must be a
    # partial-combining HashAggregate; the unavoidable first(ticker)
    # SortAggregate may only appear ABOVE it (calendar-sized, after the
    # level-1 exchange), never directly over the bar scan.
    lines = (
        day_calendar(bars_split.withColumn("close", F.col("close_split")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .splitlines()
    )
    assert any(
        "HashAggregate" in l and "partial_max_by" in l for l in lines
    ), "\n".join(lines)
    for i, l in enumerate(lines):
        if "SortAggregate" in l and "partial_first" in l:
            below = lines[i + 1 :]
            hash_i = next(
                j for j, x in enumerate(below) if "HashAggregate" in x
            )
            scan_i = next(j for j, x in enumerate(below) if "Scan" in x)
            assert hash_i < scan_i, "\n".join(lines)


def test_matches_one_level_formulation(spark, bars_split):
    key = ("id", "event_day")
    got = {
        tuple(r[k] for k in key): (r["close_eod"], r["ticker"])
        for r in day_calendar(bars_split).collect()
    }
    # the pre-round-14 one-level formulation, inlined
    want = {
        tuple(r[k] for k in key): (r["close_eod"], r["ticker"])
        for r in bars_split.groupBy(*key)
        .agg(
            F.max_by("close", "datetime").alias("close_eod"),
            F.first("ticker", ignorenulls=True).alias("ticker"),
        )
        .collect()
    }
    assert got == want
    assert len(got) == 8
    # the last bar of each day (minute 45) supplies the end-of-day close
    for (_, day), (close_eod, _) in got.items():
        d_i = (day - dt.date(2024, 1, 2)).days
        assert close_eod == 100.0 + d_i + 0.45
