"""Hot-key evidence for the factor engine: one security holding ~50%
of all bars must neither change results nor force a single-task
full-corpus shuffle.

At 100 TB the adjust pipeline's per-id windows only ever run on the
persisted day calendar (small); the bar table itself is shuffled only
on keys that spread a hot security over many tasks. These tests pin
(a) end-to-end adjust correctness under skew and (b) that plan shape:
every exchange of bar rows is keyed by (ticker, datetime) or
(id, event_day[, ticker]), and every exchange keyed by the bare id
reads the persisted calendar, never the bars.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.operators.factors import adjust_bars


@pytest.fixture(scope="module")
def skewed_bars(spark):
    """~4000 bars; id 1 (HOT) holds half of them, ids 2..40 share the rest."""
    hot = spark.range(2000).select(
        F.expr("timestamp'2024-01-02 09:30:00' + make_interval(0,0,0,0,0,id,0)").alias(
            "datetime"
        ),
        F.lit("HOT").alias("ticker"),
        F.lit(1).cast("long").alias("id"),
        (100.0 + F.col("id") % 17).alias("close"),
        F.lit(10.0).alias("volume"),
    )
    cold = spark.range(2000).select(
        F.expr("timestamp'2024-01-02 09:30:00' + make_interval(0,0,0,0,0,id,0)").alias(
            "datetime"
        ),
        F.concat(F.lit("C"), (F.col("id") % 39).cast("string")).alias("ticker"),
        (2 + F.col("id") % 39).cast("long").alias("id"),
        (50.0 + F.col("id") % 13).alias("close"),
        F.lit(5.0).alias("volume"),
    )
    return hot.unionByName(cold).localCheckpoint()


@pytest.fixture(scope="module")
def refdata(spark):
    """(security master, splits, dividends): one FIGI per ticker, a 2:1
    split of the hot ticker on its second day, no dividends."""
    tickers = ["HOT"] + [f"C{i}" for i in range(39)]
    sm = spark.createDataFrame(
        [(t, f"FIGI_{t}", dt.datetime(2023, 1, 1), None) for t in tickers],
        "ticker string, composite_figi string, effective_start timestamp, "
        "effective_end timestamp",
    )
    splits = spark.createDataFrame(
        [("HOT", "FIGI_HOT", dt.datetime(2024, 1, 3), 1.0, 2.0)],
        "ticker string, composite_figi string, execution_date timestamp, "
        "split_from double, split_to double",
    )
    dividends = spark.createDataFrame(
        [],
        "ticker string, composite_figi string, ex_date timestamp, cash_amount double",
    )
    return sm, splits, dividends


def test_adjust_bars_correct_under_hot_key(spark, skewed_bars, refdata):
    """End-to-end adjust on the skewed fixture: the hot ticker's split
    applies exactly as on a balanced corpus."""
    out = adjust_bars(skewed_bars.drop("id"), *refdata, materialize="close").collect()
    hot = [r for r in out if r["ticker"] == "HOT"]
    cold = [r for r in out if r["ticker"] != "HOT"]
    assert len(hot) == 2000 and len(cold) == 2000
    cut = dt.datetime(2024, 1, 3)
    assert any(r["datetime"] < cut for r in hot)
    assert any(r["datetime"] >= cut for r in hot)
    for r in hot:
        want = r["close"] / 2.0 if r["datetime"] < cut else r["close"]
        assert r["close_split"] == pytest.approx(want, rel=1e-12), r
    for r in cold[:100]:
        assert r["close_split"] == pytest.approx(r["close"], rel=1e-12)


def _plan_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, operator text) per line of a Spark plan tree string."""
    out = []
    for line in plan.splitlines():
        prefix = re.match(r"[ :+\-]*", line).group(0)
        out.append((len(prefix), line[len(prefix):]))
    return out


def _visible(tree, i):
    """Indices of the lines under tree[i], minus the cached subplan an
    InMemoryTableScan prints below itself (that plan ran once, when the
    cache filled; the scan reads the cached rows)."""
    depth, out, skip_below = tree[i][0], [], None
    for j in range(i + 1, len(tree)):
        d, text = tree[j]
        if d <= depth:
            break
        if skip_below is not None and d > skip_below:
            continue
        skip_below = d if text.startswith("InMemoryTableScan") else None
        out.append(j)
    return out


def test_adjust_bars_plan_shuffles_bars_only_on_spread_keys(spark, skewed_bars, refdata):
    """Plan shape under the hot key: bar rows cross the network only on
    (ticker, datetime) (the id stitch's keep-last) and (id, event_day
    [, ticker]) (calendar aggregate, factor join); every exchange keyed
    on id alone — the windows a 50% id would pile into one task — reads
    the persisted calendar."""
    plan = (
        adjust_bars(skewed_bars.drop("id"), *refdata, materialize="close")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    tree = _plan_tree(plan)
    # bars are the only leaf with a close column; the refdata leaves have none
    is_bar_scan = lambda t: t.startswith("Scan") and "close#" in t  # noqa: E731
    bar_keys, id_only = set(), 0
    for i in _visible(tree, 0):
        m = re.match(r"Exchange hashpartitioning\((.*), \d+\)", tree[i][1])
        if not m:
            continue
        keys = tuple(re.sub(r"#\d+L?", "", k).strip() for k in m.group(1).split(","))
        below = [tree[j][1] for j in _visible(tree, i)]
        if any(is_bar_scan(t) for t in below):
            bar_keys.add(keys)
        if keys == ("id",):
            id_only += 1
            assert not any(is_bar_scan(t) for t in below), plan
            assert any(t.startswith("InMemoryTableScan") for t in below), plan
    assert id_only > 0, plan
    assert bar_keys, plan
    assert bar_keys <= {
        ("ticker", "datetime"),
        ("id", "event_day"),
        ("id", "event_day", "ticker"),
    }, (bar_keys, plan)
