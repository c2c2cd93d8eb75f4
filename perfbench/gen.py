"""Seeded inputs for the benchmark, with the ground truth kept in memory.

The program under test only ever sees the files written here; the
checks compare its outputs against the arrays this module generated.
The same seed always yields the same files and the same truth.

- Day bars: one gzip CSV per weekday at ``YYYY/MM/YYYY-MM-DD.csv.gz``.
  Even days use the long-form header with nanosecond epochs (tickers in
  mixed case), odd days the Polygon shorthand header ``T,t,o,h,l,c,v,n,vw``
  with millisecond epochs, so every read exercises both layouts and both
  epoch units.
- Loads: seeded point and range windows over the days a lake holds.
- Engine tables: the ten test-data tables (TPC-H-shaped star schema,
  ``events``, ``documents``, ``embeddings``) with the test data's
  schemas and value ranges, sized by ``scale``. Documents are word salad
  over a 30-word vocabulary in five language labels, 5% of them near
  duplicates of an earlier one, as in the test data.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np

#: bars are stamped at 05:00 UTC (midnight US/Eastern), as Polygon does
OPEN_OFFSET_NS = 5 * 3_600_000_000_000
LONG_HEADER = "ticker,volume,open,close,high,low,window_start,transactions"
SHORT_HEADER = "T,t,o,h,l,c,v,n,vw"


def trading_days(start: str, n: int) -> list[np.datetime64]:
    """The first ``n`` weekdays from ``start`` (inclusive)."""
    out: list[np.datetime64] = []
    d = np.datetime64(start, "D")
    while len(out) < n:
        if np.is_busday(d):
            out.append(d)
        d += 1
    return out


@dataclass
class Bars:
    """Day bars for ``tickers`` × ``days``; arrays are indexed [day, ticker]."""

    tickers: list[str]
    days: list[np.datetime64]
    open: np.ndarray
    high: np.ndarray
    low: np.ndarray
    close: np.ndarray
    volume: np.ndarray
    transactions: np.ndarray
    vwap: np.ndarray

    def close_sum(self, tickers: list[str], first: int, last: int) -> tuple[int, float]:
        """(rows, Σclose) over day indexes ``first..last`` inclusive, with
        close rounded to the lake's float32 storage type."""
        cols = [self.tickers.index(t) for t in tickers]
        block = self.close[first : last + 1, cols].astype(np.float32).astype(np.float64)
        return block.size, float(block.sum())


def make_bars(seed: int, n_tickers: int, n_days: int, start: str = "2023-01-02") -> Bars:
    rng = np.random.default_rng(seed)
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    tickers: set[str] = set()
    while len(tickers) < n_tickers:
        tickers.add("".join(rng.choice(letters, size=int(rng.integers(3, 5)))))
    names = sorted(tickers)
    days = trading_days(start, n_days)
    base = rng.uniform(20, 500, size=n_tickers)
    walk = np.exp(np.cumsum(rng.normal(0, 0.02, size=(n_days, n_tickers)), axis=0))
    close = np.round(base * walk, 2)
    open_ = np.round(close * (1 + rng.normal(0, 0.005, close.shape)), 2)
    high = np.round(np.maximum(open_, close) * (1 + rng.uniform(0, 0.01, close.shape)), 2)
    low = np.round(np.minimum(open_, close) * (1 - rng.uniform(0, 0.01, close.shape)), 2)
    vwap = np.round((open_ + high + low + close) / 4, 4)
    volume = rng.integers(10_000, 5_000_000, size=close.shape)
    transactions = rng.integers(100, 50_000, size=close.shape)
    return Bars(names, days, open_, high, low, close, volume, transactions, vwap)


def day_path(root: str, day: np.datetime64) -> str:
    s = str(day)
    return os.path.join(root, s[:4], s[5:7], f"{s}.csv.gz")


def write_day_file(root: str, bars: Bars, di: int) -> None:
    """Write day ``di`` as one gzip CSV; the layout alternates by day."""
    day = bars.days[di]
    ns = int(day.astype("datetime64[ns]").astype(np.int64)) + OPEN_OFFSET_NS
    lines: list[str]
    if di % 2 == 0:
        lines = [LONG_HEADER]
        for ti, t in enumerate(bars.tickers):
            sym = t.lower() if ti % 3 == 0 else t
            lines.append(
                f"{sym},{bars.volume[di, ti]},{bars.open[di, ti]:.2f},{bars.close[di, ti]:.2f},"
                f"{bars.high[di, ti]:.2f},{bars.low[di, ti]:.2f},{ns},{bars.transactions[di, ti]}"
            )
    else:
        ms = ns // 1_000_000
        lines = [SHORT_HEADER]
        for ti, t in enumerate(bars.tickers):
            lines.append(
                f"{t},{ms},{bars.open[di, ti]:.2f},{bars.high[di, ti]:.2f},{bars.low[di, ti]:.2f},"
                f"{bars.close[di, ti]:.2f},{bars.volume[di, ti]},{bars.transactions[di, ti]},"
                f"{bars.vwap[di, ti]:.4f}"
            )
    path = day_path(root, day)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path, "wt") as fh:
        fh.write("\n".join(lines) + "\n")


def write_flatfiles(root: str, bars: Bars, first: int, last: int) -> None:
    """Write days ``first..last`` inclusive."""
    for di in range(first, last + 1):
        write_day_file(root, bars, di)


@dataclass(frozen=True)
class Request:
    """One ``load_series`` call: ``kind`` is point or range; the load covers
    day indexes ``first..last`` inclusive."""

    kind: str
    tickers: tuple[str, ...]
    first: int
    last: int


def load_requests(
    seed: int,
    stream: int,
    bars: Bars,
    present: int,
    kinds: tuple[str, ...],
    range_tickers: int,
) -> list[Request]:
    """Seeded loads over a lake holding day indexes ``0..present-1``, one
    per entry of ``kinds``. A range load reads ``range_tickers`` tickers
    over every day present; a point load reads one ticker over a window of
    at most one month (21 trading days) ending on a day in the lake.
    ``stream`` keeps the warm-up's loads and each cycle's loads apart."""
    rng = np.random.default_rng([seed, stream])
    out: list[Request] = []
    for kind in kinds:
        if kind == "range":
            picks = rng.choice(len(bars.tickers), size=range_tickers, replace=False)
            out.append(Request("range", tuple(sorted(bars.tickers[p] for p in picks)), 0, present - 1))
        else:
            last = int(rng.integers(0, present))
            first = max(0, last - int(rng.integers(0, 21)))
            t = bars.tickers[int(rng.integers(0, len(bars.tickers)))]
            out.append(Request("point", (t,), first, last))
    return out


# --------------------------------------------------------------------------
# Engine tables (registry plans and the corpus command)
# --------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _documents(rng: np.random.Generator, n: int):
    import pandas as pd

    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 90)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts of the generated engine tables at ``scale`` (1.0 ~ the
    test data's sf1: 6M lineitem rows)."""
    orders = max(100, int(1_500_000 * scale))
    return {
        "orders": orders,
        "lineitem": orders * 4,
        "customer": max(50, int(150_000 * scale)),
        "part": max(50, int(200_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "events": max(1000, int(1_000_000 * scale)),
        "documents": max(200, int(50_000 * scale)),
        # the IVF plans need a vector at every strided id of 16 lists
        "embeddings": max(500, int(20_000 * scale)),
    }


def write_engine_tables(root: str, seed: int, scale: float) -> None:
    """The ten test-data tables at ``scale``, one parquet file each."""
    import pandas as pd

    rng = np.random.default_rng(seed + 2)
    n = table_sizes(scale)
    n_orders, n_line, n_cust = n["orders"], n["lineitem"], n["customer"]
    n_part, n_supp, n_events = n["part"], n["supplier"], n["events"]
    n_docs, n_emb = n["documents"], n["embeddings"]
    epoch = np.datetime64("1995-01-01")
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adjectives = ["small", "red", "blue", "green", "large", "steel", "brass", "tiny"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "plate", "pipe", "valve"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": (epoch + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": (epoch + rng.integers(1, 2500, n_line).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(150, n_events // 66), n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )
    os.makedirs(root, exist_ok=True)
    for name, df in t.items():
        df.to_parquet(os.path.join(root, f"{name}.parquet"), index=False)
