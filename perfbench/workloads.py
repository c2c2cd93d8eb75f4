"""The benchmark's two workloads. Each is a fixed sequence of operations
(one *cycle*) that calls the program's public functions, checks every
result against the generator's truth or the DuckDB oracle, and records
one latency per operation.

- ``lake_build_serve``: the paper's bar-lake journey. The warm-up builds
  an unadjusted and an adjusted lake from seeded gzip day files
  (``read_bar_flatfiles`` -> ``write_lake`` -> ``pull_*`` -> ``read_lake``
  -> ``adjust_bars`` -> ``write_lake``). One cycle is the daily update
  (the next day's file appended, the adjusted lake rebuilt) followed by
  a seeded closed loop of point and range loads.
- ``registry_corpus``: the engine's operator families. One cycle runs
  four ``bench=True`` registry plans into the ``noop`` sink and then the
  ``corpus`` command in-process, over seeded tables shaped like the test data.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import hashlib
import io
import math
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass
from decimal import Decimal

import gen


@dataclass
class Op:
    kind: str
    seconds: float
    cpu_s: float
    ok: bool


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it:
    the driver JVM (which runs the local executors) and Spark's Python
    workers. Time the hypervisor gives to other guests is not in it."""
    ppid: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process ended while we listed
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        ppid[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    below: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        below.setdefault(parent, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack += below.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and CPU time of one operation."""

    def __init__(self) -> None:
        self.t0, self.c0 = time.perf_counter(), tree_cpu_s()

    def op(self, kind: str, ok: bool) -> Op:
        return Op(kind, time.perf_counter() - self.t0, tree_cpu_s() - self.c0, ok)


def _parquet_files(path: str) -> set[str]:
    return {
        os.path.join(d, f) for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    }


def canonical_rows(cols: list[str], rows) -> list[tuple]:
    """Rows with columns sorted by name, floats at %.6f and None/NaN as
    NULL, sorted: the form the oracle-parity checks compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, float):
            return "NULL" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def _close_enough(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


class LakeBuildServe:
    name = "lake_build_serve"
    TICKERS = 40
    #: January 2023 up to the 30th: one ticker-month partition per ticker
    PREBUILT_DAYS = 21
    #: one day file arrives per cycle; a run stops once they are used up
    MAX_CYCLES = 8
    #: the closed loop of loads that follows each daily update
    LOADS = ("point", "point", "range", "point", "point", "range")
    RANGE_TICKERS = 10

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        inputs = os.path.join(work, "inputs")
        self.src = os.path.join(inputs, "flatfiles")
        self.appends = os.path.join(inputs, "appends")
        self.lake = os.path.join(work, "lake")
        self.bars = gen.make_bars(seed, self.TICKERS, self.PREBUILT_DAYS + self.MAX_CYCLES)
        #: days the lake holds; the update of each cycle adds one
        self.present = self.PREBUILT_DAYS
        #: canonical hash of the adjusted lake after each update: the same
        #: seed gives the same hashes on every run
        self.adjusted_md5: dict[str, str] = {}
        self.failures: list[str] = []

    def generate(self) -> None:
        shutil.rmtree(os.path.join(self.work, "inputs"), ignore_errors=True)
        gen.write_flatfiles(self.src, self.bars, 0, self.PREBUILT_DAYS - 1)
        for di in range(self.PREBUILT_DAYS, len(self.bars.days)):
            gen.write_day_file(self.appends, self.bars, di)

    def bind(self, spark, tracer) -> None:
        from polygon_io_data_ingestion_pipeline_spark.sources import series

        self.spark, self.tr = spark, tracer
        if tracer.enabled:
            # load_series reads both lakes through read_lake; give those
            # calls their own lake.read spans
            read_lake = series.read_lake

            def traced_read_lake(*args, **kwargs):
                with tracer.span("lake.read", "read_lake"):
                    return read_lake(*args, **kwargs)

            series.read_lake = traced_read_lake

    # -- operations ---------------------------------------------------------

    def _write(self, df, path: str, label: str, mode: str = "overwrite") -> None:
        from polygon_io_data_ingestion_pipeline_spark.sources.lake import write_lake

        before = _parquet_files(path) if self.tr.enabled else set()
        with self.tr.span("lake.write", label) as s:
            write_lake(df, path, tf="day", mode=mode)
        if s is not None:
            # every write names its files afresh, overwrites included
            s.extra["files"] = len(_parquet_files(path) - before)

    def ingest(self, glob: str, files: int, mode: str) -> None:
        """Day flat files into the unadjusted lake."""
        from polygon_io_data_ingestion_pipeline_spark.sources.csv_bars import read_bar_flatfiles

        with self.tr.span("csv_bars", "read_bar_flatfiles") as s:
            bars = read_bar_flatfiles(self.spark, glob, tf="day")
        if s is not None:
            s.extra["files"] = files
        self._write(bars, f"{self.lake}/unadjusted", f"write_lake:unadjusted:{mode}", mode=mode)

    def adjust(self) -> None:
        """Refdata pulls, then the adjusted lake rebuilt from the whole
        unadjusted lake."""
        from pyspark.sql import functions as F

        from polygon_io_data_ingestion_pipeline_spark.operators.factors import adjust_bars
        from polygon_io_data_ingestion_pipeline_spark.sources.lake import read_lake
        from polygon_io_data_ingestion_pipeline_spark.sources.rest import (
            pull_dividends,
            pull_security_master,
            pull_splits,
            ticker_universe,
        )

        spark, tr, out = self.spark, self.tr, self.lake
        with tr.span("rest", "pull_refdata") as s:
            uni = ticker_universe(spark, self.bars.tickers)
            for name, pull in (
                ("stock_splits", pull_splits),
                ("cash_dividends", pull_dividends),
                ("security_master", pull_security_master),
            ):
                pull(uni).write.mode("overwrite").parquet(f"{out}/refdata/{name}.parquet")
        if s is not None:
            s.extra["calls"] = 3 * len(self.bars.tickers)
        with tr.span("lake.read", "read_lake"):
            unadjusted = read_lake(spark, f"{out}/unadjusted")
        with tr.span("factors", "adjust_bars"):
            ref = {
                n: spark.read.parquet(f"{out}/refdata/{n}.parquet")
                for n in ("stock_splits", "cash_dividends", "security_master")
            }
            adjusted = adjust_bars(
                unadjusted, ref["security_master"], ref["stock_splits"], ref["cash_dividends"]
            )
            adjusted = adjusted.withColumn("year", F.year("datetime")).withColumn(
                "month", F.month("datetime")
            )
            self._write(adjusted, f"{out}/adjusted", "write_lake:adjusted")

    def check_lake(self, label: str) -> bool:
        """Row counts and per-ticker Σclose of the unadjusted lake against
        the truth, the adjusted lake's row count, and its canonical hash
        kept by ``label``."""
        from pyspark.sql import functions as F

        from polygon_io_data_ingestion_pipeline_spark.sources.lake import read_lake

        bars, last = self.bars, self.present - 1
        per_ticker = {
            r["ticker"]: (r["n"], r["s"])
            for r in read_lake(self.spark, f"{self.lake}/unadjusted")
            .groupBy("ticker")
            .agg(F.count("*").alias("n"), F.sum("close").alias("s"))
            .collect()
        }
        ok = set(per_ticker) == set(bars.tickers)
        for t in bars.tickers if ok else ():
            n, s = bars.close_sum([t], 0, last)
            ok &= per_ticker[t][0] == n and _close_enough(per_ticker[t][1], s)
        adj = read_lake(self.spark, f"{self.lake}/adjusted")
        cols = sorted(adj.columns)
        rows = canonical_rows(cols, adj.select(*cols).collect())
        ok &= len(rows) == len(bars.tickers) * self.present
        self.adjusted_md5[label] = hashlib.md5(repr(rows).encode()).hexdigest() if ok else ""
        if not ok:
            self.failures.append(f"{label}: lake differs from the truth")
        return ok

    def lake_op(self, kind: str, label: str, step, check: bool = True) -> Op:
        sw = Stopwatch()
        try:
            step()
            op = sw.op(kind, True)
            op.ok = not check or self.check_lake(label)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failures.append(f"{label}: {type(exc).__name__}: {exc}"[:300])
            op = sw.op(kind, False)
        self.tr.probe_persisted(kind)
        return op

    def prebuild(self) -> None:
        """The bulk journey over every prebuilt day file."""
        shutil.rmtree(self.lake, ignore_errors=True)
        self.ingest(f"{self.src}/*/*/*.csv.gz", self.PREBUILT_DAYS, "overwrite")
        self.adjust()

    def update(self) -> None:
        """The daily journey: the next day's file is appended to the
        unadjusted lake, then the adjusted lake is rebuilt."""
        path = gen.day_path(self.appends, self.bars.days[self.present])
        self.ingest(path, 1, "append")
        self.present += 1
        self.adjust()

    def load(self, req: gen.Request, i: int) -> Op:
        from polygon_io_data_ingestion_pipeline_spark.sources.series import load_series

        tr, days = self.tr, self.bars.days
        sw = Stopwatch()
        try:
            with tr.span("series.load", "load_series", request=i):
                df = load_series(
                    self.spark,
                    f"{self.lake}/unadjusted",
                    f"{self.lake}/adjusted",
                    "day",
                    tickers=list(req.tickers),
                    start=str(days[req.first]),
                    end=str(days[req.last]),
                )
            with tr.span("series.collect", "collect", request=i) as s:
                rows = df.select("close").collect()
            if s is not None:
                s.extra["rows"] = len(rows)
            op = sw.op(req.kind, True)
            n, total = self.bars.close_sum(list(req.tickers), req.first, req.last)
            op.ok = len(rows) == n and _close_enough(sum(r["close"] for r in rows), total)
            if not op.ok:
                self.failures.append(f"{req.kind} load {req}: result differs from the truth")
        except Exception as exc:  # noqa: BLE001
            self.failures.append(f"{req.kind}: {type(exc).__name__}: {exc}"[:300])
            op = sw.op(req.kind, False)
        self.tr.probe_persisted(req.kind)
        return op

    def requests(self, stream: int, present: int, kinds: tuple[str, ...]) -> list[gen.Request]:
        return gen.load_requests(self.seed, stream, self.bars, present, kinds, self.RANGE_TICKERS)

    def warm_up(self) -> list[Op]:
        """The prebuild of the lake (cold: the first Spark work of the
        session), then a point load, so the timed cycle finds every code
        path compiled. The prebuilt days are checked with the first
        update's lake."""
        ops = [self.lake_op("prebuild", "prebuild", self.prebuild, check=False)]
        reqs = self.requests(0, self.present, ("point",))
        return ops + [self.load(req, i) for i, req in enumerate(reqs)]

    def cycle(self, k: int) -> list[Callable[[], Op]]:
        """The daily update, then the loads, drawn for the lake as the
        update leaves it."""
        reqs = self.requests(k + 1, self.present + 1, self.LOADS)
        update = functools.partial(self.lake_op, "update", f"update{k}", self.update)
        return [update] + [functools.partial(self.load, req, i) for i, req in enumerate(reqs)]

    def detail(self) -> dict:
        return {"adjusted_lake_md5": self.adjusted_md5}


class RegistryCorpus:
    name = "registry_corpus"
    #: every cycle runs the same inputs, so a run may repeat it freely
    MAX_CYCLES = math.inf
    #: one bench plan per operator family: TPC-H scan/aggregate, n-gram
    #: Jaccard dedup, NB classifier, the Arrow image lane. q01 and the
    #: Jaccard and NB lines are the ones the stage-count work targets;
    #: factor windows run in the other workload's build, text scrubbing
    #: and MinHash dedup in the corpus command.
    PLANS = (
        "tpch_q01_pricing_summary",
        "dedup_ngram_jaccard_pairs",
        "docs_nb_quality_classifier",
        "img_dhash_dup_pairs",
    )
    #: 500 documents and 60k lineitem rows, the shape of the test data's sf0.01
    SCALE = 0.01
    TABLES = (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.tables = os.path.join(work, "inputs", "tables")
        self.corpus_out = os.path.join(work, "corpus_out")
        self.accounting: str | None = None
        self.failures: list[str] = []

    def generate(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)
        gen.write_engine_tables(self.tables, self.seed, self.SCALE)

    def bind(self, spark, tracer) -> None:
        self.spark, self.tr = spark, tracer

    def plan_op(self, name: str, request: int) -> Op:
        from polygon_io_data_ingestion_pipeline_spark.plans.queries import REGISTRY

        sw = Stopwatch()
        try:
            with self.tr.span("registry", name, request=request):
                REGISTRY[name].fn(self.spark, self.tables).write.format("noop").mode(
                    "overwrite"
                ).save()
            op = sw.op(name, True)
        except Exception as exc:  # noqa: BLE001
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            op = sw.op(name, False)
        self.tr.probe_persisted(name)
        return op

    def corpus_op(self, request: int) -> Op:
        from polygon_io_data_ingestion_pipeline_spark.cli import main

        argv = [
            "corpus",
            "--src",
            os.path.join(self.tables, "documents.parquet"),
            "--input-format",
            "parquet",
            "--line-dedup",
            "--fuzzy-dedup",
            "0.8",
            "--out",
            self.corpus_out,
        ]
        buf = io.StringIO()
        sw = Stopwatch()
        try:
            with self.tr.span("corpus", "cli.main corpus", request=request):
                with contextlib.redirect_stdout(buf):
                    rc = main(argv)
            op = sw.op("corpus", True)
            op.ok = rc == 0 and self.check_corpus(buf.getvalue())
        except Exception as exc:  # noqa: BLE001
            self.failures.append(f"corpus: {type(exc).__name__}: {exc}"[:300])
            op = sw.op("corpus", False)
        self.tr.probe_persisted("corpus")
        return op

    def check_corpus(self, printed: str) -> bool:
        """The accounting line is identical on every run of the same
        input, reads every document and splits exactly the kept ones."""
        line = next((ln for ln in printed.splitlines() if ln.startswith("corpus -> ")), "")
        fields = dict(
            kv.split("=", 1) for kv in line.split(": ", 1)[-1].split(" ", 3) if "=" in kv
        )
        ok = bool(line)
        if ok:
            splits = ast.literal_eval(fields.get("splits", "{}"))
            ok = (
                int(fields.get("read", -1)) == gen.table_sizes(self.SCALE)["documents"]
                and int(fields.get("quarantined", -1)) == 0
                and sum(splits.values()) == int(fields.get("unique_kept", -1))
            )
        if self.accounting is None:
            self.accounting = line
        ok &= line == self.accounting
        if not ok:
            self.failures.append(f"corpus accounting: {line!r}")
        return ok

    def warm_up(self) -> list[Op]:
        """Each plan once, collected and hash-compared with its DuckDB
        oracle over the same generated tables, then one corpus run. Only
        the Spark work is timed."""
        import duckdb

        from polygon_io_data_ingestion_pipeline_spark.plans.queries import REGISTRY

        ops: list[Op] = []
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
                )
            for name in self.PLANS:
                sw = Stopwatch()
                try:
                    df = REGISTRY[name].fn(self.spark, self.tables)
                    rows = [tuple(r) for r in df.collect()]
                    op = sw.op(name, True)
                    cur = con.execute(REGISTRY[name].oracle)
                    op.ok = canonical_rows(df.columns, rows) == canonical_rows(
                        [d[0] for d in cur.description], cur.fetchall()
                    )
                    if not op.ok:
                        self.failures.append(f"{name}: result differs from its oracle")
                except Exception as exc:  # noqa: BLE001
                    self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    op = sw.op(name, False)
                ops.append(op)
        finally:
            con.close()
        return ops + [self.corpus_op(len(self.PLANS))]

    def cycle(self, k: int) -> list[Callable[[], Op]]:
        plans = [functools.partial(self.plan_op, name, i) for i, name in enumerate(self.PLANS)]
        return plans + [functools.partial(self.corpus_op, len(self.PLANS))]

    def detail(self) -> dict:
        return {"corpus_accounting": self.accounting}


WORKLOADS = {w.name: w for w in (LakeBuildServe, RegistryCorpus)}
REGISTRY_PLANS = RegistryCorpus.PLANS
