"""Incremental rollup maintenance: keep a keyed aggregate table current
as fact shards arrive, WITHOUT rescanning history.

The 100 TB pattern: dashboards and feature stores read a per-key
aggregate (counts, sums, means, mins/maxes, distinct counts) of an
append-only fact stream. A full ``groupBy`` recompute costs the whole
corpus per refresh; maintaining the aggregate incrementally costs one
partial aggregation of the NEW shard plus a merge against a table that
is O(distinct keys) — the materialized-view maintenance move,
restricted to MERGEABLE aggregates:

- count/sum (mean = sum/count derives for free),
- min/max (min of mins, max of maxes),
- distinct counts as Datasketches HLL cells (``hll_sketch_agg`` per
  shard, ``hll_union_agg`` at merge, ``hll_sketch_estimate`` at read) —
  the sketch binary, not the estimate, is what the table stores, so
  cells from any number of shards union losslessly,
- distributions as FIXED-BIN HISTOGRAM cells (``array<long>`` of bin
  counts over a declared [lo, hi) range): per-shard bin counts are
  ``bins`` conditional sums (whole-stage codegen, map-side partial),
  and the merge is an element-wise sum — exactly mergeable, unlike
  ``percentile_approx`` whose intermediate Spark cannot persist.
  Quantiles/CDFs read out of the cells by linear interpolation
  (:func:`histogram_quantile`), with error bounded by bin width,
- uniform samples as BOTTOM-K HASH-SAMPLE cells (``array<struct<tag,
  val>>`` of the k rows whose ``md5(id)`` tag sorts smallest per key):
  the tag is a deterministic uniform draw per row, so the k smallest
  tags are a uniform k-row sample without replacement — and the merge
  is "k smallest of the union of per-shard k-smallest", which equals
  the global bottom-k EXACTLY, making the cell mergeable with no loss
  and no declared value range (the histogram's one requirement).
  Per-shard cost is a rank window on the same key partitioning the
  groupBy already needs (one exchange, sort spills to disk) and a
  collect bounded to k rows per key; :func:`sample_quantile` reads
  type-7 interpolated quantiles out of a cell.

- frequent items as TOP-K HEAVY-HITTER cells (``struct<items:
  array<struct<item,cnt>>, err>`` of the m most frequent item values
  per key): per-shard counts are an exact distributed groupBy truncated
  to the top m (rank window), with ``err`` = the largest truncated
  count; the merge sums upper-bound counts (an item absent from one
  side contributes that side's ``err``) and re-truncates — the
  mergeable-summaries contract: every stored ``cnt`` is an upper bound
  within ``err`` of the true count, any item whose true count exceeds
  ``err`` is guaranteed present, and when ``m`` covers a key's distinct
  items the cell is simply EXACT (err=0).

Gotcha: per-KEY sample cells answer per-key quantiles; for a quantile
over an arbitrary filter you still want histogram cells or a full scan.

Exactly-once via an ATOMIC versioned commit (the table-format move,
in miniature): version ``N`` of the rollup is the pair
(``table_v{N}/`` parquet dir, ``_commit_v{N}.json`` pointer). The
commit file carries the full applied-shard ledger and is published with
a single atomic rename — so the table contents and the ledger can never
disagree. A crash at ANY point leaves either version ``N-1`` fully
intact (an orphan ``table_v{N}`` dir is invisible until its commit
exists, and the retried shard simply overwrites it) or version ``N``
fully committed (the replayed shard is a ledger no-op). The previous
design overwrote ``table/`` in place and appended to a separate ledger
file: a crash between those two steps merged the shard into the table
while leaving it out of the ledger, and the foreachBatch replay then
double-counted it permanently.

Updates run under the lake maintenance lease
(:mod:`..sources.lease`), so two concurrent updaters cannot both merge
against the same version and each lose the other's delta. The ledger
inside the commit file grows by one id per shard — O(shards ever
applied); cap it upstream (e.g. date-bucketed shard ids with a
retention watermark) if shards arrive forever.
"""

from __future__ import annotations

import glob
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.lease import LakeLease

# 6+ digits: %06d zero-pads the common range but versions past 999999
# grow a seventh digit — the pattern must keep matching them (readers
# compare PARSED ints, never path strings, for the same reason)
_COMMIT_RE = re.compile(r"_commit_v(\d{6,})\.json$")


def _commit_name(version: int) -> str:
    return f"_commit_v{version:06d}.json"


def _table_name(version: int) -> str:
    return f"table_v{version:06d}"


def _latest_commit(rollup_path: str) -> dict | None:
    """The highest-numbered commit file's contents, or None (cold).

    Underscore-prefixed names are invisible to Spark's parquet readers,
    and only a completed atomic rename can produce a ``_commit_v*.json``
    — so the latest commit is always internally consistent."""
    best_v, best_path = -1, None
    for p in glob.glob(os.path.join(rollup_path, "_commit_v*.json")):
        m = _COMMIT_RE.search(p)
        if m and int(m.group(1)) > best_v:
            best_v, best_path = int(m.group(1)), p
    if best_path is None:
        # Cold means COLD: a directory from the pre-versioned layout
        # (table/ + _applied_shards.json) holds real accumulated state
        # that must never be silently replaced by one shard's worth of
        # data — refuse and point at the migration instead.
        legacy = [
            n
            for n in ("table", "_applied_shards.json")
            if os.path.exists(os.path.join(rollup_path, n))
        ]
        if legacy:
            raise ValueError(
                f"{rollup_path} holds a pre-versioned rollup layout "
                f"({', '.join(legacy)}) with no _commit_v*.json; refusing "
                "to cold-start over it. Migrate once: rename table/ to "
                "table_v000001/ and publish _commit_v000001.json with the "
                "old ledger as applied_shards and the rollup's spec."
            )
        return None
    with open(best_path) as fh:
        return json.load(fh)


def _publish_commit(rollup_path: str, commit: dict) -> None:
    """Atomically publish a commit file: full write to a temp name, then
    ``os.replace`` — the final name never exists half-written."""
    final = os.path.join(rollup_path, _commit_name(commit["version"]))
    tmp = final + ".tmp." + uuid.uuid4().hex
    with open(tmp, "w") as fh:
        fh.write(json.dumps(commit))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def _gc(rollup_path: str, latest_version: int) -> None:
    """Drop versions older than ``latest-1`` (one previous version is
    kept for readers that resolved the pointer just before the swap)."""
    import shutil

    for p in glob.glob(os.path.join(rollup_path, "_commit_v*.json")):
        m = _COMMIT_RE.search(p)
        if m and int(m.group(1)) < latest_version - 1:
            try:
                os.remove(p)
            except OSError:
                pass
    for p in glob.glob(os.path.join(rollup_path, "table_v*")):
        m = re.search(r"table_v(\d{6,})$", p)
        if m and int(m.group(1)) < latest_version - 1:
            shutil.rmtree(p, ignore_errors=True)


_MAX_HIST_BINS = 128
_MAX_SAMPLE_K = 4096
_MAX_TOPK = 1024


def _nullsafe_join(left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner") -> DataFrame:
    """Equi-join where a NULL key value matches NULL (groupBy
    semantics).  The topk cell pipeline joins frames produced by
    groupBy — which puts NULL key values in a real group — and
    grouping-set subtotal rows carry NULLed-out keys by construction; a
    plain USING join silently drops both."""
    import functools

    r = right
    for k in keys:
        r = r.withColumnRenamed(k, f"__r_{k}")
    cond = functools.reduce(
        lambda a, b: a & b,
        [left[k].eqNullSafe(r[f"__r_{k}"]) for k in keys],
    )
    return left.join(r, cond, how).drop(*[f"__r_{k}" for k in keys])


def _empty_topk_cell():
    return F.struct(
        F.expr("CAST(array() AS array<struct<item: string, cnt: bigint>>)").alias(
            "items"
        ),
        F.lit(0).cast("long").alias("err"),
    )


def _topk_truncate(cnts: DataFrame, part_cols: list[str], m) -> DataFrame:
    """(part_cols..., item, cnt) -> (part_cols..., cell): keep the m
    largest counts per group (count desc, item asc — deterministic),
    err = the largest truncated count (0 when nothing truncated).
    ``m`` may be an int or a per-row Column (the multi-column partial
    passes each tracked column's own cap).  All frames here are
    post-aggregation (O(distinct groups x items)), so the rank window
    is cheap and the collect is bounded by m."""
    from pyspark.sql import Window

    m_expr = F.lit(m) if isinstance(m, int) else m
    w = Window.partitionBy(*part_cols).orderBy(F.desc("cnt"), F.asc("item"))
    ranked = cnts.withColumn("_rk", F.row_number().over(w)).withColumn("_m", m_expr)
    return ranked.groupBy(*part_cols).agg(
        F.struct(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_rk") <= F.col("_m"),
                        F.struct(F.col("item"), F.col("cnt").cast("long").alias("cnt")),
                    )
                )
            ).alias("items"),
            F.coalesce(
                F.max(F.when(F.col("_rk") > F.col("_m"), F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("err"),
        ).alias("cell")
    )


def _topk_partial_multi(
    src: DataFrame, keys: list[str], topk_cols: dict[str, int]
) -> DataFrame:
    """Shard-level top-m summaries for EVERY tracked column in one pass:
    the columns melt map-side into (keys, col, item) rows, one count
    aggregation and one rank window (both partitioned by column+keys)
    serve all of them, and a pivot folds the cells back to one row per
    key — two shuffles of the fact shard total, independent of how many
    columns are tracked.  NULL items are never counted.  Keys with no
    countable items for a column get a NULL cell (callers coalesce to
    the empty cell)."""
    cols = list(topk_cols)
    # the melt tag is the OUTPUT column name (topk_{c}), not the raw
    # column name: pivoting on the raw name would collide with a key
    # column when a key itself is tracked (top regions per region-cube)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(f"topk_{c}").alias("col"),
                    F.col(c).cast("string").alias("item"),
                )
                for c in cols
            ]
        )
    ).alias("_p")
    cnts = (
        src.select(*keys, pairs)
        .select(
            *keys,
            F.col("_p")["col"].alias("_tcol"),
            F.col("_p")["item"].alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .groupBy(*keys, "_tcol", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m_of = F.coalesce(
        *[
            F.when(F.col("_tcol") == f"topk_{c}", F.lit(m))
            for c, m in topk_cols.items()
        ]
    )
    cells = _topk_truncate(cnts, [*keys, "_tcol"], m_of)
    return (
        cells.groupBy(*keys)
        .pivot("_tcol", [f"topk_{c}" for c in cols])
        .agg(F.first("cell"))
    )


def _topk_partial(src: DataFrame, keys: list[str], c: str, m: int) -> DataFrame:
    """Shard-level top-m summary of one column ``c`` (the single-column
    face of :func:`_topk_partial_multi`)."""
    return _topk_partial_multi(src, keys, {c: m})


def _topk_merge(both: DataFrame, keys: list[str], c: str, m: int) -> DataFrame:
    """Merge <=2 summaries per key (table ∪ delta) into one.

    Upper-bound combine (Agarwal et al., "Mergeable Summaries"): for
    each item, every summary contributes its stored count when the item
    is present and its ``err`` when absent — so the combined ``cnt``
    stays an upper bound of the true count.  The new ``err`` bounds any
    ABSENT item: max(sum of input errs, largest count truncated now).
    Inputs and outputs are O(keys x m) frames; nothing here touches
    fact rows."""
    cell = F.col(f"topk_{c}")
    per_key = both.groupBy(*keys).agg(
        F.sum(cell["err"]).cast("long").alias("_err_total"),
    )
    exploded = both.select(
        *keys,
        cell["err"].alias("_src_err"),
        F.explode_outer(cell["items"]).alias("_it"),
    )
    combined = _nullsafe_join(
        exploded.filter(F.col("_it").isNotNull())
        .groupBy(*keys, F.col("_it")["item"].alias("item"))
        .agg(
            F.sum(F.col("_it")["cnt"]).cast("long").alias("_present_cnt"),
            F.sum("_src_err").cast("long").alias("_present_err"),
        ),
        per_key,
        keys,
        # present summaries contribute their counts; absent ones their err
    ).select(
        *keys,
        "item",
        (
            F.col("_present_cnt") + (F.col("_err_total") - F.col("_present_err"))
        ).alias("cnt"),
        "_err_total",
    )
    merged = _topk_truncate(combined, keys, m)
    # new err must also cover items absent from EVERY input summary
    merged = (
        _nullsafe_join(merged, per_key.select(*keys, "_err_total"), keys)
        .select(
            *keys,
            F.struct(
                F.col("cell")["items"].alias("items"),
                F.greatest(F.col("cell")["err"], F.col("_err_total"))
                .cast("long")
                .alias("err"),
            ).alias(f"topk_{c}"),
        )
    )
    return merged


def _with_sample_ranks(
    df: DataFrame, keys: list[str], sample_cols: dict[str, tuple[str, int]]
) -> DataFrame:
    """Attach ``_tag_{c}`` (md5 of the row id, NULL when the value is
    NULL) and ``_rk_{c}`` (rank of the tag within the key group) for
    every sampled column — the pre-aggregation step of the bottom-k
    sample cell.  All rank windows share the key partitioning, so
    Catalyst plans ONE exchange (reused by the following groupBy) with
    one in-partition sort per sampled column."""
    from pyspark.sql import Window

    for c, (id_col, _k) in sample_cols.items():
        tag = f"_tag_{c}"
        df = df.withColumn(
            tag,
            F.when(F.col(c).isNotNull(), F.md5(F.col(id_col).cast("string"))),
        )
        df = df.withColumn(
            f"_rk_{c}",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.asc_nulls_last(tag))
            ),
        )
    return df


def _hist_bin_expr(col: str, lo: float, hi: float, bins: int):
    """Clamped bin index of ``col`` over [lo, hi): below-range rows land
    in bin 0, above-range in bin ``bins-1`` (no silent drops), NULLs in
    no bin."""
    width = (hi - lo) / bins
    raw = F.floor((F.col(col) - F.lit(float(lo))) / F.lit(width)).cast("int")
    # least/greatest SKIP nulls (they return the extreme of the non-null
    # operands), so clamp first and null-guard after — otherwise every
    # NULL value would land in bin 0
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
    return F.when(F.col(col).isNotNull(), clamped)


def _agg_exprs(
    sum_cols: list[str],
    min_cols: list[str],
    max_cols: list[str],
    distinct_cols: list[str],
    hist_cols: dict[str, tuple[float, float, int]],
    merge: bool,
    sample_cols: dict[str, tuple[str, int]] | None = None,
) -> list:
    """Partial-aggregate (shard) or merge (table ∪ delta) expressions —
    the two levels of every mergeable aggregate.

    Histogram cells: the partial level is ``bins`` conditional sums
    packed into one array (all whole-stage codegen, map-side combined);
    the merge level sums the arrays element-wise.  ``bins`` is capped at
    ``_MAX_HIST_BINS`` so the expression count stays codegen-friendly.

    Sample cells: the partial level collects the <=k rows the
    :func:`_with_sample_ranks` window pre-marked (bounded memory; the
    frame must carry ``_tag_{c}``/``_rk_{c}``); the merge level takes
    the k smallest of the flattened union — at most 2k structs per key
    in flight, and "bottom-k of bottom-ks" is exactly the global
    bottom-k, so folds lose nothing."""
    sample_cols = sample_cols or {}
    if not merge:
        exprs = (
            [F.count(F.lit(1)).alias("n_rows")]
            + [F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols]
            + [F.min(F.col(c)).alias(f"min_{c}") for c in min_cols]
            + [F.max(F.col(c)).alias(f"max_{c}") for c in max_cols]
            + [F.hll_sketch_agg(F.col(c)).alias(f"hll_{c}") for c in distinct_cols]
        )
        for c, (lo, hi, bins) in hist_cols.items():
            b = _hist_bin_expr(c, lo, hi, bins)
            exprs.append(
                F.array(
                    *[
                        F.sum(F.when(b == i, F.lit(1)).otherwise(F.lit(0))).cast("long")
                        for i in range(bins)
                    ]
                ).alias(f"hist_{c}")
            )
        for c, (_id_col, k) in sample_cols.items():
            keep = (F.col(f"_rk_{c}") <= k) & F.col(f"_tag_{c}").isNotNull()
            exprs.append(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            keep,
                            F.struct(
                                F.col(f"_tag_{c}").alias("tag"),
                                F.col(c).cast("double").alias("val"),
                            ),
                        )
                    )
                ).alias(f"smp_{c}")
            )
        return exprs
    exprs = (
        [F.sum("n_rows").alias("n_rows")]
        + [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
        + [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
        + [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
        + [F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}") for c in distinct_cols]
    )
    for c, (_lo, _hi, bins) in hist_cols.items():
        exprs.append(
            F.array(
                *[F.sum(F.element_at(F.col(f"hist_{c}"), i + 1)) for i in range(bins)]
            ).alias(f"hist_{c}")
        )
    for c, (_id_col, k) in sample_cols.items():
        exprs.append(
            F.slice(
                F.array_sort(F.flatten(F.collect_list(F.col(f"smp_{c}")))), 1, k
            ).alias(f"smp_{c}")
        )
    return exprs


def sample_quantile(sample_col, prob: float):
    """Column expression: the ``prob``-quantile of a bottom-k sample
    cell, linear (type-7) interpolation over the sorted sampled values —
    the same estimator as ``quantile_cont``/``numpy.quantile``, so
    results are comparable across engines given the same sample.
    Empty cells yield NULL.  Exact when the key holds <= k rows;
    otherwise a uniform-sample estimate with error O(1/sqrt(k))."""
    col = sample_col if not isinstance(sample_col, str) else F.col(sample_col)
    vals = F.array_sort(F.transform(col, lambda x: x["val"]))
    n = F.size(vals)
    idx = F.lit(float(prob)) * (n - 1).cast("double")
    lo_i = F.floor(idx).cast("int")
    frac = idx - lo_i.cast("double")
    xl = F.element_at(vals, lo_i + 1)
    xu = F.element_at(vals, F.least(lo_i + F.lit(2), n))
    return F.when(n > 0, xl + frac * (xu - xl))


def histogram_quantile(
    hist_col, lo: float, hi: float, bins: int, prob: float
):
    """Column expression: the ``prob``-quantile estimated from a fixed-bin
    histogram cell by linear interpolation inside the covering bin
    (error <= one bin width; exact when values are bin-uniform).

    One ``aggregate`` pass over a ``bins``-length array per key — the
    lambda runs interpreted, but only on the O(distinct keys) rollup
    frame, never the fact stream.  NULL/empty cells yield NULL."""
    width = (hi - lo) / bins
    col = hist_col if not isinstance(hist_col, str) else F.col(hist_col)
    total = F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.lit(float(prob)) * total.cast("double")
    # Fold: walk bins left->right tracking (idx, running_cum, found_idx,
    # cum_before_found, found_bin_count); the first non-empty bin whose
    # running total reaches target wins.
    acc0 = F.struct(
        F.lit(0).alias("i"),
        F.lit(0.0).alias("cum"),
        F.lit(-1).alias("fi"),
        F.lit(0.0).alias("fcum"),
        F.lit(0.0).alias("fcnt"),
    )

    def step(a, x):
        xd = x.cast("double")
        new_cum = a["cum"] + xd
        hit = (a["fi"] < 0) & (new_cum >= target) & (xd > 0)
        return F.struct(
            (a["i"] + 1).alias("i"),
            new_cum.alias("cum"),
            F.when(hit, a["i"]).otherwise(a["fi"]).alias("fi"),
            F.when(hit, a["cum"]).otherwise(a["fcum"]).alias("fcum"),
            F.when(hit, xd).otherwise(a["fcnt"]).alias("fcnt"),
        )

    def fin(a):
        frac = (target - a["fcum"]) / a["fcnt"]
        est = F.lit(float(lo)) + (
            a["fi"].cast("double") + F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        ) * F.lit(width)
        return F.when((a["cum"] > 0) & (a["fi"] >= 0), est)

    return F.aggregate(col, acc0, step, fin)


def grouping_set_id(keys: list[str], subset: list[str]) -> int:
    """Grouping-set id for ``subset`` of ``keys``: bit i set when
    ``keys[i]`` is AGGREGATED AWAY (SQL ``GROUPING_ID`` convention, so
    the full key set is 0 and the grand total is ``2**len(keys)-1``).
    Readers filter a grouping-set rollup to one subtotal level with
    ``F.col("_gid") == grouping_set_id(keys, subset)``."""
    missing = set(subset) - set(keys)
    if missing:
        raise ValueError(f"grouping set {subset} not a subset of keys {keys}")
    return sum(1 << i for i, k in enumerate(keys) if k not in subset)


def cube_sets(keys: list[str]) -> list[list[str]]:
    """Every subset of ``keys`` — the ``GROUP BY CUBE`` spec."""
    out = []
    for mask in range(1 << len(keys)):
        out.append([k for i, k in enumerate(keys) if not mask & (1 << i)])
    return out


def rollup_sets(keys: list[str]) -> list[list[str]]:
    """The prefixes of ``keys`` (incl. the grand total) — ``GROUP BY
    ROLLUP``."""
    return [keys[:i] for i in range(len(keys), -1, -1)]


def _grouping_sets_expand(
    base: DataFrame,
    keys: list[str],
    gsets: list[list[str]],
    sum_cols: list[str],
    min_cols: list[str],
    max_cols: list[str],
    distinct_cols: list[str],
    hist_cols: dict[str, tuple[float, float, int]],
    sample_cols: dict[str, tuple[str, int]],
    topk_cols: dict[str, int],
) -> DataFrame:
    """Finest-granularity partial cells -> one cell row per requested
    grouping set, tagged ``_gid``.

    Every cell family is MERGEABLE, so a subtotal cell is exactly the
    merge of the full-key cells it covers — derived here by re-running
    the merge expressions over ``base`` grouped by each set's kept
    keys.  Cost is O(|sets| x distinct keys) over an already-aggregated
    (localCheckpointed) frame; the fact shard is never rescanned per
    set.  Dropped keys become NULL literals (disambiguated from real
    NULL key values by ``_gid``, the same contract as SQL GROUPING
    SETS)."""
    key_types = {f.name: f.dataType for f in base.schema.fields if f.name in keys}
    cell_cols = [c for c in base.columns if c not in keys]
    frames = []
    for g in gsets:
        gid = grouping_set_id(keys, g)
        # the grand-total set groups by a constant helper key so the
        # topk merge (which equi-joins on the group keys) stays uniform
        gcols = g if g else ["__all"]
        b = base if g else base.withColumn("__all", F.lit(1))
        agg = b.groupBy(*gcols).agg(
            *_agg_exprs(
                sum_cols, min_cols, max_cols, distinct_cols, hist_cols,
                merge=True, sample_cols=sample_cols,
            )
        )
        for c, m in topk_cols.items():
            mrg = _topk_merge(b.select(*gcols, f"topk_{c}"), gcols, c, m)
            agg = _nullsafe_join(agg, mrg, gcols, "left").withColumn(
                f"topk_{c}", F.coalesce(F.col(f"topk_{c}"), _empty_topk_cell())
            )
        for k in keys:
            if k not in g:
                agg = agg.withColumn(k, F.lit(None).cast(key_types[k]))
        frames.append(
            agg.select(F.lit(gid).cast("int").alias("_gid"), *keys, *cell_cols)
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def update_rollup(
    spark: SparkSession,
    rollup_path: str,
    batch_df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    shard_id: str,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    hist_cols: dict[str, tuple[float, float, int]] | None = None,
    sample_cols: dict[str, tuple[str, int]] | None = None,
    topk_cols: dict[str, int] | None = None,
    grouping_sets: list[list[str]] | None = None,
) -> dict:
    """Fold one fact shard into the rollup table at ``rollup_path``.

    Returns ``{"applied": bool, "keys_touched": int}``; ``applied`` is
    False when the shard id is already in the ledger (replay no-op).
    The merge is a unionByName + re-aggregate of two partial-aggregate
    frames — both O(distinct keys), never the fact history. The column
    spec must be identical across every update of one rollup (checked
    against the committed spec).

    ``sample_cols`` maps a value column to ``(id_col, k)``: keep the k
    rows whose ``md5(id_col)`` sorts smallest per key as a uniform
    sample cell.  ``id_col`` must be row-unique ACROSS ALL SHARDS (a
    natural event id) — duplicated ids would double-enter the sample.

    ``grouping_sets`` (e.g. :func:`cube_sets`/:func:`rollup_sets`)
    maintains one cell row per requested subset of ``keys``, tagged
    with a ``_gid`` column (:func:`grouping_set_id`), so the table
    serves subtotal dashboards without re-aggregating facts.  Subtotals
    derive from the finest partials via the merge algebra — the shard
    is still scanned once — and fold across shards exactly like flat
    cells (shard-fold == full-recompute, tested)."""
    min_cols = min_cols or []
    max_cols = max_cols or []
    distinct_cols = distinct_cols or []
    hist_cols = {
        c: (float(lo), float(hi), int(bins))
        for c, (lo, hi, bins) in (hist_cols or {}).items()
    }
    sample_cols = {
        c: (str(id_col), int(k)) for c, (id_col, k) in (sample_cols or {}).items()
    }
    topk_cols = {c: int(m) for c, m in (topk_cols or {}).items()}
    for c, m in topk_cols.items():
        if not 0 < m <= _MAX_TOPK:
            raise ValueError(
                f"topk_cols[{c!r}]: need 0 < m <= {_MAX_TOPK}, got {m}"
            )
    for c, (lo, hi, bins) in hist_cols.items():
        if not (hi > lo and 0 < bins <= _MAX_HIST_BINS):
            raise ValueError(
                f"hist_cols[{c!r}]: need lo < hi and 0 < bins <= "
                f"{_MAX_HIST_BINS}, got ({lo}, {hi}, {bins})"
            )
    for c, (id_col, k) in sample_cols.items():
        if not (id_col and 0 < k <= _MAX_SAMPLE_K):
            raise ValueError(
                f"sample_cols[{c!r}]: need a non-empty id_col and "
                f"0 < k <= {_MAX_SAMPLE_K}, got ({id_col!r}, {k})"
            )
    gsets: list[list[str]] | None = None
    if grouping_sets is not None:
        if not grouping_sets:
            raise ValueError("grouping_sets: need at least one set")
        # canonicalize: key order from `keys`, dedupe by gid, sort by gid
        by_gid = {
            grouping_set_id(keys, list(g)): [k for k in keys if k in g]
            for g in grouping_sets
        }
        gsets = [by_gid[gid] for gid in sorted(by_gid)]
    spec = {
        "keys": keys,
        "sum_cols": sum_cols,
        "min_cols": min_cols,
        "max_cols": max_cols,
        "distinct_cols": distinct_cols,
        # json round-trips tuples as lists; store lists so the
        # committed-spec equality check survives a reload
        "hist_cols": {c: list(v) for c, v in hist_cols.items()},
        "sample_cols": {c: list(v) for c, v in sample_cols.items()},
        "topk_cols": topk_cols,
        "grouping_sets": (
            None if gsets is None else [grouping_set_id(keys, g) for g in gsets]
        ),
    }
    os.makedirs(rollup_path, exist_ok=True)
    with LakeLease(spark, rollup_path, holder="rollup_update"):
        latest = _latest_commit(rollup_path)
        if latest is not None:
            committed = latest.get("spec")
            # commits written before a cell family existed lack its key;
            # they are equivalent to an empty spec for that family
            if committed is not None:
                for fam in ("hist_cols", "sample_cols", "topk_cols"):
                    if fam not in committed:
                        committed = {**committed, fam: {}}
                if "grouping_sets" not in committed:
                    committed = {**committed, "grouping_sets": None}
            if committed != spec:
                raise ValueError(
                    f"rollup spec mismatch: committed {committed} "
                    f"!= requested {spec}"
                )
            if shard_id in set(latest["applied_shards"]):
                return {"applied": False, "keys_touched": 0}
        src = (
            _with_sample_ranks(batch_df, keys, sample_cols)
            if sample_cols
            else batch_df
        )
        delta = src.groupBy(*keys).agg(
            *_agg_exprs(
                sum_cols,
                min_cols,
                max_cols,
                distinct_cols,
                hist_cols,
                merge=False,
                sample_cols=sample_cols,
            )
        )
        if topk_cols:
            delta = _nullsafe_join(
                delta, _topk_partial_multi(batch_df, keys, topk_cols), keys, "left"
            )
            for c in topk_cols:
                delta = delta.withColumn(
                    f"topk_{c}", F.coalesce(F.col(f"topk_{c}"), _empty_topk_cell())
                )
        delta = delta.localCheckpoint()
        if gsets is not None:
            # subtotal cells derive from the finest partials by the
            # MERGE algebra (every cell family is mergeable), so the
            # fact shard is scanned exactly once no matter how many
            # grouping sets are maintained
            delta = _grouping_sets_expand(
                delta, keys, gsets, sum_cols, min_cols, max_cols,
                distinct_cols, hist_cols, sample_cols, topk_cols,
            ).localCheckpoint()
        group_cols = keys if gsets is None else ["_gid", *keys]
        n_touched = delta.count()
        if latest is not None:
            # A missing/corrupt table for a COMMITTED version must raise,
            # never cold-start (which would replace the accumulated
            # aggregate with one shard's worth of data) — spark.read
            # raises on both, and the commit below never runs.
            current = spark.read.parquet(
                os.path.join(rollup_path, latest["table"])
            ).localCheckpoint()
            both = current.unionByName(delta)
            merged = both.groupBy(*group_cols).agg(
                *_agg_exprs(
                    sum_cols,
                    min_cols,
                    max_cols,
                    distinct_cols,
                    hist_cols,
                    merge=True,
                    sample_cols=sample_cols,
                )
            )
            for c, m in topk_cols.items():
                mrg = _topk_merge(
                    both.select(*group_cols, f"topk_{c}"), group_cols, c, m
                )
                merged = _nullsafe_join(merged, mrg, group_cols, "left").withColumn(
                    f"topk_{c}", F.coalesce(F.col(f"topk_{c}"), _empty_topk_cell())
                )
            version = latest["version"] + 1
            applied = latest["applied_shards"] + [shard_id]
        else:
            merged = delta
            version = 1
            applied = [shard_id]
        table = _table_name(version)
        # overwrite: a crash on a previous attempt at THIS version may
        # have left an orphan dir; it was never committed, so replacing
        # it is a clean retry
        merged.write.mode("overwrite").parquet(os.path.join(rollup_path, table))
        _publish_commit(
            rollup_path,
            {
                "version": version,
                "table": table,
                "applied_shards": applied,
                "spec": spec,
            },
        )
        _gc(rollup_path, version)
        spark.catalog.refreshByPath(os.path.join(rollup_path, table))
    return {"applied": True, "keys_touched": n_touched}


def rollup_versions(rollup_path: str) -> list[dict]:
    """Every committed version still on disk, ascending: ``{"version",
    "table", "n_shards"}``.  GC keeps only the latest and its
    predecessor, so at most two are readable (time travel here is a
    reader-consistency window, not unbounded history — point a real
    table format at the lake for that)."""
    out = []
    for p in glob.glob(os.path.join(rollup_path, "_commit_v*.json")):
        m = _COMMIT_RE.search(p)
        if not m:
            continue
        with open(p) as fh:
            c = json.load(fh)
        out.append(
            {
                "version": c["version"],
                "table": c["table"],
                "n_shards": len(c.get("applied_shards", [])),
            }
        )
    # sort by parsed version, not path string: v1000000 grows a digit
    # and would string-sort before v999999
    return sorted(out, key=lambda v: v["version"])


def read_rollup(
    spark: SparkSession,
    rollup_path: str,
    estimate_distinct: bool = True,
    version: int | None = None,
) -> DataFrame:
    """The aggregate table at the latest (or a pinned ``version``)
    commit: (keys..., n_rows, sum_<c>..., min_<c>..., max_<c>...,
    hll_<c>..., hist_<c>...). With ``estimate_distinct``, each HLL cell
    additionally surfaces as a ``distinct_<c>`` BIGINT estimate (the
    sketch column stays, for further merging).  ``version`` reads a
    prior committed snapshot while it survives GC (latest-1 only) —
    enough for a reader to finish a multi-step report against one
    consistent version while updaters advance the pointer."""
    if version is None:
        commit = _latest_commit(rollup_path)
        if commit is None:
            raise FileNotFoundError(f"no committed rollup at {rollup_path}")
    else:
        p = os.path.join(rollup_path, _commit_name(version))
        try:
            with open(p) as fh:
                commit = json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"rollup version {version} not on disk at {rollup_path} "
                f"(GC keeps latest and latest-1 only; available: "
                f"{[v['version'] for v in rollup_versions(rollup_path)]})"
            ) from None
    df = spark.read.parquet(os.path.join(rollup_path, commit["table"]))
    if estimate_distinct:
        for c in commit.get("spec", {}).get("distinct_cols", []):
            df = df.withColumn(f"distinct_{c}", F.hll_sketch_estimate(f"hll_{c}"))
    return df


def rollup_hist_counts(
    spark: SparkSession, rollup_path: str, col: str, version: int | None = None
) -> DataFrame:
    """Global (bin, cnt) counts from the ``hist_{col}`` cells of one
    committed version — the whole-stream histogram, O(keys x bins)
    rollup rows in, ``bins`` rows out, zero fact scans."""
    df = read_rollup(spark, rollup_path, estimate_distinct=False, version=version)
    return (
        df.select(F.posexplode(f"hist_{col}").alias("b", "c"))
        .groupBy("b")
        .agg(F.sum("c").alias("cnt"))
    )


def rollup_hist_drift(
    spark: SparkSession,
    rollup_path: str,
    col: str,
    feature: str | None = None,
    mode: str = "delta",
) -> DataFrame:
    """PSI drift report between the two readable rollup versions'
    histogram cells — the refresh gate (:mod:`.drift`) with NO fact
    rescan: everything derives from O(bins) cell counts.

    ``mode="delta"`` (default) compares the NEWLY-ARRIVED slice against
    the prior history: because histogram cells are counts and facts are
    append-only, ``latest - previous`` per bin is EXACTLY the latest
    shard batch's histogram.  ``mode="cumulative"`` compares the two
    whole-stream distributions (a much weaker signal once history is
    large — each new shard moves it O(shard/history)).

    Requires version latest-1 to still be on disk (it always is right
    after an update; GC keeps exactly that window) and histogram cells
    in the rollup spec.  One row out:
    (feature, psi, n_buckets, n_ref, n_cur, drifted)."""
    from .drift import _psi_from_counts

    if mode not in ("delta", "cumulative"):
        raise ValueError(f"mode must be 'delta' or 'cumulative', got {mode!r}")
    vers = rollup_versions(rollup_path)
    if len(vers) < 2:
        raise ValueError(
            f"need two committed versions for drift, have "
            f"{[v['version'] for v in vers]} at {rollup_path}"
        )
    prev_v, cur_v = vers[-2]["version"], vers[-1]["version"]
    prev = rollup_hist_counts(spark, rollup_path, col, version=prev_v)
    cur = rollup_hist_counts(spark, rollup_path, col, version=cur_v)
    rb = prev.select("b", F.col("cnt").alias("rc"))
    if mode == "delta":
        joined = cur.join(prev.withColumnRenamed("cnt", "pc"), "b", "left")
        cb = joined.select(
            "b", (F.col("cnt") - F.coalesce(F.col("pc"), F.lit(0))).alias("cc")
        )
    else:
        cb = cur.select("b", F.col("cnt").alias("cc"))
    return _psi_from_counts(rb, cb, feature or f"hist_{col}_{mode}")
