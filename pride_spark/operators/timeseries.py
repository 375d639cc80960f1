"""Hypertable rollup — multi-resolution time-bucket aggregation (the
TimescaleDB continuous-aggregate shape; one of the brief's named custom
operators alongside the as-of and range joins).

Given an event frame and a resolution ladder (e.g. hour → day → total),
produce one aggregated row per bucket AT EVERY RESOLUTION, labeled by
level.

Scale design — cascading re-aggregation, NOT grouping sets:

Spark's native ``df.rollup(day, hour)`` / ``GROUPING SETS`` plans an
``Expand`` that replicates every INPUT row once per grouping set — at
100 TB that is a 3× read amplification through the first shuffle.  Here
the raw data is aggregated ONCE at the finest resolution (one shuffle,
map-side partial aggregation), and each coarser level re-aggregates the
PREVIOUS level's output — hours→days touches |hours| rows, not |events|;
the total row folds |days| rows.  This works because the supported
aggregate functions are all re-aggregatable:

    count  →  sum of partial counts
    sum    →  sum of partial sums   (decimal internally: exact, so the
              cascade is bit-identical to a direct per-level aggregate)
    min/max → min/max of partial min/max
    avg    →  struct(decimal sum, count) pair, divided at finish
    approx_distinct → HLL sketch union (mergeable by construction)
    histogram → element-wise sum of fixed-boundary bucket counts
              (exact)

Each cascade step after the first is a shuffle over an already-tiny
frame, so the whole ladder costs one big exchange + k trivial ones.
This is also the IDEMPOTENT-REFRESH shape: a production hypertable
persists the finest level partitioned by bucket and recomputes coarser
levels from it on append, never re-reading raw events.

Cascade validity — a level may only be re-aggregated from a finer level
whose buckets NEST inside it (no fine bucket straddles a coarse-bucket
boundary).  The calendar ladder minute→hour→day→month→quarter→year
nests cleanly, but ``week`` is special: an ISO week can cross month,
quarter, and year boundaries (e.g. the week of 2024-01-29 contains both
Jan 31 and Feb 1), so month-and-coarser levels are never cascaded from
the week level — each level draws from the coarsest ALREADY-COMPUTED
level that nests inside it (``month`` from ``day``, not from ``week``).
The grand total may fold any level: every bucket scheme tiles the full
timeline.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: supported resolutions, finest-first order
_RES_ORDER = ["minute", "hour", "day", "week", "month", "quarter", "year"]

#: coarser levels whose buckets each resolution tiles exactly (a fine
#: bucket never straddles a coarse-bucket boundary).  ``week`` tiles
#: nothing coarser: ISO weeks cross month/quarter/year boundaries.
_NESTS_IN = {
    "minute": {"hour", "day", "week", "month", "quarter", "year"},
    "hour": {"day", "week", "month", "quarter", "year"},
    "day": {"week", "month", "quarter", "year"},
    "week": set(),
    "month": {"quarter", "year"},
    "quarter": {"year"},
    "year": set(),
}


def _cascade_source(computed: dict, target: str) -> str | None:
    """The coarsest already-computed level whose buckets nest inside
    ``target`` (fewest rows to re-aggregate), or None if no computed
    level is cascade-compatible (only possible via ``week``)."""
    srcs = [lv for lv in computed if target in _NESTS_IN[lv]]
    return max(srcs, key=_RES_ORDER.index) if srcs else None


def time_bucket(ts: Column | str, resolution: str) -> Column:
    """Truncate a timestamp column to its bucket start (``date_trunc``
    semantics; works for TIMESTAMP and TIMESTAMP_NTZ alike)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_trunc(resolution, c)


class AggSpec:
    """One re-aggregatable measure: ``fn`` over ``col``, surfaced as
    ``alias``.  ``fn`` ∈ {count, sum, min, max, avg, approx_distinct,
    histogram}; for ``count`` the column is ignored (COUNT(*)).

    Internal (cascade) representations, chosen so re-aggregation
    of partials EXACTLY equals a direct aggregate at any level:

    - ``sum`` / ``avg`` accumulate as ``decimal(28,6)`` (avg carries a
      ``struct(s, n)`` pair and divides only at finish) — exact,
      order-independent;
    - ``approx_distinct`` carries a DataSketches HLL sketch
      (``hll_sketch_agg`` → ``hll_union_agg``): a union of partial
      sketches summarizes the union of their inputs with the SAME
      accuracy guarantee as a direct sketch (mergeability is the
      sketch's core property), so cascading loses nothing — but the
      point estimate may differ by a hair across aggregation orders
      (the sketch's sparse→dense mode promotions are order-sensitive),
      so treat estimates as approximate everywhere, not just vs the
      true count;
    - ``count``/``min``/``max`` re-aggregate as sum/min/max;
    - ``histogram`` (requires ``bins=(e0 < e1 < … < ek)``) carries
      fixed-boundary bucket counts as ``array<long>`` with
      ``len(bins)+1`` slots — ``(-inf,e0), [e0,e1), …, [ek,inf)``;
      NULLs count nowhere.  Counts over fixed boundaries SUM, so the
      cascade is exactly a direct per-level histogram (the mergeable
      alternative to ``approx_percentile``, which cannot re-aggregate).
    """

    def __init__(
        self,
        fn: str,
        col: str | Column | None,
        alias: str,
        *,
        bins: Sequence[float] | None = None,
    ):
        if fn not in (
            "count", "sum", "min", "max", "avg", "approx_distinct", "histogram"
        ):
            raise ValueError(f"unsupported aggregate {fn!r}")
        if fn == "histogram":
            if not bins or list(bins) != sorted(set(bins)):
                raise ValueError("histogram requires strictly increasing bins")
            self.bins = [float(b) for b in bins]
        elif bins is not None:
            raise ValueError(f"bins is only valid for histogram, not {fn!r}")
        self.fn = fn
        self.col = col
        self.alias = alias

    def _c(self) -> Column:
        return F.col(self.col) if isinstance(self.col, str) else self.col

    def first_level(self) -> Column:
        if self.fn == "count":
            return F.count(F.lit(1)).alias(self.alias)
        if self.fn == "sum":
            return F.sum(self._c().cast("decimal(28,6)")).alias(self.alias)
        if self.fn == "avg":
            return F.struct(
                F.sum(self._c().cast("decimal(28,6)")).alias("s"),
                F.count(self._c()).alias("n"),
            ).alias(self.alias)
        if self.fn == "approx_distinct":
            return F.hll_sketch_agg(self._c()).alias(self.alias)
        if self.fn == "histogram":
            c = self._c()
            return F.array(
                *[
                    F.sum(self._slot_cond(c, i).cast("long")).alias(f"b{i}")
                    for i in range(len(self.bins) + 1)
                ]
            ).alias(self.alias)
        return getattr(F, self.fn)(self._c()).alias(self.alias)

    def _slot_cond(self, c: Column, i: int) -> Column:
        """value lands in slot i: (-inf,e0), [e0,e1), …, [ek,inf)."""
        lo = None if i == 0 else self.bins[i - 1]
        hi = None if i == len(self.bins) else self.bins[i]
        cond = c.isNotNull()
        if lo is not None:
            cond = cond & (c >= F.lit(lo))
        if hi is not None:
            cond = cond & (c < F.lit(hi))
        return cond

    def reagg(self) -> Column:
        src = F.col(self.alias)
        if self.fn == "avg":
            return F.struct(
                F.sum(src["s"]).alias("s"), F.sum(src["n"]).alias("n")
            ).alias(self.alias)
        if self.fn == "approx_distinct":
            return F.hll_union_agg(src).alias(self.alias)
        if self.fn == "histogram":
            return F.array(
                *[
                    F.sum(src.getItem(i)).alias(f"b{i}")
                    for i in range(len(self.bins) + 1)
                ]
            ).alias(self.alias)
        fn = "sum" if self.fn == "count" else self.fn
        return getattr(F, fn)(src).alias(self.alias)

    def finish(self) -> Column:
        src = F.col(self.alias)
        if self.fn == "sum":
            return src.cast("double").alias(self.alias)
        if self.fn == "avg":
            return (src["s"] / src["n"]).cast("double").alias(self.alias)
        if self.fn == "approx_distinct":
            return F.hll_sketch_estimate(src).alias(self.alias)
        return src


def _validated_order(resolutions: Sequence[str]) -> list[str]:
    res = list(resolutions)
    order = [r for r in _RES_ORDER if r in res]
    if set(order) != set(res):
        raise ValueError(f"unknown resolutions {sorted(set(res) - set(_RES_ORDER))}")
    return order


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    aggs: Sequence[AggSpec],
    resolutions: Sequence[str] = ("hour", "day"),
    *,
    grand_total: bool = True,
    by: Sequence[str] | None = None,
    level_col: str = "level",
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Aggregate ``df`` at every resolution in ``resolutions`` (finest
    first), plus an optional grand-total row, via the cascade described
    in the module docstring.  Optional ``by`` keys (e.g. a tenant or
    event-type dimension) ride every level; the grand total keeps them
    (total per key), so pass ``by=None`` for a whole-table total.

    Output: ``by… , level, bucket_start, <agg aliases…>`` — one row per
    (by, bucket) per level; the total row has NULL ``bucket_start``.
    """
    order = _validated_order(resolutions)
    by = list(by or [])
    finest = order[0]
    cur = (
        df.groupBy(*by, time_bucket(ts_col, finest).alias(bucket_col))
        .agg(*[a.first_level() for a in aggs])
        .withColumn(level_col, F.lit(finest))
    )
    computed = {finest: cur}
    levels = [cur]
    for r in order[1:]:
        src = _cascade_source(computed, r)
        if src is not None:
            cur = computed[src].groupBy(*by, time_bucket(bucket_col, r).alias(bucket_col))
            cur = cur.agg(*[a.reagg() for a in aggs])
        else:
            # only reachable when the finest resolution is 'week': week
            # buckets straddle month boundaries, so this level takes one
            # extra pass over the raw events instead of a wrong cascade.
            cur = df.groupBy(*by, time_bucket(ts_col, r).alias(bucket_col))
            cur = cur.agg(*[a.first_level() for a in aggs])
        cur = cur.withColumn(level_col, F.lit(r))
        computed[r] = cur
        levels.append(cur)
    if grand_total:
        # every bucket scheme tiles the timeline: fold the coarsest level
        src_df = computed[order[-1]]
        total = (
            src_df.groupBy(*by)
            .agg(*[a.reagg() for a in aggs])
            .withColumn(bucket_col, F.lit(None).cast(dict(src_df.dtypes)[bucket_col]))
            .withColumn(level_col, F.lit("total"))
        )
        levels.append(total)
    out_cols = [*by, level_col, bucket_col, *[a.alias for a in aggs]]
    final = [F.col(c) for c in [*by, level_col, bucket_col]] + [a.finish() for a in aggs]
    parts = [lv.select(*out_cols).select(*final) for lv in levels]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
