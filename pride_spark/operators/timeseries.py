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
              (exact; quantile estimates via histogram_quantile)

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

from pride_spark.session import local_frame

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

    Internal (cascade/store) representations, chosen so re-aggregation
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
      alternative to ``approx_percentile``, which cannot re-aggregate);
      estimate quantiles from the finished counts with
      :func:`histogram_quantile`.
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


def histogram_quantile(
    counts: Column | str, bins: Sequence[float], q: float
) -> Column:
    """Quantile estimate from a finished ``histogram`` counts array:
    the first slot where the cumulative count reaches ``q × total``,
    linearly interpolated inside the slot.  The open tail slots clamp
    to their finite edge (a p99 living in ``[ek, inf)`` reports ``ek``
    — widen the bins if the tail matters).  Pure Column expression —
    the slot scan unrolls statically (bins are fixed), all codegen, no
    UDF.  DOUBLE arithmetic: an estimate, not the exact
    order-statistic; accuracy is the bin resolution."""
    c = F.col(counts) if isinstance(counts, str) else counts
    slots = len(bins) + 1
    cnt = [c.getItem(i).cast("double") for i in range(slots)]
    total = cnt[0]
    for x in cnt[1:]:
        total = total + x
    target = F.lit(float(q)) * total
    expr = None
    cum_before: Column = F.lit(0.0)
    for i in range(slots):
        lo = bins[0] if i == 0 else bins[i - 1]
        hi = bins[-1] if i == len(bins) else bins[i]
        est = F.lit(lo) + ((target - cum_before) / cnt[i]) * F.lit(hi - lo)
        est = F.least(F.greatest(est, F.lit(float(lo))), F.lit(float(hi)))
        cond = (cnt[i] > 0) & (cum_before + cnt[i] >= target)
        expr = F.when(cond, est) if expr is None else expr.when(cond, est)
        cum_before = cum_before + cnt[i]
    return expr.otherwise(F.lit(None).cast("double"))


def _validated_order(resolutions: Sequence[str]) -> list[str]:
    res = list(resolutions)
    order = [r for r in _RES_ORDER if r in res]
    if set(order) != set(res):
        raise ValueError(f"unknown resolutions {sorted(set(res) - set(_RES_ORDER))}")
    return order


def _cascade_and_finish(
    finest_df: DataFrame,
    order: list[str],
    aggs: Sequence[AggSpec],
    by: list[str],
    level_col: str,
    bucket_col: str,
    grand_total: bool,
    fallback,
) -> DataFrame:
    """Shared ladder tail for :func:`hypertable_rollup` and
    :func:`read_hypertable`: extend the (internal-representation) finest
    level through ``order[1:]`` drawing each level from the coarsest
    computed level that nests inside it, fold the grand total from the
    coarsest level (every bucket scheme tiles the timeline), then finish
    and union.  A level with no nesting source (only possible when the
    finest level is ``week``) calls ``fallback(level)`` for an
    internal-representation frame, or raises when ``fallback`` is None
    (the store path, where raw events are unavailable)."""
    computed = {order[0]: finest_df}
    levels = [finest_df]
    for r in order[1:]:
        src = _cascade_source(computed, r)
        if src is not None:
            cur = (
                computed[src]
                .groupBy(*by, time_bucket(bucket_col, r).alias(bucket_col))
                .agg(*[a.reagg() for a in aggs])
            )
        elif fallback is not None:
            cur = fallback(r)
        else:
            raise ValueError(
                f"cannot cascade {r!r} from stored levels "
                f"{sorted(computed, key=_RES_ORDER.index)}: week buckets "
                f"straddle {r} boundaries; rebuild the store with a "
                f"nesting finest resolution (e.g. 'day')"
            )
        cur = cur.withColumn(level_col, F.lit(r))
        computed[r] = cur
        levels.append(cur)
    if grand_total:
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

    def from_raw(r: str) -> DataFrame:
        # only reachable when the finest resolution is 'week': week
        # buckets straddle month boundaries, so this level takes one
        # extra pass over the raw events instead of a wrong cascade.
        return df.groupBy(*by, time_bucket(ts_col, r).alias(bucket_col)).agg(
            *[a.first_level() for a in aggs]
        )

    return _cascade_and_finish(
        cur, order, aggs, by, level_col, bucket_col, grand_total, from_raw
    )


# ---------------------------------------------------------------------------
# Persisted hypertable store (continuous-aggregate production shape):
# the finest level lives on disk in INTERNAL representation (decimal
# sums, long counts), date-partitioned; daily batches merge into only
# the partitions they touch; coarser levels are cascaded from the store
# at read time — raw events are never re-read.
# ---------------------------------------------------------------------------


def _finest_internal(
    df: DataFrame,
    ts_col: str,
    aggs: Sequence[AggSpec],
    finest: str,
    by: Sequence[str],
    bucket_col: str,
) -> DataFrame:
    out = df.groupBy(*by, time_bucket(ts_col, finest).alias(bucket_col)).agg(
        *[a.first_level() for a in aggs]
    )
    return out.withColumn("part_date", F.to_date(bucket_col))


def build_hypertable_store(
    df: DataFrame,
    ts_col: str,
    aggs: Sequence[AggSpec],
    path: str,
    *,
    finest: str = "hour",
    by: Sequence[str] | None = None,
    bucket_col: str = "bucket_start",
) -> None:
    """Materialize the finest rollup level to ``path`` as parquet,
    partitioned by ``part_date`` (the bucket's calendar date).  Stored
    values are the INTERNAL aggregate representation (exact decimal
    sums, long counts) so later merges and cascades stay bit-identical
    to a from-raw rollup.  The store's finest resolution is recorded in
    an underscore-prefixed ``_meta`` sidecar (invisible to the parquet
    reader) so reads and refreshes can validate against it.

    Overwrites any existing store at ``path``, then routes the initial
    rollup through the SAME manifest-committed path every refresh uses
    (one crash-safety story for first build and every later merge)."""
    import os
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    _write_store_meta(df.sparkSession, path, finest)
    refresh_hypertable_store(
        df.sparkSession, path, df, ts_col, aggs,
        finest=finest, by=by, bucket_col=bucket_col,
    )


def _write_store_meta(spark, path: str, finest: str) -> None:
    # Written into a hidden tmp dir and RENAMED into place: a reader
    # polling during the first batch's self-heal must see _meta either
    # absent or complete, never a half-written Spark output dir (the
    # r13 reader-isolation test caught the direct-write race as an
    # UNABLE_TO_INFER_SCHEMA AnalysisException).
    import os
    import shutil
    import uuid

    tmp = os.path.join(path, f".meta-{uuid.uuid4().hex}")
    local_frame(spark, [(finest,)], "finest string").coalesce(1).write.mode(
        "overwrite"
    ).json(tmp)
    final = os.path.join(path, "_meta")
    if os.path.isdir(final):
        shutil.rmtree(final)  # build-path overwrite; single writer
    os.rename(tmp, final)


def _read_store_meta(spark, path: str) -> str | None:
    """The store's recorded finest resolution, or None for a pre-meta
    store (validation is then skipped for backward compatibility).
    Only a MISSING ``_meta`` maps to None — an unreadable or corrupt
    sidecar raises, because silently skipping validation there would
    re-open the mislabeled-grain corruption the sidecar exists to
    prevent."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.json(path + "/_meta").collect()
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise
    return rows[0]["finest"] if rows else None


#: Single small version-pointer manifest (r12 verdict task #1): readers
#: resolve the live partition set through THIS file, and replacing it
#: (tmp + fsync + ``os.replace``) is the ONE atomic commit point for a
#: refresh — however many date partitions the batch touched.  Data
#: lives in immutable generation-tagged object dirs under ``.obj/``
#: (dot-prefixed: invisible to any stray whole-dir parquet read), so a
#: reader that loaded the manifest always sees a complete, single-
#: generation partition set: there is no mid-swap window at all.
_MANIFEST = "_manifest"
_OBJ = ".obj"
#: manifest key for the NULL-timestamp partition (a real date string
#: can never equal it — dates serialize as YYYY-MM-DD)
_NULL_DATE_KEY = "__null__"


def _date_key(d) -> str:
    return _NULL_DATE_KEY if d is None else str(d)


def _read_manifest(path: str) -> dict | None:
    """The store's live-partition manifest, or None when the store has
    never committed (brand-new path).  A PRESENT-but-unreadable or
    corrupt manifest is refused loudly — it names every live partition,
    so guessing around it could serve a torn or double-counted store
    (same stance as ``_read_store_meta``)."""
    import json
    import os

    p = os.path.join(path, _MANIFEST)
    try:
        with open(p) as fh:
            text = fh.read()
    except FileNotFoundError:
        return None
    except OSError as e:
        raise ValueError(
            f"cannot read hypertable manifest at {p!r} ({e}): the live "
            "partition set is unknowable — fix the filesystem error "
            "before reading or refreshing"
        ) from e
    try:
        man = json.loads(text)
        if not isinstance(man.get("generation"), int) or not isinstance(
            man.get("partitions"), dict
        ):
            raise ValueError("missing generation/partitions")
    except ValueError as e:
        raise ValueError(
            f"corrupt hypertable manifest at {p!r} ({e}): restore it "
            "from a backup or rebuild the store — every commit fsyncs "
            "the manifest before the atomic replace, so corruption here "
            "means the storage layer lost acknowledged bytes"
        ) from None
    return man


def _write_manifest(path: str, man: dict) -> None:
    """THE commit point: fsync the new manifest's bytes, then
    ``os.replace`` it over the live one — a reader sees the old
    complete set or the new complete set, never a mix, and a crash at
    any instant leaves one of the two intact."""
    import json
    import os

    final = os.path.join(path, _MANIFEST)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(man, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def _refuse_legacy_layout(path: str, man: dict | None) -> None:
    import os

    if man is None and os.path.isdir(path) and any(
        n.startswith("part_date=") for n in os.listdir(path)
    ):
        raise ValueError(
            f"hypertable store at {path!r} uses the pre-manifest hive "
            "layout (in-place partition swaps); the store protocol is "
            "now manifest-committed — rebuild it with "
            "build_hypertable_store over the raw history"
        )


def _gc_unreferenced_objects(path: str, man: dict) -> None:
    """Sweep object dirs no live manifest references plus leftover
    ``.staging-*`` dirs.  Runs at REFRESH START only (single writer, so
    nothing is mid-commit): a dir dereferenced by commit N therefore
    survives until refresh N+1 begins — the reader grace window.  A
    reader must resolve the manifest and finish reading within one
    refresh interval (the same contract as a transactional table
    format's vacuum retention); crash debris from an aborted attempt
    (dirs renamed into ``.obj`` whose commit never happened) is
    unreferenced by construction and swept here too."""
    import os
    import shutil

    referenced = {e["dir"] for e in man.get("partitions", {}).values()}
    obj_root = os.path.join(path, _OBJ)
    if os.path.isdir(obj_root):
        for entry in os.listdir(obj_root):
            if entry not in referenced:
                shutil.rmtree(os.path.join(obj_root, entry), ignore_errors=True)
    for entry in os.listdir(path):
        if entry.startswith((".staging-", ".meta-")):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


def refresh_hypertable_store(
    spark,
    path: str,
    new_df: DataFrame,
    ts_col: str,
    aggs: Sequence[AggSpec],
    *,
    finest: str = "hour",
    by: Sequence[str] | None = None,
    bucket_col: str = "bucket_start",
    batch_id: int | None = None,
) -> list:
    """Merge a new event batch into the store, rewriting ONLY the
    date partitions the batch touches (dynamic partition overwrite +
    partition-pruned read of the old values).  Cost is
    O(|batch| + |stored buckets in touched dates|) — the 100 TB corpus
    of untouched history is never read.  Returns the touched dates.
    An EMPTY store (no ``part_date=`` partitions yet) is valid input:
    the merge degenerates to the batch's own rollup, installed through
    the same staged swap — so first-build and every later refresh share
    one crash-safety story.

    The merge is ADDITIVE (old ⊕ new per bucket).  With
    ``batch_id=None`` deliver each event batch exactly once —
    re-refreshing the same batch double-counts, as with any incremental
    aggregate.  Pass ``batch_id`` (the streaming sink does) to make the
    merge IDEMPOTENT per batch: the manifest records the installing
    batch id against every committed partition, and a re-refresh with
    the same batch_id skips every date already carrying it — replaying
    a crashed batch redoes only uncommitted work.  Late events are
    handled for free either way: a stale date's partition is simply
    touched again.

    Durability and isolation (r12 verdict task #1 — manifest commit):
    merged partitions are computed into a STAGING directory (old values
    read before anything is replaced), renamed into immutable
    generation-tagged object dirs under ``.obj/``, and then committed
    by atomically replacing the ONE manifest file that maps each date
    to its live object dir.  The commit is therefore atomic across the
    WHOLE batch, however many dates it touched: a crash at any point
    before the manifest replace leaves the store byte-identical to its
    pre-batch state (orphan object/staging dirs are swept at the next
    refresh start), and a crash after it leaves the batch fully
    committed.  Concurrent readers resolve the partition set through
    the manifest, so they always see one complete generation — the
    mid-swap window of the previous in-place-rename protocol no longer
    exists, and no transactional table format is needed for either
    exactly-once counts or reader isolation.  Readers must finish
    within one refresh interval of loading the manifest: dirs a commit
    dereferences are garbage-collected when the NEXT refresh begins
    (``_gc_unreferenced_objects``).  SINGLE WRITER per store path — the
    GC-at-start and generation numbering assume it; the streaming sink
    enforces it with a writer lease
    (``pride_spark.streaming.timeseries``).
    """
    import os
    import shutil
    import uuid

    os.makedirs(path, exist_ok=True)
    by = list(by or [])
    stored = _read_store_meta(spark, path)
    if stored is not None and stored != finest:
        raise ValueError(
            f"refresh finest={finest!r} does not match the store's "
            f"recorded finest resolution {stored!r}"
        )
    if stored is None:
        # self-heal a meta-less store (e.g. a crash between the first
        # batch's parquet write and its _write_store_meta): record the
        # caller's finest NOW so every future refresh/read validates
        # against it instead of silently skipping validation forever
        # (r10 review).  On a brand-new path this is also the first
        # write that creates the store directory.
        _write_store_meta(spark, path, finest)
    man = _read_manifest(path)
    _refuse_legacy_layout(path, man)
    if man is None:
        man = {"generation": 0, "partitions": {}}
    _gc_unreferenced_objects(path, man)
    new_agg = _finest_internal(new_df, ts_col, aggs, finest, by, bucket_col)
    # bounded collect: one row per DISTINCT calendar date in the batch.
    # Derived from the RAW events (same part_date expression
    # _finest_internal uses), not from new_agg — collecting off new_agg
    # executed the full measure aggregation once for the dates and AGAIN
    # for the staging write (r10 review).
    dates = [
        r["part_date"]
        for r in new_df.select(
            F.to_date(time_bucket(ts_col, finest)).alias("part_date")
        )
        .distinct()
        .collect()
    ]
    if not dates:
        return []
    parts = man["partitions"]
    if batch_id is None:
        pending = list(dates)
    else:
        # idempotent replay: skip dates the manifest already records as
        # committed under this batch id — the manifest replace is
        # atomic across the whole batch, so on a clean commit this
        # skips everything and on an aborted one it redoes everything
        pending = [
            d for d in dates
            if parts.get(_date_key(d), {}).get("batch") != batch_id
        ]
    if not pending:
        return dates
    # NULL-timestamp events land in the NULL part_date partition; isin()
    # never matches NULL (SQL semantics), so include it explicitly or the
    # stored null partition would be dropped from the merge (r10 review).
    non_null = [d for d in pending if d is not None]
    keep = F.col("part_date").isin(non_null)
    if None in pending:
        keep = keep | F.col("part_date").isNull()
    new_agg = new_agg.filter(keep)
    # partition-pruned read of the old values: ONLY the pending dates'
    # object dirs are listed — the untouched history is never opened
    old_dirs = [
        os.path.join(path, _OBJ, parts[_date_key(d)]["dir"])
        for d in pending
        if _date_key(d) in parts
    ]
    if old_dirs:
        old = spark.read.parquet(*old_dirs)
        merged = (
            old.unionByName(new_agg)
            .groupBy(*by, bucket_col, "part_date")
            .agg(*[a.reagg() for a in aggs])
        )
    else:
        merged = new_agg  # first batch / all-new dates: nothing to fold in
    gen = man["generation"] + 1
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    os.makedirs(os.path.join(path, _OBJ), exist_ok=True)
    new_parts = dict(parts)
    try:
        # full compute (including the read of the OLD partition values)
        # lands in staging before anything is committed.  part_date is
        # partitioned on a STRING COPY (_pd) so it stays a real column
        # in the data files — object dirs are read directly by path,
        # without hive partition discovery, so the column must travel
        # in the bytes.
        (
            merged.withColumn(
                "_pd",
                F.coalesce(
                    F.col("part_date").cast("string"), F.lit(_NULL_DATE_KEY)
                ),
            )
            .write.mode("overwrite")
            .partitionBy("_pd")
            .parquet(staging)
        )
        for d in pending:
            key = _date_key(d)
            src = os.path.join(staging, f"_pd={key}")
            if not os.path.isdir(src):
                continue  # date aggregated away (shouldn't happen; be safe)
            # immutable object dir: generation-tagged for debuggability,
            # uuid-suffixed so an aborted attempt at the same generation
            # can never collide
            obj_name = f"g{gen:06d}-{uuid.uuid4().hex[:8]}-{key}"
            os.rename(src, os.path.join(path, _OBJ, obj_name))
            new_parts[key] = {"dir": obj_name, "batch": batch_id}
        # THE commit: one fsync'd atomic replace makes every pending
        # date's new object dir live at once (old dirs stay on disk for
        # in-flight readers until the next refresh's GC)
        _write_manifest(path, {"generation": gen, "partitions": new_parts})
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return dates


def read_hypertable(
    spark,
    path: str,
    aggs: Sequence[AggSpec],
    *,
    resolutions: Sequence[str] = ("hour", "day"),
    grand_total: bool = True,
    by: Sequence[str] | None = None,
    level_col: str = "level",
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Serve every requested level from the persisted store: the stored
    finest level is finished directly; coarser levels cascade from the
    stored internal values (never from raw events).  Output schema and
    values match :func:`hypertable_rollup` over the full raw history —
    asserted in tests.  ``resolutions[0]`` must equal the store's
    ``finest`` (enforced against the ``_meta`` sidecar — a mismatch
    would silently mislabel stored rows); coarser entries may be any
    cascade-compatible subset of the ladder (``week``-to-``month`` is
    rejected: week buckets straddle month boundaries, and the raw
    events are not available here to recompute from).

    Snapshot isolation: the live partition set is resolved through ONE
    read of the manifest, so the returned plan reads a complete,
    single-generation set even while a refresh commits concurrently.
    Execute the plan within one refresh interval — a commit's
    dereferenced object dirs are garbage-collected when the writer's
    NEXT refresh begins (see ``refresh_hypertable_store``)."""
    import os

    order = _validated_order(resolutions)
    by = list(by or [])
    stored = _read_store_meta(spark, path)
    if stored is not None and stored != order[0]:
        raise ValueError(
            f"resolutions[0]={order[0]!r} does not match the store's "
            f"recorded finest resolution {stored!r}"
        )
    man = _read_manifest(path)
    _refuse_legacy_layout(path, man)
    if man is None or not man["partitions"]:
        raise ValueError(
            f"no committed hypertable store at {path!r}: the manifest "
            "is missing or empty — build one with build_hypertable_store"
        )
    dirs = [
        os.path.join(path, _OBJ, e["dir"]) for e in man["partitions"].values()
    ]
    cur = (
        spark.read.parquet(*dirs)
        .drop("part_date")
        .withColumn(level_col, F.lit(order[0]))
    )
    return _cascade_and_finish(
        cur, order, aggs, by, level_col, bucket_col, grand_total, fallback=None
    )
