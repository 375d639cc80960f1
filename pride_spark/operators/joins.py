"""Join operators (SURVEY §2.4 J1–J10).

The two non-equi shapes are the containment theta joins (J1/J2) — broadcast
nested-loop over tiny dimensions — and the left-semi membership join (J7).
The workhorse J5 equi-join is left to Catalyst/AQE (sort-merge with skew
splitting); helpers here add the deterministic first-match semantics and the
positional-zip join the reference does imperatively.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..session import local_frame, register_pinned


def contains_first_match(
    probe: DataFrame,
    dim: DataFrame,
    probe_text: str,
    dim_text: str,
    probe_keys: Sequence[str],
    order_cols: Sequence[str],
    how: str = "inner",
    block_lengths: Sequence[int] | None = None,
) -> DataFrame:
    """J1/J2 — theta join ``dim.text CONTAINS probe.text`` keeping the first match.

    Ref: PrideAnalysisAssayService.java:408-413 (result file ↔ project files,
    case-insensitive containment, ``findFirst``) and :906-924 (J2).  The dim
    side is broadcast (file listings are tiny) so the nested-loop never
    shuffles the probe side; "first" is made deterministic with an explicit
    ``row_number`` over ``order_cols`` per probe row (``probe_keys``) instead
    of iteration order.

    Scale path: when every probe string has a known length (``block_lengths``),
    the dim side is exploded into all substrings of those lengths and the
    containment becomes an equi-join — O(dim·len) keys instead of an
    O(probe·dim) nested loop.  Same result set (substring match ⇔ contains).
    """
    if block_lengths:

        def sub_at(length: int):
            # single-arg closure: a 2-arg lambda would receive (element, index)
            def f(i: Column) -> Column:
                return F.lower(dim[dim_text]).substr(i, F.lit(length))

            return f

        subs = []
        for L in block_lengths:
            subs.append(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.length(F.lower(dim[dim_text])) - F.lit(L - 1), F.lit(0)),
                    ),
                    sub_at(L),
                )
            )
        exploded = dim.withColumn(
            "__sub", F.explode(F.array_distinct(F.flatten(F.array(*subs))))
        )
        joined = probe.join(exploded, F.lower(probe[probe_text]) == exploded["__sub"], how)
        joined = joined.drop("__sub").dropDuplicates(
            [*probe_keys, *order_cols]
        )
    else:
        cond = F.lower(dim[dim_text]).contains(F.lower(probe[probe_text]))
        joined = probe.join(F.broadcast(dim), cond, how)
    w = Window.partitionBy(*[probe[k] for k in probe_keys]).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return joined.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


def psm_spectrum_join(
    psms: DataFrame,
    spectra: DataFrame,
    on: Sequence[str] = ("fileName", "spectrumKey"),
    how: str = "inner",
) -> DataFrame:
    """J5 — the big PSM ↔ raw-spectrum equi-join.

    Ref: orchestrated per-PSM point reads at
    PrideAnalysisAssayService.java:545-553; here it is one shuffle join on
    (fileName, spectrumKey) with AQE skew handling.  ``spectrumKey`` is the
    normalized id produced at ingest (spectrum-id repair C9/S7 happens once,
    not per lookup).
    """
    return psms.join(spectra, list(on), how)


#: dtypes whose cast-to-double preserves ordering (bucketable lead keys)
_ORDERED_NUMERIC = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz",
}


def global_row_index(
    df: DataFrame,
    order_cols_names: Sequence[str],
    index_name: str = "__pos",
    num_range_partitions: int | None = None,
) -> DataFrame:
    """0-based global row number in the total order of ``order_cols_names``
    — the two-pass distributed form (same shape as
    ``fdr._global_two_pass``): value-derived range buckets from approx
    quantiles of the leading order key (ties share a bucket, so bucketing
    is a pure value function — stable under AQE), per-bucket counts
    collected to the driver, broadcast prefix offsets, then a per-bucket
    ``row_number`` window.  Nothing funnels through a single task, and
    nothing is persisted or checkpointed here.

    Falls back to the single-partition global window only when the leading
    order column is not numeric/temporal (order-preserving bucket keys need
    a cast-to-double); the caller can pre-map such keys to a numeric
    surrogate.

    ``order_cols_names`` must be a TOTAL order (include a unique
    tie-breaker) or the assigned indices are shuffle-dependent.
    """
    left = df
    left_order = order_cols_names
    spark = left.sparkSession
    n = num_range_partitions or spark.sparkContext.defaultParallelism
    lead = left_order[0]
    lead_type = dict(left.dtypes).get(lead, "")
    bucketable = lead_type in _ORDERED_NUMERIC or lead_type.startswith("decimal")
    order_cols = [F.col(c) for c in left_order]
    if n > 1 and bucketable:
        # date/timestamp_ntz cannot cast straight to double; route them
        # through timestamp (epoch seconds) — order-preserving either way
        zkey = (
            F.col(lead).cast("timestamp").cast("double")
            if lead_type in ("date", "timestamp_ntz")
            else F.col(lead).cast("double")
        )
        keyed = left.withColumn("__zkey", zkey)
        # Fused probe (r14, the fdr._global_two_pass pattern): ONE
        # monotone-fine-bucket histogram yields the load-balancing
        # splits AND the exact per-bucket counts that previously took a
        # second driver job after the approxQuantile scan.
        from pride_spark.operators.partitioning import (
            FINE,
            fine_bucket_sql,
            fine_histogram_partition,
        )

        fined = keyed.withColumn(FINE, F.expr(fine_bucket_sql("__zkey")))
        hist, chain = fine_histogram_partition(fined, n, [])
        # null lead keys sort first under Spark's asc ordering → bucket -1
        bucket = F.when(F.col("__zkey").isNull(), F.lit(-1)).otherwise(chain)
        part = fined.withColumn("__zb", bucket)
        counts: dict[int, int] = {}
        for h in hist:
            counts[h["pid"]] = counts.get(h["pid"], 0) + h["c"]
        offsets, cum = [], 0
        for b in sorted(counts):
            offsets.append((b, cum))
            cum += counts[b]
        off = local_frame(spark, offsets, "__zb int, __zoff long")
        w = Window.partitionBy("__zb").orderBy(*order_cols)
        indexed = (
            part.join(F.broadcast(off), "__zb")
            .withColumn(index_name, F.row_number().over(w) - 1 + F.col("__zoff"))
            .drop("__zkey", "__zb", "__zoff", FINE)
        )
    else:
        w = Window.orderBy(*order_cols)
        indexed = left.withColumn(index_name, F.row_number().over(w) - 1)
    return indexed


def positional_zip_join(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[str],
    right_index_col: str,
    index_name: str = "__pos",
    num_range_partitions: int | None = None,
    left_index_col: str | None = None,
) -> DataFrame:
    """J8 — join the i-th row (in a declared order) of ``left`` to
    ``right.right_index_col == i`` (0-based).

    Ref: InferenceService.java:99-111 zips JSON-line order against the
    MaraCluster ``spectrumIndex``.  The index comes from
    :func:`global_row_index` (two-pass distributed row numbering — no
    single-task sort); pass ``left_index_col`` when ``left`` already
    carries a positional index (e.g. the caller derived BOTH sides from
    one ``global_row_index`` pass and should not pay the quantile/count
    stats jobs twice).
    """
    if left_index_col is not None:
        index_name = left_index_col
        indexed = left
    else:
        indexed = global_row_index(left, left_order, index_name, num_range_partitions)
    return indexed.join(right, indexed[index_name] == right[right_index_col], "inner")


def semi_join_members(
    facts: DataFrame, members: DataFrame, fact_key: str, member_key: str
) -> DataFrame:
    """J7 — keep fact rows whose key appears in the membership set.

    Ref: PrideAnalysisAssayService.java:926-936 (protein accession ∈ report
    protein accessions, used at :786).
    """
    return facts.join(
        members.select(F.col(member_key).alias(fact_key)).distinct(), fact_key, "left_semi"
    )


def broadcast_props_join(
    facts: DataFrame,
    props: DataFrame,
    key: str,
    props_col: str,
    fallback: Column,
    out_col: str = "sampleProperties",
) -> DataFrame:
    """J6 — per-file sample properties with project-level fallback.

    Ref: PrideAnalysisAssayService.java:574-579 (join), :359-385 (fallback).
    """
    return facts.join(F.broadcast(props), key, "left").withColumn(
        out_col, F.coalesce(F.col(props_col), fallback)
    )


class SpectraRelationError(ValueError):
    """J3 cardinality assertion failed (unmatched SpectraData refs)."""


def relate_spectra_files(
    spectra_data: DataFrame,
    user_files: DataFrame,
    ref_name_col: str = "location",
    file_name_col: str = "fileName",
) -> DataFrame:
    """J3 — SpectraData refs ↔ user-supplied spectra paths.

    Equality on the decompressed, case-folded basename; every SpectraData
    ref MUST find exactly one file or the assay aborts
    (ref: PrideAnalysisAssayService.java:867-896, cardinality assertion at
    :892-894).  One distributed aggregate performs the check.
    """
    from pride_spark.functions.strings import file_name_no_extension

    refs = spectra_data.withColumn(
        "__key", F.lower(file_name_no_extension(F.col(ref_name_col)))
    )
    files = user_files.withColumn(
        "__key", F.lower(file_name_no_extension(F.col(file_name_col)))
    )
    joined = refs.join(files, "__key", "left")
    bad = (
        joined.groupBy("__key")
        .agg(F.sum(F.when(F.col(file_name_col).isNull(), 1).otherwise(0)).alias("missing"))
        .filter(F.col("missing") > 0)
        .limit(5)
        .collect()
    )
    if bad:
        missing = ", ".join(r["__key"] for r in bad)
        raise SpectraRelationError(f"SpectraData refs with no matching spectra file: {missing}")
    return joined.drop("__key")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | None = None,
    *,
    tolerance: float | None = None,
    direction: str = "backward",
    suffix: str = "_right",
    num_range_partitions: int | None = None,
    right_order_col: str | None = None,
) -> DataFrame:
    """As-of join — for each left row, attach the single right row whose
    ``on`` key is nearest under ``direction`` (pandas ``merge_asof``
    semantics, asserted against it in ``tests/test_joins_rollup.py``).

    An operator Spark lacks natively, expressed as a composition of
    built-ins (no UDFs, no per-row Python):

    - **tagged union + carry window**: right rows are unioned under the
      left schema with their payload packed into one struct; a
      ``last(payload, ignorenulls=True)`` RUNNING window over the ``on``
      order (right sorting BEFORE left at equal keys → matches are
      inclusive) attaches the latest right payload to every left row.
      ONE shuffle total — the same exchange sorts and joins.  The
      forward direction is the SAME running frame over the descending
      sort — never a ``currentRow → unboundedFollowing`` frame, which
      Spark evaluates by rescanning the partition tail per row (O(n²):
      measured minutes vs seconds at 10M rows).  ``nearest`` computes
      both carries over the one exchange (two sorts) and picks the
      smaller distance, ties → backward, as pandas.
    - ``by`` keys partition the window — the co-partitioned form.
      WITHOUT ``by``, a global window would funnel through one task, so
      the operator switches to the FDR/positional-join two-pass shape:
      value-derived range buckets from quantiles of ``on``, per-bucket
      windows, and a driver-side prefix/suffix scan over ONE row per
      bucket (each bucket's edge payloads) broadcast back as carry-in
      seeds for buckets the window cannot see past.
    - ``tolerance`` nulls the attached columns when the distance
      exceeds it — per direction BEFORE the nearest pick, as pandas;
      left rows are always preserved (left-outer shape).

    ``on`` must be numeric (cast temporal keys to epoch first — the
    events fixtures carry raw ns longs).  Right payload columns are
    appended, renamed with ``suffix`` on collision; ``__asof_<on>``
    carries the matched right key (NULL = no match).

    Duplicate right keys: a DataFrame has no input order, so
    ``right_order_col`` names the column giving the right rows' total
    order — backward keeps the greatest, forward the least, matching
    pandas' input-order tie rules when the column is the input
    position.  Without it, ties break deterministically on the packed
    payload struct's ordering.
    """
    by = list(by or [])
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    want_back = direction in ("backward", "nearest")
    want_fwd = direction in ("forward", "nearest")

    rcols = [c for c in right.columns if c != on and c not in by]
    out_names = [c + suffix if c in left.columns else c for c in rcols]
    payload = F.struct(F.col(on).alias("__t"), *[F.col(c) for c in rcols])
    tie_src = F.col(right_order_col) if right_order_col else payload
    r_tag = right.select(
        *by, F.col(on), F.lit(0).alias("__side"), payload.alias("__p"),
        tie_src.alias("__tie"),
    )
    l_tag = left.select(
        *by, F.col(on), F.lit(1).alias("__side"),
        F.lit(None).cast(r_tag.schema["__p"].dataType).alias("__p"),
        F.lit(None).cast(r_tag.schema["__tie"].dataType).alias("__tie"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    r_tag = r_tag.withColumn("__l", F.lit(None).cast(l_tag.schema["__l"].dataType))
    unioned = l_tag.unionByName(r_tag.select(*l_tag.columns))
    ptype = r_tag.schema["__p"].dataType

    # ascending order: equal-key rights precede the left row (inclusive
    # backward), duplicates resolve to the greatest tie via last().
    # descending order: strictly-later rights AND equal-key rights precede
    # the left row (inclusive forward), duplicates resolve to the least
    # tie via last() over (tie desc).
    asc_order = [
        F.col(on).asc_nulls_first(), F.col("__side").asc(), F.col("__tie").asc(),
    ]
    desc_order = [
        F.col(on).desc_nulls_last(), F.col("__side").asc(), F.col("__tie").desc(),
    ]
    running = lambda w: w.rowsBetween(Window.unboundedPreceding, Window.currentRow)  # noqa: E731

    spark = left.sparkSession
    if by:
        carried = unioned
        if want_back:
            carried = carried.withColumn(
                "__cb",
                F.last("__p", ignorenulls=True).over(
                    running(Window.partitionBy(*by).orderBy(*asc_order))
                ),
            )
        if want_fwd:
            carried = carried.withColumn(
                "__cf",
                F.last("__p", ignorenulls=True).over(
                    running(Window.partitionBy(*by).orderBy(*desc_order))
                ),
            )
    else:
        n = num_range_partitions or spark.sparkContext.defaultParallelism
        # Fused probe (r14, the fdr._global_two_pass pattern): ONE
        # monotone-fine-bucket histogram yields the load-balancing splits
        # AND the per-bucket edge payloads that previously took a second
        # driver job after the approxQuantile scan.  ``max_by`` skips
        # rows whose ordering key is NULL, so the CASE key confines the
        # edges to right rows exactly like the old ``__p IS NOT NULL``
        # pre-filter; per-bucket edges fold from per-fine edges on the
        # driver (fine is monotone in ``on``, so the max edge of a
        # bucket is the max edge of its highest fine value with any
        # right row, and ties on equal ``on`` stay within one fine).
        from pride_spark.operators.partitioning import (
            FINE,
            fine_bucket_sql,
            fine_histogram_partition,
        )

        fined = unioned.withColumn(
            FINE, F.expr(fine_bucket_sql(f"CAST(`{on}` AS DOUBLE)"))
        )
        edge_key = (
            f"CASE WHEN __p IS NOT NULL THEN named_struct('o', `{on}`, 't', __tie)"
            " END"
        )
        if n > 1:
            hist, chain = fine_histogram_partition(
                fined,
                n,
                [
                    F.expr(f"max_by(__p, {edge_key}) AS lp"),
                    F.expr(f"min_by(__p, {edge_key}) AS fp"),
                ],
            )
            bucket = F.when(F.col(on).isNull(), F.lit(-1)).otherwise(chain)
        else:
            hist, bucket = [], F.lit(0)
        part = fined.withColumn("__zb", bucket).drop(FINE)
        # fold fine-level edges to per-bucket (last, first) right payloads
        edge: dict[int, tuple] = {}
        for h in hist:  # hist is fine-ascending; later entries overwrite lp
            if h["lp"] is not None:
                prev = edge.get(h["pid"])
                edge[h["pid"]] = (h["lp"], prev[1] if prev else h["fp"])
        all_buckets = sorted(
            set([-1] + [h["pid"] for h in hist] + list(edge))
        )
        seeds_b, carry = {}, None
        for b in all_buckets:  # prefix scan: latest right payload BEFORE bucket b
            seeds_b[b] = carry
            if b in edge:
                carry = edge[b][0]
        seeds_f, carry = {}, None
        for b in reversed(all_buckets):  # suffix scan: first right AFTER bucket b
            seeds_f[b] = carry
            if b in edge:
                carry = edge[b][1]
        seed_rows = [
            (int(b), seeds_b.get(b), seeds_f.get(b))
            for b in all_buckets
            if seeds_b.get(b) is not None or seeds_f.get(b) is not None
        ]
        carried = part
        if want_back:
            carried = carried.withColumn(
                "__cb",
                F.last("__p", ignorenulls=True).over(
                    running(Window.partitionBy("__zb").orderBy(*asc_order))
                ),
            )
        if want_fwd:
            carried = carried.withColumn(
                "__cf",
                F.last("__p", ignorenulls=True).over(
                    running(Window.partitionBy("__zb").orderBy(*desc_order))
                ),
            )
        if seed_rows:
            seed_df = local_frame(
                spark,
                seed_rows,
                StructType(
                    [
                        StructField("__zb", IntegerType()),
                        StructField("__sb", ptype),
                        StructField("__sf", ptype),
                    ]
                ),
            )
            carried = carried.join(F.broadcast(seed_df), "__zb", "left")
            if want_back:
                carried = carried.withColumn(
                    "__cb", F.coalesce(F.col("__cb"), F.col("__sb"))
                )
            if want_fwd:
                carried = carried.withColumn(
                    "__cf", F.coalesce(F.col("__cf"), F.col("__sf"))
                )
            carried = carried.drop("__sb", "__sf")
        carried = carried.drop("__zb")

    matched = carried.filter(F.col("__side") == 1)
    if tolerance is not None:
        # per-direction mask BEFORE the nearest pick (pandas: nearest row
        # WITHIN tolerance, not tolerance applied to the nearest row)
        if want_back:
            matched = matched.withColumn(
                "__cb",
                F.when(
                    (F.col(on) - F.col("__cb.__t")) <= F.lit(tolerance), F.col("__cb")
                ),
            )
        if want_fwd:
            matched = matched.withColumn(
                "__cf",
                F.when(
                    (F.col("__cf.__t") - F.col(on)) <= F.lit(tolerance), F.col("__cf")
                ),
            )
    if direction == "backward":
        matched = matched.withColumn("__c", F.col("__cb"))
    elif direction == "forward":
        matched = matched.withColumn("__c", F.col("__cf"))
    else:
        b_t, f_t = F.col("__cb.__t"), F.col("__cf.__t")
        prefer_b = f_t.isNull() | (
            b_t.isNotNull() & ((F.col(on) - b_t) <= (f_t - F.col(on)))
        )
        matched = matched.withColumn(
            "__c", F.when(prefer_b, F.col("__cb")).otherwise(F.col("__cf"))
        )
    keep = F.col("__c").isNotNull()
    sel = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    sel += [
        F.when(keep, F.col(f"__c.{src}")).alias(dst)
        for src, dst in zip(rcols, out_names)
    ]
    sel.append(F.when(keep, F.col("__c.__t")).alias(f"__asof_{on}"))
    return matched.select(*sel)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    *,
    bin_width: int,
    how: str = "inner",
    suffix: str = "_right",
) -> DataFrame:
    """Range (point-in-interval) join — each point row meets every
    interval row with ``start <= point <= end``.

    An operator Spark lacks natively: expressed as a non-equi condition,
    Catalyst can only plan it as a broadcast-nested-loop (O(points ×
    intervals) comparisons — the plan that dies first at scale).  This
    is the standard BINNED formulation instead, a composition of
    built-ins with no UDFs:

    - points get one bin key: ``floor(point / bin_width)`` (narrow);
    - intervals explode to EVERY bin they overlap:
      ``sequence(floor(start/w), floor(end/w))`` — replication factor
      ``len/w + 1`` per interval, so pick ``bin_width`` near the typical
      interval length to keep it ~2×;
    - hash equi-join on the bin + residual ``BETWEEN`` filter.

    Each qualifying (point, interval) pair meets in EXACTLY one bin (the
    point's own), so no pair-level distinct is needed — the join output
    is the answer.  The shuffle is a plain hash exchange on the bin key:
    AQE's skew-join splitting handles hot bins (a dense time range), and
    both sides prune columns/filters into the scan as usual.  Cost is
    O(points + intervals·(len/w) + matches), versus the nested-loop's
    O(points·intervals).

    Intervals with ``end < start`` match nothing and are dropped before
    the explode (``sequence`` would otherwise descend).  ``how="left"``
    preserves unmatched point rows with NULL interval columns.

    ``point_col``/``start_col``/``end_col`` must be mutually comparable
    and integer-like (cast temporal columns to epoch days/seconds/micros
    first; ``bin_width`` is in the same unit).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"unknown how {how!r}")
    w = int(bin_width)
    if w <= 0:
        raise ValueError("bin_width must be positive")

    icols = [c for c in intervals.columns]
    out_names = [c + suffix if c in points.columns else c for c in icols]
    iv = intervals.select(
        *[F.col(c).alias(f"__i_{j}") for j, c in enumerate(icols)],
        F.col(start_col).alias("__s"),
        F.col(end_col).alias("__e"),
    ).filter(F.col("__e") >= F.col("__s"))
    iv = iv.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col("__s") / F.lit(w)), F.floor(F.col("__e") / F.lit(w))
            )
        ),
    ).drop("__s", "__e")

    pt = points
    if how == "left":
        # row id (not the point columns) keys the unmatched add-back, so
        # NULL payload values cannot re-admit a matched row.  The id is
        # nondeterministic across re-evaluations, and the matched and
        # left_anti branches below both read this subtree — persist so
        # __pid is computed exactly once (the caller's pinned_scope exit
        # or release_cached_state frees it).
        pt = register_pinned(
            pt.withColumn("__pid", F.monotonically_increasing_id()).persist()
        )
    pt = pt.withColumn("__bin", F.floor(F.col(point_col) / F.lit(w)))
    start_i = next(F.col(f"__i_{j}") for j, c in enumerate(icols) if c == start_col)
    end_i = next(F.col(f"__i_{j}") for j, c in enumerate(icols) if c == end_col)
    cond = (F.col(point_col) >= start_i) & (F.col(point_col) <= end_i)

    matched = pt.join(iv, "__bin").filter(cond).drop("__bin")
    if how == "inner":
        return matched.select(
            *points.columns,
            *[F.col(f"__i_{j}").alias(dst) for j, dst in enumerate(out_names)],
        )
    # left: add back points with no qualifying interval
    probe = matched.select("__pid").distinct()
    missing = pt.drop("__bin").join(probe, "__pid", "left_anti").select(
        "__pid",
        *points.columns,
        *[
            F.lit(None).cast(t.dataType).alias(f"__i_{j}")
            for j, t in enumerate(intervals.schema.fields)
        ],
    )
    sel = [
        *points.columns,
        *[F.col(f"__i_{j}").alias(dst) for j, dst in enumerate(out_names)],
    ]
    return matched.select(*sel).unionByName(missing.select(*sel))
