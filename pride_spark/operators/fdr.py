"""Target–decoy FDR and q-value computation — pure window functions.

Reproduces the semantics the reference delegates to PIA
(``/root/reference/src/.../proteomics/PIAModelerService.java:75-76,99-101``:
``calculateAllFDR`` / ``calculateCombinedFDRScore``; published definition in
Uszkoreit et al., J. Proteome Res. 2015).  Records sorted best-score-first:

    FDR(i)     = #decoys(rank ≤ i) / #targets(rank ≤ i)
    q-value(i) = min FDR(j) over all j ranked at-or-worse than i

Tie handling: RANGE frames keyed on the score itself, so every row with an
equal score receives identical FDR/q — deterministic under any partitioning
(the reference's sequential loop breaks ties by iteration order, which is
not reproducible; we replicate the *intended*, tie-stable semantics).

Scale: a naive ``Window.orderBy(score)`` is a single-partition sort — fatal
at 100 TB.  The default path here is a two-pass distributed version:
range-partition by score, per-partition RANGE-frame partials, then broadcast
per-partition offsets (SURVEY §4 "custom work actually needed" item 1).
"""

from __future__ import annotations

import time
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pride_spark.session import checkpoint, local_frame, register_pinned

_KEY, _PID = "__fdr_key", "__fdr_pid"

#: When a profiler sets this to a list, :func:`_global_two_pass` appends
#: ``(phase_name, seconds)`` tuples around each of its three boundary
#: materializations (histogram collect — the r14 fusion of the former
#: quantile probe + bucket-stats collect — FDR-window minima collect,
#: q-value checkpoint).  ``None`` (the default) is zero-cost.
#: Used by ``tools/profile_fdr_slope.py`` to attribute the factor-100
#: scaling slope (r12 verdict task #4); never set in production paths.
PHASE_LOG: list | None = None


def _phase(name: str, t0: float) -> None:
    if PHASE_LOG is not None:
        PHASE_LOG.append((name, round(time.time() - t0, 3)))


def add_fdr_qvalue(
    df: DataFrame,
    score_col: str,
    is_decoy_col: str,
    *,
    better: str = "higher",
    partition_cols: Sequence[str] | None = None,
    out_fdr: str = "fdr",
    out_qvalue: str = "qvalue",
    scalable: bool = True,
    num_range_partitions: int | None = None,
    lazy: bool = False,
) -> DataFrame:
    """Append ``fdr`` and ``qvalue`` columns.

    ``better='higher'`` means larger scores are better matches.  With
    ``partition_cols`` the computation is per-group (already distributed);
    without, ``scalable=True`` uses the two-pass global pattern and
    ``scalable=False`` a single global window (test/oracle path only).

    .. note:: **The global two-pass path MATERIALIZES eagerly.**  Its
       two boundary collects (per-bucket totals + per-bucket minima) are
       inherent to the shape, and the returned frame is an eager
       ``session.checkpoint`` so both intermediate caches can be released
       immediately instead of pinning executor storage for the session's
       lifetime (cache hygiene beats lazy purity here; decision recorded
       in ARCHITECTURE.md); the caller's ``session.pinned_scope`` exit
       or ``session.release_cached_state`` frees the checkpoint.  A
       plan-only caller — one that only wants to compose/``explain``
       without paying a full materialization yet — can pass
       ``lazy=True``: the checkpoint is skipped and the plan
       returned lazily, at the cost of the two intermediate caches
       staying pinned until the result is computed and
       ``session.pinned_scope`` exit or ``session.release_cached_state``
       frees them.
       The per-group and non-scalable paths are always lazy; ``lazy``
       has no effect there.
    """
    if better not in ("higher", "lower"):
        raise ValueError("better must be 'higher' or 'lower'")
    decoy = F.col(is_decoy_col).cast("long")
    target = F.lit(1) - decoy

    if partition_cols or not scalable:
        # null scores rank WORST in both directions (an unparseable legacy
        # score must not sit at the top of the target–decoy ranking):
        # nulls-last on the forward pass, nulls-FIRST on the reversed pass
        # so the cumulative min visits them before every scored row.
        # better='higher' matches Spark's defaults (desc=nulls-last,
        # asc=nulls-first); better='lower' needs the explicit variants.
        # Rendered as SQL text (r14 plan-build cost; identical parsed
        # expressions — tools/plan_normdiff.py).
        sc = f"`{score_col}`"
        ord_fwd = (
            f"{sc} DESC NULLS LAST" if better == "higher" else f"{sc} ASC NULLS LAST"
        )
        # q-value = min FDR over all rows ranked at-or-worse.  Expressed as a
        # cumulative min under the REVERSED ordering: Spark's
        # (currentRow, unboundedFollowing) RANGE frame re-aggregates per
        # frame — O(n²) per partition — while (unboundedPreceding,
        # currentRow) is incremental O(n).  Same result, same tie handling.
        ord_rev = (
            f"{sc} ASC NULLS FIRST" if better == "higher" else f"{sc} DESC NULLS FIRST"
        )
        part = (
            "PARTITION BY " + ", ".join(f"`{c}`" for c in partition_cols) + " "
            if partition_cols
            else ""
        )
        frame = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        dsql = f"CAST(`{is_decoy_col}` AS BIGINT)"
        w_cum = f"OVER ({part}ORDER BY {ord_fwd} {frame})"
        df = df.withColumn(
            out_fdr,
            F.expr(
                f"sum({dsql}) {w_cum} / "
                f"greatest(sum(1 - {dsql}) {w_cum}, 1)"
            ),
        )
        return df.withColumn(
            out_qvalue,
            F.expr(f"min(`{out_fdr}`) OVER ({part}ORDER BY {ord_rev} {frame})"),
        )

    return _global_two_pass(
        df, score_col, decoy, target, better, out_fdr, out_qvalue,
        num_range_partitions, lazy,
    )


def _global_two_pass(
    df: DataFrame,
    score_col: str,
    decoy,
    target,
    better: str,
    out_fdr: str,
    out_qvalue: str,
    num_range_partitions: int | None,
    lazy: bool = False,
) -> DataFrame:
    """Distributed global-order FDR: value-derived buckets + broadcast offsets.

    Pass 0+1 (fused, r14): ONE monotone-fine-bucket histogram of the
    badness key (see ``partitioning.fine_bucket_sql``) → bucket boundaries AND
    exact per-bucket decoy/target totals → driver prefix sums.  The
    coarse bucket is ``#splits strictly below fine(key)`` — a pure value
    function, so EQUAL keys always land in the same bucket (tie-stable)
    and bucketing is immune to AQE partition coalescing/splitting
    (unlike ``spark_partition_id`` over ``repartitionByRange``).
    Pass 2: ONE hash shuffle on the bucket: RANGE-frame cumsums + broadcast
    offsets → FDR; cached with its partitioning, so
    Pass 3's per-bucket suffix-min window reuses the same exchange, and the
    cross-bucket suffix-min (one row per bucket) broadcasts back.
    Nothing ever lands on a single task.
    """
    spark = df.sparkSession
    n = num_range_partitions or spark.sparkContext.defaultParallelism
    # Ascending "badness" key: smaller = better match.  A null score maps
    # to +inf so unscored rows rank WORST everywhere downstream (bucket
    # assignment, in-bucket RANGE frames) — the raw null would land in
    # bucket 0 (the filter predicate is null → dropped) and sort FIRST in
    # the ascending in-bucket window, i.e. best.
    key = -F.col(score_col) if better == "higher" else F.col(score_col)
    keyed = df.withColumn(_KEY, F.coalesce(key.cast("double"), F.lit(float("inf"))))

    # Pass 0+1 fused (r14, r13-verdict task #4): ONE aggregation over the
    # monotone fine bucket (partitioning.fine_bucket_sql) yields the
    # boundary candidates AND the exact per-range decoy/target totals —
    # the shape previously took two driver jobs (an approxQuantile scan,
    # then a per-bucket stats collect that scanned the input again).
    # Because fine ranges are order-contiguous in _KEY and equal keys
    # share a fine value, any boundary choice over fine values reproduces
    # the global ordering exactly (boundaries still only balance load:
    # FDR/q-values are provably bucket-boundary-invariant — offsets +
    # in-bucket RANGE cumsums telescope to the global cumsum).
    from pride_spark.operators.partitioning import (
        FINE,
        fine_bucket_sql,
        fine_histogram_partition,
    )

    _t0 = time.time()
    fined = keyed.withColumn(FINE, F.expr(fine_bucket_sql(_KEY)))
    if n > 1:
        hist, bucket = fine_histogram_partition(
            fined, n, [F.sum(decoy).alias("d"), F.sum(target).alias("t")]
        )
    else:  # degenerate single-bucket request (test path only): no probe job
        hist, bucket = [], F.lit(0)
    _phase("histogram_collect", _t0)

    # prefix offsets per coarse bucket: totals of all better rows.
    # _KEY is never NULL here (coalesced to +inf above), so no -1 bucket.
    n_pids = (max((h["pid"] for h in hist), default=0)) + 1
    offsets, cd, ct = [], 0, 0
    for pid in range(n_pids):
        offsets.append((pid, cd, ct))
        cd += sum(h["d"] for h in hist if h["pid"] == pid)
        ct += sum(h["t"] for h in hist if h["pid"] == pid)
    part = register_pinned(
        fined.withColumn(_PID, bucket).drop(FINE).persist()
    )
    off_df = local_frame(spark, offsets, f"{_PID} int, __off_d long, __off_t long")

    w_cum = Window.partitionBy(_PID).orderBy(_KEY).rangeBetween(Window.unboundedPreceding, Window.currentRow)
    with_fdr = (
        part.join(F.broadcast(off_df), _PID)
        .withColumn(
            out_fdr,
            (F.sum(decoy).over(w_cum) + F.col("__off_d"))
            / F.greatest(F.sum(target).over(w_cum) + F.col("__off_t"), F.lit(1)),
        )
        .persist()
    )
    with_fdr = register_pinned(with_fdr)
    # Suffix minimum across buckets: min FDR of every worse bucket.
    _t0 = time.time()
    pid_min = {
        r[_PID]: r["m"] for r in with_fdr.groupBy(_PID).agg(F.min(out_fdr).alias("m")).collect()
    }
    _phase("fdr_window_minima_collect", _t0)
    suffix, running = [], float("inf")
    for pid in sorted(pid_min, reverse=True):
        suffix.append((pid, running))  # min over strictly-later buckets
        running = min(running, pid_min[pid])
    later_df = local_frame(
        spark,
        [(p, None if m == float("inf") else m) for p, m in suffix],
        f"{_PID} int, __later_min double",
    )
    # suffix-min as an incremental cumulative min under DESC key order (the
    # (currentRow, unboundedFollowing) frame is O(n²) per partition).
    w_suffix = (
        Window.partitionBy(_PID)
        .orderBy(F.col(_KEY).desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        with_fdr.join(F.broadcast(later_df), _PID)
        .withColumn(
            out_qvalue,
            F.least(F.min(out_fdr).over(w_suffix), F.coalesce("__later_min", F.lit(float("inf")))),
        )
        .drop(_KEY, _PID, "__off_d", "__off_t", "__later_min")
    )
    if lazy:
        # plan-only escape hatch (see add_fdr_qvalue docstring): no
        # checkpoint, no materialization; the two intermediate caches
        # stay pinned (the caller's pinned_scope or release_cached_state
        # frees them) because unpersisting here would make first use
        # recompute the whole two-pass pipeline cacheless.
        return out
    # materialize the result once so BOTH intermediate caches can be
    # released now — a bare persist here would pin executor storage for the
    # session's lifetime; the checkpoint is registered like every other
    # (session.checkpoint), so pinned_scope / release_cached_state free it.
    # eager=True does cost plan-only callers a full materialization, but
    # any caller already paid the two boundary collects above (inherent to
    # the two-pass shape), and eager=False would force unpersisting the
    # inputs before the checkpoint materializes — recomputing the whole
    # pipeline cacheless on first use
    _t0 = time.time()
    out = checkpoint(out, eager=True)
    _phase("qvalue_checkpoint", _t0)
    with_fdr.unpersist()
    part.unpersist()
    return out


def repair_zero_qvalues(df: DataFrame, qvalue_col: str = "qvalue", scale: int = 6) -> DataFrame:
    """A2 — replace q==0 with ``round(min(positive q)/10, 6)`` (HALF_UP).

    Ref: PrideAnalysisAssayService.java:508-509,608,627; formula at
    utility/SubmissionPipelineUtils.java:368-377.  The global scalar is a
    one-row aggregate broadcast back — no shuffle of the fact table.
    """
    q = F.col(qvalue_col)
    min_pos = df.select(F.min(F.when(q > 0, q)).alias("m"))
    # Spark's round() is HALF_UP for positive values — matches BigDecimal.
    repaired = F.when(q > 0, q).otherwise(F.round(F.col("m") / 10, scale))
    return df.crossJoin(F.broadcast(min_pos)).withColumn(qvalue_col, repaired).drop("m")


def top_n_per_spectrum(
    df: DataFrame,
    n: int = 1,
    spectrum_cols: Sequence[str] = ("spectrumId",),
    score_col: str = "searchEngineScore",
    better: str = "higher",
    tie_cols: Sequence[str] = ("psmId",),
) -> DataFrame:
    """Keep the N best identifications per spectrum.

    Ref: PIA ``setAllTopIdentifications(0|1)`` at PIAModelerService.java:67,114.
    Deterministic tie-break on ``tie_cols`` so results are reproducible.
    """
    # nulls last in BOTH directions: an unscored identification must not
    # outrank a scored one under better='lower' (asc() is nulls-first)
    order = [
        F.col(score_col).desc_nulls_last()
        if better == "higher"
        else F.col(score_col).asc_nulls_last()
    ]
    order += [F.col(c) for c in tie_cols]
    w = Window.partitionBy(*spectrum_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def combined_fdr_score(
    df: DataFrame,
    score_col: str,
    is_decoy_col: str,
    engine_set_col: str,
    *,
    better: str = "higher",
    out_col: str = "combinedFdrScore",
    interpolate: bool = True,
) -> DataFrame:
    """PIA's Combined FDR Score — interpolated q-values per
    engine-combination group.

    Ref: ``calculateCombinedFDRScore`` invoked at
    ``/root/reference/src/.../proteomics/PIAModelerService.java:76``;
    published semantics (Jones et al., Proteomics 2009): PSMs are grouped
    by WHICH search engines identified them, the target–decoy q-value is
    computed within each combination group, and each PSM then receives the
    *FDR score*: the q-value step function linearly interpolated between
    successive step points (rows where the monotone q-value increases), so
    scores are smooth, strictly informative between decoy hits, and
    comparable across engines.

    Plan shape: the per-group branch of :func:`add_fdr_qvalue`
    (partitioned RANGE windows), then the interpolation as three more
    window passes over the SAME partition key — Spark stacks them over one
    exchange; no global sort anywhere.  Rows at a q-value plateau tie-
    robustly interpolate between the surrounding step points (step rows
    evaluate to exactly their q-value).  ``interpolate=False`` returns the
    raw stepped per-group q-value.
    """
    out = add_fdr_qvalue(
        df,
        score_col,
        is_decoy_col,
        better=better,
        partition_cols=[engine_set_col],
        out_fdr="__grp_fdr",
        out_qvalue="__grp_q" if interpolate else out_col,
    ).drop("__grp_fdr")
    if not interpolate:
        return out

    # null score → +inf badness, consistent with add_fdr_qvalue: unscored
    # rows sit at the worst end of the interpolation axis instead of
    # sorting first (null-first) and anchoring the q-value step function.
    # All expressions below render as SQL text (r14 plan-build cost;
    # identical parsed trees — tools/plan_normdiff.py): repeated window
    # references are textually identical, so the analyzer's window
    # extraction computes each once exactly as with shared Column objects.
    neg = "-" if better == "higher" else ""
    d = out.withColumn(
        "__k",
        F.expr(
            f"coalesce(CAST({neg}`{score_col}` AS DOUBLE),"
            " CAST('Infinity' AS DOUBLE))"
        ),
    )
    eg = f"`{engine_set_col}`"
    prev_q = f"lag(__grp_q) OVER (PARTITION BY {eg} ORDER BY __k)"
    d = d.withColumn(
        "__step",
        F.expr(
            f"CASE WHEN ({prev_q} IS NULL OR __grp_q > {prev_q}) "
            "THEN named_struct('x', __k, 'q', __grp_q) END"
        ),
    )
    # RANGE frames, not ROWS: a ROWS frame makes knot visibility depend on
    # the intra-tie row order — a row tied with its group's step row could
    # sit after it in the forward ordering but before it in the backward
    # ordering (the two sorts order peers independently), yielding
    # interpolation bounds that change across shuffles/engines (caught by
    # the sf1 gate on a 10×-duplicated corpus: 773/1.5M rows off at ~1e-5).
    # A RANGE frame includes ALL score-peers, and the only non-null step
    # struct among peers is the group's single step row, so
    # last(ignorenulls) is value-deterministic under any tie order.
    frame = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    prev = f"last(__step, true) OVER (PARTITION BY {eg} ORDER BY __k {frame})"
    nxt = f"last(__step, true) OVER (PARTITION BY {eg} ORDER BY __k DESC {frame})"
    interp = (
        f"CASE WHEN ({prev} IS NULL OR {nxt} IS NULL OR ({nxt}).x = ({prev}).x) "
        "THEN __grp_q "
        f"ELSE ({prev}).q + (({nxt}).q - ({prev}).q) * "
        f"((__k - ({prev}).x) / (({nxt}).x - ({prev}).x)) END"
    )
    return d.withColumn(out_col, F.expr(interp)).drop("__k", "__step", "__grp_q")


def group_psm_sets(
    df: DataFrame,
    *,
    spectrum_key_col: str | Sequence[str] = "sourceId",
    charge_col: str = "precursorCharge",
    sequence_col: str = "peptideSequence",
    modifications_col: str = "modifications",
    consider_modifications: bool = True,
    form_col: str | None = None,
    score_col: str = "score",
    better: str = "higher",
    file_col: str = "fileName",
    psm_id_col: str = "psmId",
    decoy_col: str = "isDecoy",
    engine_col: str = "scoreAccession",
    out_engine_set: str = "engineSet",
    out_members: str = "setMembers",
    out_size: str = "setSize",
) -> DataFrame:
    """PIA's merged-files PSM-SET grouping (``createPSMSets(true)``).

    The reference's multi-file merge path compiles every result file into
    one PIA model and groups identical identifications — same spectrum,
    same peptidoform, same charge — coming from DIFFERENT result files
    into one ReportPSMSet BEFORE FDR (``PIAModelerService.java:111-114``;
    the single-file path sets ``false`` at ``:64``, which is what a plain
    ``unionByName`` merge matches).  Without this step a three-engine
    merged submission counts the same underlying identification three
    times in every FDR denominator.

    Set semantics (PIA, Uszkoreit et al. 2015):

    - key = (spectrum reference, peptidoform, charge); with
      ``consider_modifications=False`` the plain sequence replaces the
      peptidoform (PIA's ``considerModifications`` toggle — the merged
      path runs ``false``, ``PIAModelerService.java:124``).
    - the set's score is its BEST member score (FDR then ranks sets);
      the returned row is the best-scoring member's row (deterministic
      tie-break on (file, psmId)) so every downstream column keeps its
      meaning.
    - a set is decoy only if ALL members are decoy (a target hit anywhere
      makes the identification a target).
    - provenance: ``setMembers`` (sorted (file, psmId, score) structs),
      ``setSize``, and ``engineSet`` — the sorted distinct engine key
      (score accession, falling back to the file name), which is exactly
      the grouping column :func:`combined_fdr_score` consumes.

    Plan shape: ONE hash exchange on the set key serves the best-member
    rank, the provenance collects, and the set-decoy vote (stacked
    windows over the same partitioning — Catalyst reuses the exchange).
    Set cardinality is bounded by the number of result files in the
    submission (a handful), so partitions stay balanced at any corpus
    size.
    """
    from pride_spark.functions.proforma import encode_peptidoform

    if better not in ("higher", "lower"):
        raise ValueError("better must be 'higher' or 'lower'")
    if form_col is not None:
        # caller already carries the peptidoform (e.g. prepare_psms output,
        # where `modifications` was renamed away) — use it directly
        form = F.col(form_col)
    elif consider_modifications:
        mods = F.coalesce(
            F.col(modifications_col),
            F.array().cast("array<struct<position:int,accession:string,name:string>>"),
        )
        form = encode_peptidoform(sequence_col, mods, charge_col)
    else:
        form = F.col(sequence_col)
    keyed = df.withColumn("__setform", form)
    # spectrum identity may be composite — e.g. the pipeline's
    # (fileName, spectrumKey), where fileName is the spectra namespace:
    # two fractions' scan 100 must never collapse into one set
    spec_keys = (
        [spectrum_key_col] if isinstance(spectrum_key_col, str) else list(spectrum_key_col)
    )
    keys = [*spec_keys, "__setform", charge_col]
    w = Window.partitionBy(*keys)
    # nulls LAST in both directions: a member with no score (e.g. a PRIDE
    # XML identification whose score didn't parse) must never beat a real
    # score for set representative (plain asc() is nulls-FIRST in Spark,
    # which with better='lower' would crown the null row)
    order = [
        F.col(score_col).desc_nulls_last()
        if better == "higher"
        else F.col(score_col).asc_nulls_last(),
        F.col(file_col),
        F.col(psm_id_col),
    ]
    member = F.struct(
        F.col(file_col).alias("fileName"),
        F.col(psm_id_col).alias("psmId"),
        F.col(score_col).alias("score"),
    )
    engine = F.coalesce(F.col(engine_col), F.col(file_col))
    return (
        keyed.withColumn("__rn", F.row_number().over(w.orderBy(*order)))
        .withColumn(out_members, F.sort_array(F.collect_list(member).over(w)))
        .withColumn(out_size, F.size(F.col(out_members)))
        .withColumn(
            out_engine_set,
            F.array_join(F.sort_array(F.collect_set(engine).over(w)), ";"),
        )
        .withColumn(decoy_col, F.bool_and(F.col(decoy_col)).over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__setform")
    )
