"""Native approximate spectral clustering — the in-engine MaraCluster
substitute (SURVEY §2.14b).

The reference shells out to the MaraCluster container between MGF export
and inference (``/root/reference/submissions.nf:245-269``) and re-ingests
its TSV (S11).  This operator reproduces the *capability* — group MS2
spectra whose fragment patterns are near-identical — with an in-engine
Spark pipeline that never leaves the DataFrame layer:

1. **Peak binning** (JVM HOFs): keep the ``top_k`` most intense peaks,
   quantize m/z into ``bin_width``-sized integer bins → a small sorted
   bin set per spectrum.
2. **Precursor blocking**: candidate pairs must fall in the same
   precursor-m/z window (MaraCluster compares only precursor-close
   spectra).  Each spectrum lands in its floor bin AND its half-shifted
   bin, so pairs straddling a bin edge are still co-blocked.
3. **LSH banding** (minhash over the bin set): spectra sharing
   (precursor bin, band, band-hash) meet in one equi-join bucket —
   no O(n²) comparison anywhere.
4. **Jaccard gate**: candidate pairs are kept when bin-set Jaccard ≥
   ``threshold`` (cheap JVM array intersect on the already-tiny sets).
5. **Connected components** (``operators.graph``): transitively merge
   surviving pairs; clusterId = min spectrum key in the component.

Scale: stages 1–4 are narrow or single-shuffle; candidate volume is
controlled by (bands × rows_per_band) exactly like the text-dedup LSH
(``operators/dedup.py``), and the CC loop runs on (node, label) pairs
only.  Output matches the S11 cluster table shape, so
``plans/perform_inference.py`` consumes either source unchanged.

:func:`cluster_spectra_multi` runs SEVERAL methods over one corpus while
sharing the expensive stages: peak binning (and the minhash signature
shuffle, when any method needs it) is computed once and persisted, and
the per-method edge sets are merged into ONE connected-components pass
over their disjoint union — each node is tagged ``struct(t, k)`` with
its method ordinal, so components can never bridge methods and the
per-round fixed cost (checkpoint + convergence aggregate) is paid once
instead of once per method.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pride_spark.operators.dedup import jaccard_of_sets_sql
from pride_spark.operators.graph import connected_components
from pride_spark.operators.lsh_common import cap_buckets
from pride_spark.operators.similarity import _d
from pride_spark.session import register_pinned


def bin_peaks_sql(
    masses_sql: str,
    intensities_sql: str,
    *,
    top_k: int = 50,
    bin_width: float = 1.0005,
) -> str:
    """Top-k-by-intensity peaks → sorted distinct integer m/z bins, as
    SQL text over the SQL expressions ``masses_sql``/``intensities_sql``.

    ``bin_width`` defaults to the averagine spacing (1.0005 Da) used by
    spectral-archive tools so isotopic peaks land in adjacent bins.
    Peaks are ROUNDED to the nearest bin center (not floored): replicate
    spectra jitter around the true m/z, and a floor splits peaks sitting
    near a bin edge into different bins, collapsing the pair's Jaccard.
    """
    pairs = (
        f"reverse(array_sort(zip_with({intensities_sql}, {masses_sql}, "
        "(x, y) -> named_struct('i', x, 'mz', y))))"
    )
    return (
        "array_sort(array_distinct(transform("
        f"slice({pairs}, 1, {top_k}), "
        f"p -> CAST(floor(p.mz / {_d(bin_width)} + {_d(0.5)}) AS BIGINT))))"
    )


# ---------------------------------------------------------------------------
# shared pipeline stages
# ---------------------------------------------------------------------------

def _binned_frame(
    spectra: DataFrame,
    key_col: str,
    masses_col: str,
    intensities_col: str,
    precursor_col: str,
    top_k: int,
    bin_width: float,
) -> DataFrame:
    """(key, pmz, bins) — stage 1, shared by every method.

    No-peak spectra (empty/null arrays → ``bins = []``) are KEPT: the
    output contract is one row per input spectrum, so they ride through
    to the singleton fill (their own key as clusterId) and are excluded
    from candidate generation at the ``reps`` stage instead (r9 review —
    the former ``size(bins) > 0`` filter here silently dropped them from
    the output entirely)."""
    bins = bin_peaks_sql(
        f"`{masses_col}`", f"`{intensities_col}`", top_k=top_k, bin_width=bin_width
    )
    return spectra.selectExpr(
        f"`{key_col}` AS key",
        f"`{precursor_col}` AS pmz",
        f"coalesce({bins}, CAST(array() AS ARRAY<BIGINT>)) AS bins",
    )


def _sig_frame(binned: DataFrame, num_hashes: int, hash_fn: str) -> DataFrame:
    """(key, pmz, bins, sig) — minhash signature for the LSH method.

    Explode → per-row codegen hashes → groupBy-min (the
    minhash_signatures_df shape from operators/dedup.py).  The earlier
    in-row HOF formulation (array_min over a transform per seed) was a
    CollapseProject trap: Catalyst inlines the whole interpreted
    signature tree into every downstream banded row, so the 16-seed ×
    n_digests md5 work was recomputed PER EXPLODED ROW — measured 25 s
    for 16 k banded rows at sf0.1 vs ~1 s for this shape.  One shuffle
    of (key, bin) rows, all whole-stage codegen; the min-agg then joins
    back to the binned frame on its key.
    """
    # expression families rendered as SQL text (r14 plan-build cost;
    # identical parsed expressions — tools/plan_normdiff.py)
    binrows = binned.selectExpr("key", "explode(bins) AS b")
    if hash_fn == "md5":
        # chunked md5 (as in dedup.minhash_signatures_df): 4 independent 8-hex-char
        # minhash values per digest, one md5 per (bin, seed-group)
        n_digests = (num_hashes + 3) // 4
        digests = binrows.selectExpr(
            "key",
            *[
                f"md5(concat('{d}|', CAST(b AS STRING))) AS d{d}"
                for d in range(n_digests)
            ],
        )
        hashed = digests.selectExpr(
            "key",
            *[
                f"substring(d{s // 4}, {(s % 4) * 8 + 1}, 8) AS h{s}"
                for s in range(num_hashes)
            ],
        )
    else:
        hashed = binrows.selectExpr(
            "key",
            *[f"xxhash64(b, {s}) AS h{s}" for s in range(num_hashes)],
        )
    mins = hashed.groupBy("key").agg(
        *[F.expr(f"min(h{s}) AS mh{s}") for s in range(num_hashes)]
    )
    return binned.join(mins, "key").selectExpr(
        "key",
        "pmz",
        "bins",
        f"array({', '.join(f'mh{s}' for s in range(num_hashes))}) AS sig",
    )


def _rep_collapse(binned: DataFrame) -> DataFrame:
    """``binned`` + a ``rep`` column: the min key among rows with
    IDENTICAL ``(pmz, bins)`` — exact-duplicate spectra collapse to one
    representative BEFORE candidate generation.

    Label-invariance proof: duplicates of a spectrum always receive an
    edge to each other in the uncapped graph (identical pmz → identical
    precursor blocks; identical bins → identical signature, band digests
    and Jaccard = 1 ≥ any threshold), so a duplicate group is always a
    clique inside one component — and since the representative is the
    group's MIN key, the component's min-label is the same whether the
    other members participate in the graph or not.  Cluster labels are
    therefore IDENTICAL to the uncollapsed run (asserted against the
    oracle-gated output in tests/test_graph_spectral.py).

    Scale rationale: within-bucket pair generation is quadratic in
    duplicate multiplicity — a corpus where every spectrum has c copies
    pays c² candidate edges per true pair, all redundant.  On the
    factor-10 stress corpus (every spectrum ×10) this collapsed the lsh
    edge list 3.27 M → ~33 K and the sf1 production row ~18 s → under
    the 12 s bar; on organic data (no exact dups) the window is a
    cheap no-op pass.  This is the standard 100 TB pipeline shape:
    exact-dedup first, near-dup search over distinct content only.

    Only applied by the callers when ``max_bucket`` is None: with a cap,
    bucket membership (and thus which pairs the cap drops) is defined on
    the UNCOLLAPSED rows, and the cap-drop accounting must not change.

    NULL-pmz rows are NOT collapsed (``rep = key``): in the uncollapsed
    graph they never co-block (``floor(null/w)`` is null and the pblock
    equi-join never matches nulls), so they are always singletons — the
    window would otherwise merge identical-``bins`` null-pmz rows into
    one cluster, breaking the label-identity contract above.
    """
    # empty-bins rows are likewise uncollapsed: they never reach
    # candidate generation (filtered at the reps stage), so in the
    # uncollapsed graph they are always singletons
    return binned.withColumn(
        "rep",
        F.expr(
            "CASE WHEN pmz IS NULL OR size(bins) = 0 THEN key"
            " ELSE min(key) OVER (PARTITION BY pmz, bins) END"
        ),
    )


def _has_duplicates(binned: DataFrame) -> bool:
    """One pass over the (persisted) binned frame: is the corpus
    MEANINGFULLY duplicated (``count > 1.2 × distinct(pmz, bins)``)?
    Used to skip the collapse window entirely on organic corpora — the
    window shuffle measured +2.5 s on the dup-free sf0.1 bench corpus
    (best-of-5 A/B: 8.1 s collapsed vs 5.6 s raw) while saving 34 s on
    the factor-10 duplicate corpus.

    The distinct count is ``approx_count_distinct`` (HLL, default 5%
    rsd), NOT exact: an exact distinct over ``(pmz, bins)`` shuffles the
    full bin arrays — measured as expensive as the window it gates
    (probe-gated default 11.0 s vs 7.2 s raw in the same A/B) — while
    the HLL partial aggregates map-side and shuffles sketches.  Approx
    is SAFE here because collapse is purely an optimization (labels are
    provably identical either way, see :func:`_rep_collapse`): a missed
    low-duplication corpus just runs uncollapsed, which below ~1.2×
    duplication is the faster plan anyway.  The 1.2 threshold sits
    safely above HLL noise and below any duplication level where the
    quadratic candidate term dominates.  Null-pmz rows are excluded
    (never collapsed)."""
    row = (
        binned.filter(F.col("pmz").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.struct("pmz", "bins")).alias("d"),
        )
        .first()
    )
    return bool(row["n"] > 1.2 * row["d"])


def _pbs_sql(precursor_window: float) -> str:
    """Two overlapping precursor blocks per spectrum (floor + half-shift),
    so pairs straddling a block edge are still co-blocked.  Every
    candidate row carries the FULL array so the join can apply
    FIRST-COLLISION-WINS on the smallest shared block.  SQL text (r14)."""
    w = _d(precursor_window)
    return (
        f"array_distinct(array(floor(pmz / {w}),"
        f" floor(pmz / {w} + {_d(0.5)})))"
    )


# bucket-size cap: shared lsh_common primitive.  NOTE this path uses the
# cap ALONE (no null-masked band rebuild): by the documented contract a
# pair whose first-colliding bucket is capped counts as cap-dropped even
# if a later bucket survives — over-cap spectra are mutually
# near-identical and collapsed upstream.
_cap_frame = cap_buckets


#: the smallest shared precursor block wins — dedups the 2×2 block
#: overlap (SQL text, r14 — parsed once per query build)
_FIRST_BLOCK_SQL = "pblock = array_min(array_intersect(pbs_a, pbs_b))"


def _pairs_block(
    binned: DataFrame, precursor_window: float, max_bucket: int | None, threshold: float
) -> DataFrame:
    """All-pairs-within-precursor-block candidates + Jaccard gate →
    (key_a, key_b).  Deterministic and exact (the oracle/recall baseline),
    at O(block²) cost."""
    blocked = _cap_frame(
        binned.selectExpr("key", "bins", f"{_pbs_sql(precursor_window)} AS pbs")
        .selectExpr("key", "bins", "pbs", "explode(pbs) AS pblock"),
        ["pblock"],
        max_bucket,
    )
    left = blocked.selectExpr(
        "key AS key_a", "bins AS bins_a", "pbs AS pbs_a", "pblock"
    )
    right = blocked.selectExpr(
        "key AS key_b", "bins AS bins_b", "pbs AS pbs_b", "pblock"
    )
    cand = left.join(right, ["pblock"]).filter(_FIRST_BLOCK_SQL)
    return (
        cand.filter("key_a < key_b")
        .filter(f"{jaccard_of_sets_sql('bins_a', 'bins_b')} >= {_d(threshold)}")
        .select("key_a", "key_b")
    )


def _pairs_lsh(
    sigs: DataFrame,
    precursor_window: float,
    bands: int,
    rows_per_band: int,
    hash_fn: str,
    max_bucket: int | None,
    threshold: float,
) -> DataFrame:
    """Banded-minhash candidates + Jaccard gate → (key_a, key_b).

    FIRST-COLLISION-WINS: a pair meeting in several (pblock, band)
    buckets is emitted only where pblock is the smallest shared block and
    band is the first agreeing band — the same pair set as
    emit-everywhere + dropDuplicates, minus the pair-level dedup shuffle
    over the (up to 2·bands ×) duplicated candidate explosion.  When a
    ``max_bucket`` cap drops the first-colliding bucket, the pair counts
    as cap-dropped even if a later bucket survives (the cap's contract:
    over-cap members are mutually near-identical)."""

    # band digest over the signature slice; hash family follows the
    # signature's (md5 digests compare as strings, same banding shape)
    def _band_digest(b: int) -> str:
        joined = (
            f"array_join(transform(slice(sig, {b * rows_per_band + 1},"
            f" {rows_per_band}), x -> CAST(x AS STRING)), ',')"
        )
        return f"md5({joined})" if hash_fn == "md5" else f"xxhash64({joined})"

    digs = f"array({', '.join(_band_digest(b) for b in range(bands))})"
    buckets = _cap_frame(
        sigs.selectExpr(
            "key", "bins", f"{_pbs_sql(precursor_window)} AS pbs", f"{digs} AS digs"
        )
        .selectExpr("key", "bins", "pbs", "digs", "explode(pbs) AS pblock")
        .selectExpr(
            "key", "bins", "pbs", "digs", "pblock",
            "posexplode(digs) AS (band, bandHash)",
        ),
        ["pblock", "band", "bandHash"],
        max_bucket,
    )
    left = buckets.selectExpr(
        "key AS key_a", "bins AS bins_a", "pbs AS pbs_a", "digs AS digs_a",
        "pblock", "band", "bandHash",
    )
    right = buckets.selectExpr(
        "key AS key_b", "bins AS bins_b", "pbs AS pbs_b", "digs AS digs_b",
        "pblock", "band", "bandHash",
    )
    first_band = (
        "array_position(zip_with(digs_a, digs_b, (x, y) -> x = y), true)"
        " = band + 1"
    )
    cand = left.join(right, ["pblock", "band", "bandHash"]).filter(
        f"({_FIRST_BLOCK_SQL}) AND ({first_band})"
    )
    return (
        cand.filter("key_a < key_b")
        .filter(f"{jaccard_of_sets_sql('bins_a', 'bins_b')} >= {_d(threshold)}")
        .select("key_a", "key_b")
    )


def _method_pairs(
    method: str,
    binned: DataFrame,
    *,
    precursor_window: float,
    num_hashes: int,
    bands: int,
    hash_fn: str,
    max_bucket: int | None,
    threshold: float,
    sigs: DataFrame | None = None,
) -> DataFrame:
    if method == "block":
        return _pairs_block(binned, precursor_window, max_bucket, threshold)
    if method == "lsh":
        if sigs is None:
            sigs = _sig_frame(binned, num_hashes, hash_fn)
        return _pairs_lsh(
            sigs, precursor_window, bands, num_hashes // bands, hash_fn,
            max_bucket, threshold,
        )
    raise ValueError(f"unknown method {method!r} (expected 'lsh' or 'block')")


def cluster_spectra(
    spectra: DataFrame,
    key_col: str = "usi",
    *,
    masses_col: str = "masses",
    intensities_col: str = "intensities",
    precursor_col: str = "precursorMz",
    precursor_window: float = 2.0,
    top_k: int = 50,
    bin_width: float = 1.0005,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    method: str = "lsh",
    hash_fn: str = "xx64",
    max_bucket: int | None = None,
    collapse_duplicates: bool | None = None,
) -> DataFrame:
    """→ ``(key, clusterId)`` — one row per input spectrum; singletons keep
    their own key as clusterId (MaraCluster's TSV likewise lists every
    spectrum, S11/``PSMClusteringService.java:64-89``).

    ``method="lsh"`` (default) generates candidates via minhash banding —
    the 100 TB path.  ``method="block"`` compares ALL pairs inside each
    precursor block: deterministic (no hash dependence, so cross-engine
    oracle-able) and exact, at O(block²) cost — the recall baseline for
    the LSH path (tests/test_graph_spectral.py).

    ``hash_fn`` selects the minhash/banding hash family for the lsh
    method: ``"xx64"`` (default) is Spark's xxhash64 — fastest, but
    engine-specific; ``"md5"`` derives each minhash value as an
    8-hex-char chunk of ``md5(f"{seed}|{bin}")`` (four values per digest,
    same chunking as ``dedup.minhash_signatures_df``) and each band digest as the
    md5 of the band slice — bit-reproducible in any engine with md5, so
    the PRODUCTION candidate path (banding, first-collision emission,
    Jaccard gate, connected components) gets a DuckDB oracle row
    (registry q48) instead of only the O(block²) oracle mode.  Same plan
    shape either way; the hash family only changes which pairs collide.

    ``max_bucket`` drops candidate buckets (the LSH ``(pblock, band,
    bandHash)`` key, or the block-mode ``pblock`` key) larger than the cap
    before the self-join — the quadratic within-bucket term is unbounded on
    adversarial inputs (all-identical spectra) no matter how AQE splits the
    partitions; capped members are mutually near-identical and survive via
    exact dedup upstream.  NB the cap composes with first-collision pair
    emission: a pair whose FIRST shared bucket (smallest shared pblock /
    first agreeing band) was capped is dropped even if a later shared
    bucket survives — so block mode is deterministic and exact only with
    ``max_bucket=None`` (the oracle configuration); with a cap it shares
    the LSH path's cap contract.

    EAGERNESS NOTE: this operator is eager by construction — the
    connected-components driver loop executes Spark actions while the
    call builds its result, so the clustering cost is paid AT CALL TIME,
    not at the first action on the returned frame.  Additionally, with
    ``collapse_duplicates=None`` (the default) and ``max_bucket=None``
    one extra ``approx_count_distinct`` probe job decides whether
    duplicate collapse pays for itself (see ``_has_duplicates``); pass
    an explicit boolean to skip that probe (the verdict is memoized per
    corpus by callers that loop, e.g. the bench registry).
    """
    # persisted for the same reason as cluster_spectra_multi: the binning
    # pass feeds BOTH the candidate subtree (materialized once into the CC
    # loop's base checkpoint) and the final singleton-fill join — without
    # the persist, bin_peaks_sql over the source runs twice.  The returned
    # plan still reads this frame, so the operator cannot unpersist it;
    # long-lived drivers should wrap call+action in
    # ``session.pinned_scope()``, which frees this frame and the CC
    # checkpoints alike, or sweep with ``session.release_cached_state``.
    base = _binned_frame(
        spectra, key_col, masses_col, intensities_col, precursor_col, top_k,
        bin_width,
    )
    pinned = register_pinned(base.persist(StorageLevel.MEMORY_AND_DISK))
    if collapse_duplicates is None:
        # default: collapse exactly when it is PROVABLY label-preserving
        # (uncapped) AND the corpus actually has duplicates — the probe
        # is one agg pass over the persisted frame (see _has_duplicates);
        # on dup-free corpora the window is pure overhead.  With a cap,
        # collapse changes which buckets exceed it (caps then meter
        # DISTINCT content, not raw rows) — strictly better recall on
        # duplicate-heavy corpora, but an opt-in because the uncollapsed
        # cap accounting is the documented r4 contract.
        collapse_duplicates = max_bucket is None and _has_duplicates(pinned)
    if collapse_duplicates:
        # exact-duplicate collapse (see _rep_collapse): candidates and CC
        # run over one representative per distinct (pmz, bins); labels
        # are provably identical and the quadratic duplicate term is gone
        binned = _rep_collapse(pinned)
    else:
        binned = pinned.withColumn("rep", F.col("key"))
    reps = binned.filter(
        (F.col("key") == F.col("rep")) & (F.size("bins") > 0)
    ).select("key", "pmz", "bins")
    pairs = _method_pairs(
        method, reps,
        precursor_window=precursor_window, num_hashes=num_hashes, bands=bands,
        hash_fn=hash_fn, max_bucket=max_bucket, threshold=threshold,
    )
    # first-collision-wins emission guarantees each (key_a, key_b) pair
    # appears exactly once in both candidate modes — the CC base distinct
    # would be a pure extra shuffle of the edge list (r14, edges_unique)
    comp = connected_components(pairs, "key_a", "key_b", edges_unique=True)
    return (
        binned.select("key", "rep")
        .join(comp, binned["rep"] == comp["node"], "left")
        .select(
            binned["key"],
            F.coalesce(F.col("component"), binned["rep"]).alias("clusterId"),
        )
    )


def cluster_spectra_multi(
    spectra: DataFrame,
    key_col: str = "usi",
    *,
    methods: tuple[str, ...] = ("block", "lsh"),
    masses_col: str = "masses",
    intensities_col: str = "intensities",
    precursor_col: str = "precursorMz",
    precursor_window: float = 2.0,
    top_k: int = 50,
    bin_width: float = 1.0005,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xx64",
    max_bucket: int | None = None,
    collapse_duplicates: bool | None = None,
) -> DataFrame:
    """→ ``(method, key, clusterId)`` — every method's full labeling, with
    the shared work paid ONCE.

    Semantically identical to unioning one :func:`cluster_spectra` call
    per method (asserted in ``tests/test_graph_spectral.py``), but:

    - peak binning runs once and is persisted (MEMORY_AND_DISK) — it
      feeds both methods' candidate joins AND the singleton fill;
    - the minhash signature shuffle runs once (only if some method is
      ``"lsh"``);
    - connected components runs ONCE over the disjoint union of the
      per-method edge sets: each endpoint is tagged ``struct(t:int,
      k:key)`` with its method ordinal, so no component can bridge
      methods, and struct ordering is field-wise — within a tag the
      component minimum is exactly the untagged minimum, so stripping
      the tag afterwards reproduces each method's labels.  The CC loop's
      per-round fixed cost (localCheckpoint job + convergence aggregate,
      the dominant cost at moderate scale) is paid once instead of
      ``len(methods)`` times, and the round count is the max over
      methods rather than the sum.

    This is the shape the registry's q48 uses to oracle-gate the block
    baseline and the production md5-LSH path side by side without paying
    for two clustering runs.

    EAGERNESS NOTE: as in :func:`cluster_spectra`, the operator is
    eager by construction (the CC driver loop runs actions during the
    call); the default ``collapse_duplicates=None`` with
    ``max_bucket=None`` additionally runs one eager
    ``approx_count_distinct`` probe — pass an explicit boolean to skip
    the probe job.
    """
    if not methods:
        raise ValueError("methods must name at least one clustering method")
    base = _binned_frame(
        spectra, key_col, masses_col, intensities_col, precursor_col, top_k,
        bin_width,
    )
    pinned = register_pinned(base.persist(StorageLevel.MEMORY_AND_DISK))
    if collapse_duplicates is None:  # probe-gated, see cluster_spectra
        collapse_duplicates = max_bucket is None and _has_duplicates(pinned)
    if collapse_duplicates:  # see _rep_collapse
        binned = _rep_collapse(pinned)
    else:
        binned = pinned.withColumn("rep", F.col("key"))
    reps = binned.filter(
        (F.col("key") == F.col("rep")) & (F.size("bins") > 0)
    ).select("key", "pmz", "bins")
    sigs = None
    if "lsh" in methods:
        sigs = register_pinned(
            _sig_frame(reps, num_hashes, hash_fn).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )

    def tag(i: int, c: str) -> str:
        return f"named_struct('t', CAST({i} AS INT), 'k', {c})"

    edge_sets = []
    for i, m in enumerate(methods):
        pairs = _method_pairs(
            m, reps,
            precursor_window=precursor_window, num_hashes=num_hashes, bands=bands,
            hash_fn=hash_fn, max_bucket=max_bucket, threshold=threshold, sigs=sigs,
        )
        edge_sets.append(
            pairs.selectExpr(
                f"{tag(i, 'key_a')} AS src", f"{tag(i, 'key_b')} AS dst"
            )
        )
    edges = edge_sets[0]
    for e in edge_sets[1:]:
        edges = edges.unionByName(e)

    # per-method pair sets are first-collision-unique and the tagged
    # union is disjoint across methods — rows are distinct by
    # construction, so the CC base distinct is skipped (r14)
    comp = connected_components(edges, "src", "dst", edges_unique=True)
    # CC has materialized the edge subtree into its own base checkpoint
    # by the time it returns, and nothing downstream reads the signature
    # frame — free it now instead of at scope exit / driver GC.
    if sigs is not None:
        sigs.unpersist(False)

    method_name = F.element_at(
        F.array(*[F.lit(m) for m in methods]), F.col("node.t") + 1
    )
    all_keys = None
    for i, _ in enumerate(methods):
        tagged = binned.selectExpr("key", f"{tag(i, 'rep')} AS node")
        all_keys = tagged if all_keys is None else all_keys.unionByName(tagged)
    return (
        all_keys.join(comp, "node", "left")
        .select(
            method_name.alias("method"),
            F.col("key"),
            F.coalesce(F.col("component.k"), F.col("node.k")).alias("clusterId"),
        )
    )
