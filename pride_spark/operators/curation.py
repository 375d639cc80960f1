"""Corpus-curation operators for large-scale training-data pipelines:
deterministic hash splits and incremental (new-batch-vs-corpus)
deduplication.

These extend the reference's capability surface the same way the dedup /
ANN / text-analysis families do (north-star extensions, SURVEY §2
"beyond the reference"): the operations a 100 TB data-curation pipeline
runs between ingestion and training.

Design notes (scale-first):

- Splits are HASH-deterministic, not ``rand()``-based: the same
  row lands in the same split on every run, on any partitioning, after
  any upstream re-shuffle — the property that makes train/test
  assignment reproducible and leak-free across pipeline re-runs.  (A
  ``rand(seed)`` column is only stable for a fixed partitioning; a
  repartitioned re-run silently reassigns rows.)
- Incremental dedup joins the NEW batch against the CORPUS by LSH band
  buckets — never a self-join of the union, so cost scales with
  |new| × bucket-collision rate, not |corpus|².  The corpus side's
  signatures can be precomputed once and stored (they are plain
  columns), which is how a production pipeline amortizes the corpus
  scan across daily batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pride_spark.operators.dedup import (
    _band_digests_sql,
    jaccard_of_sets_sql,
    minhash_signatures_df,
    word_shingles_sql,
)


def hash_fraction(id_col: Column | str, seed: str = "split") -> Column:
    """Deterministic uniform-[0,1) value per id: the first 8 hex chars of
    ``md5(seed || '|' || id)`` scaled by 2⁻³².  Engine-reproducible (any
    engine with md5 derives the identical value — the same chunking trick
    as ``dedup.minhash_signatures_df``), so split membership can be checked
    cross-system."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), c.cast("string"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    *,
    seed: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic split label with the given weights
    (e.g. ``{"train": 0.9, "valid": 0.05, "test": 0.05}``).

    The label is a pure function of (seed, id): re-runs, re-partitions,
    and incremental appends never move a row between splits — the
    train/test-leak guarantee batch pipelines need.  Weights are
    normalized; label boundaries are cumulative fractions over the
    insertion order of ``weights``.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bad = {k: v for k, v in weights.items() if v < 0}
    if bad:
        # a negative weight inflates the preceding labels' cumulative
        # boundaries and silently empties later splits
        raise ValueError(f"split weights must be non-negative, got {bad}")
    frac = hash_fraction(id_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = frac < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    # a NULL id has a NULL hash fraction: every `<` test is NULL and the
    # when-chain would silently fall through to the LAST label —
    # deterministically concentrating dirty rows in the (usually eval)
    # final split.  Refuse instead: split identity must be a pure
    # function of a REAL id (filter or repair null ids first; the
    # sampling siblings drop them, which a SPLIT must never silently do).
    expr = F.when(
        F.col(id_col).isNull() if isinstance(id_col, str) else F.isnull(id_col),
        F.raise_error(
            F.lit("hash_split: null id — split labels require a non-null id")
        ),
    ).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float] | DataFrame,
    *,
    id_col: str,
    default_rate: float = 0.0,
    seed: str = "stratified",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-rebalancing
    step a training pipeline runs between curation and training (keep
    100% of low-resource languages, 10% of English; rebalance domains;
    cap a crawl snapshot).  A row survives iff
    ``hash_fraction(seed, id) < rate(stratum)``; membership is a pure
    function of ``(seed, id)``, so re-runs, re-partitions, and
    incremental appends never flip a row, and different ``seed`` values
    decorrelate this sample from :func:`hash_split` assignments (md5
    fractions under different seeds are independent).

    ``rates`` maps stratum value → keep fraction; rows whose stratum is
    missing from the map (or NULL) keep ``default_rate``.  For a small
    literal map the lookup compiles to a codegen ``CASE`` chain — the
    whole operator is one narrow, predicate-pushable filter with no
    shuffle.  For thousands of strata pass ``rates`` as a
    ``(stratum, rate)`` DataFrame instead: the lookup becomes a
    broadcast left join (one tiny build side, still no big-side
    shuffle).
    """
    frac = hash_fraction(id_col, seed)
    if isinstance(rates, DataFrame):
        # one rate per stratum — a duplicated key in the dim would fan
        # the left join out and silently duplicate sampled rows, and a
        # duplicated key with CONFLICTING rates would silently sample at
        # whichever copy dropDuplicates happened to keep (r11 review):
        # collapse identical duplicates deterministically, refuse conflicts
        dim = rates.select(
            F.col(rates.columns[0]).alias("__stratum"),
            # try_cast, not cast: under ANSI mode a non-numeric rate
            # would throw a generic CAST_INVALID_INPUT mid-shuffle —
            # fold it to NULL so the named refusal below fires instead
            F.col(rates.columns[1]).try_cast("double").alias("__rate"),
        ).groupBy("__stratum").agg(
            F.min("__rate").alias("__rate"),
            F.countDistinct("__rate").alias("__n_rates"),
            # countDistinct ignores NULLs: a stratum with both a valid
            # rate and a rate that casts to NULL (non-numeric string)
            # would pass as non-conflicting and silently sample at the
            # valid copy (r11 advice) — refuse NULL rates outright; a
            # rate that doesn't cast to double is garbage input, not a
            # request for default_rate
            F.count(F.when(F.col("__rate").isNull(), 1)).alias("__n_null"),
        )
        bad = dim.filter(
            (F.col("__n_rates") > 1) | (F.col("__n_null") > 0)
        ).limit(5).collect()
        if bad:
            nulls = [r for r in bad if r["__n_null"] > 0]
            if nulls:
                keys = ", ".join(repr(r["__stratum"]) for r in nulls)
                raise ValueError(
                    f"rates has NULL / non-numeric entries for strata: {keys}"
                )
            keys = ", ".join(repr(r["__stratum"]) for r in bad)
            raise ValueError(
                f"rates has conflicting duplicate entries for strata: {keys}"
            )
        dim = dim.drop("__n_rates", "__n_null")
        return (
            df.join(F.broadcast(dim), F.col(stratum_col) == F.col("__stratum"), "left")
            .filter(frac < F.coalesce(F.col("__rate"), F.lit(float(default_rate))))
            .drop("__stratum", "__rate")
        )
    expr = None
    for k, v in rates.items():
        cond = F.col(stratum_col) == F.lit(k)
        lit = F.lit(float(v))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    rate = F.lit(float(default_rate)) if expr is None else expr.otherwise(
        F.lit(float(default_rate))
    )
    return df.filter(frac < rate)


def _tagged_signatures(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    tag: str,
    minhash_df: DataFrame | None = None,
) -> DataFrame:
    """``(id_<tag>, digs_<tag>, dg_<tag>)`` from either a raw frame or a
    precomputed :func:`dedup.minhash_signatures_df` output (``minhash_df``
    — columns ``id, mh0.., dg`` where ``dg`` rode ``carry=``).  The
    passthrough lets a caller that needs BOTH sides of an incremental run
    compute the (expensive) shingle→minhash pass ONCE over the union and
    slice it, instead of once per side."""
    if minhash_df is None:
        minhash_df = minhash_signatures_df(
            df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n,
            carry={"dg": F.md5(F.col(text_col))},
        )
    sigs = minhash_df.filter("mh0 IS NOT NULL")
    digs = F.expr(_band_digests_sql(num_hashes, bands))
    # the hash-family parameters ride the digest column as schema
    # metadata (survives a parquet round-trip), so a later flags run can
    # refuse signatures built under a different family instead of
    # silently missing near-dups — same hazard class the hypertable
    # store's _meta sidecar closes
    meta = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
    return sigs.select(
        F.col("id").alias(f"id_{tag}"),
        digs.alias(f"digs_{tag}", metadata=meta),
        F.col("dg").alias(f"dg_{tag}"),
    )


def _check_sig_params(
    sig_df: DataFrame, tag: str, num_hashes: int, bands: int, shingle_n: int
) -> None:
    """Raise if a provided signature frame records a DIFFERENT hash
    family than this run's parameters.  Frames without the metadata
    (written before it existed, or hand-built) skip the check — only an
    explicit mismatch is an error, a missing record is the caller's
    responsibility as before."""
    field = f"digs_{tag}"
    if field not in sig_df.columns:
        return  # schema mismatch surfaces in the join, not here
    recorded = sig_df.schema[field].metadata
    keys = ("num_hashes", "bands", "shingle_n")
    if not recorded or not any(k in recorded for k in keys):
        return  # nothing recorded at all: pre-metadata frame, skip
    missing = [k for k in keys if k not in recorded]
    if missing:
        # a PARTIAL sidecar is not a pre-metadata frame — our writer
        # always records all three keys, so some-but-not-all means the
        # metadata was tampered with or truncated.  Validating only the
        # present subset would let e.g. a bands-only record pass while
        # num_hashes/shingle_n actually differ (r9 advice) — refuse.
        raise ValueError(
            f"signature frame ({field}) records a partial hash-family "
            f"sidecar (missing {missing}): cannot verify the signatures "
            "match this run's parameters. Rebuild the signatures with "
            "corpus_signatures/minhash_signatures_df, which records the "
            "full family."
        )
    expected = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
    got = {k: int(recorded[k]) for k in keys}
    if any(got[k] != expected[k] for k in got):
        raise ValueError(
            f"signature frame ({field}) was built with {got}, but this "
            f"run uses {expected}: band digests from different hash "
            "families never collide, so near-duplicates would be "
            "silently missed. Rebuild the signatures or pass matching "
            "parameters."
        )


def corpus_signatures(
    corpus_df: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    minhash_df: DataFrame | None = None,
) -> DataFrame:
    """The reusable corpus side of :func:`incremental_near_dup_flags`:
    ``(id_c, digs_c, dg_c)`` — per corpus doc, its band-digest array and
    text digest.  Narrow (one 32-char digest per band + one per text),
    independent of any future batch, and a pure function of the corpus —
    so a production pipeline computes it ONCE per corpus generation,
    writes it to parquet (plain ``df.write.parquet``; it is an ordinary
    frame), and every daily batch reads it back instead of re-scanning
    the 100 TB corpus text.  Pass it to
    :func:`incremental_near_dup_flags` via ``corpus_signatures_df=``.

    ``minhash_df`` (optional): a precomputed
    ``minhash_signatures_df(..., carry={'dg': md5(text)})`` frame to
    derive from instead of scanning ``corpus_df`` (which may then be
    ``None``).

    NOTE: the verify step of a flags run still reads the TEXT of the few
    corpus docs that band-collide with differing digests (it joins
    ``corpus_df`` shingle sets) — the index spares the corpus-wide
    signature scan, which is the dominant term.
    """
    return _tagged_signatures(
        corpus_df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, tag="c", minhash_df=minhash_df,
    )


def batch_signatures(
    new_df: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    minhash_df: DataFrame | None = None,
) -> DataFrame:
    """The NEW-batch analogue of :func:`corpus_signatures`:
    ``(id_n, digs_n, dg_n)``.  Pass to :func:`incremental_near_dup_flags`
    via ``new_signatures_df=`` when the batch's signatures are already
    computed (e.g. sliced from one union-wide minhash pass, or reused
    across several corpus generations)."""
    return _tagged_signatures(
        new_df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, tag="n", minhash_df=minhash_df,
    )


def incremental_near_dup_flags(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    corpus_signatures_df: DataFrame | None = None,
    new_signatures_df: DataFrame | None = None,
) -> DataFrame:
    """Flag docs in ``new_df`` that duplicate the EXISTING ``corpus_df``:
    → ``(id, match_id, jaccard)`` — one row per (new doc, matching corpus
    doc) with n-gram Jaccard ≥ ``threshold`` (exact duplicates score 1.0
    via the digest short-circuit, no set ops).

    The candidate join is new-batch × corpus on the shared (band,
    band-digest) key — the incremental analogue of
    :func:`dedup.lsh_candidate_pairs`'s self-join.  FIRST-COLLISION-WINS
    applies unchanged: a (new, corpus) pair agreeing in several bands is
    emitted only from its first agreeing band, so no pair-level dedup
    shuffle exists.  ``max_bucket`` caps the CORPUS side's bucket size
    (the side an adversarial duplicate mass lives on); capped corpus
    buckets drop before the join with the same contract as the batch
    dedup — their members are mutually near-identical and the new doc
    still meets a survivor in a later band unless every agreeing band is
    capped.

    Scale: pass ``corpus_signatures_df`` (a persisted
    :func:`corpus_signatures` frame, same hash parameters) to skip the
    corpus-wide signature scan — the amortization a daily-batch pipeline
    lives on — and/or ``new_signatures_df`` (a :func:`batch_signatures`
    frame, e.g. both sides sliced from ONE union-wide minhash pass).
    ``corpus_df``/``new_df`` are still required: the verify step joins
    their text for the (few) differing-digest collisions.
    """
    if corpus_signatures_df is not None:
        _check_sig_params(corpus_signatures_df, "c", num_hashes, bands, shingle_n)
        corpus = corpus_signatures_df
    else:
        corpus = corpus_signatures(
            corpus_df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )
    if new_signatures_df is not None:
        _check_sig_params(new_signatures_df, "n", num_hashes, bands, shingle_n)
        new = new_signatures_df
    else:
        new = batch_signatures(
            new_df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )

    # SQL-text rendering below (r14): identical parsed expressions
    # (tools/plan_normdiff.py), a fraction of the py4j plan-build calls.
    corpus_banded = corpus.selectExpr(
        "id_c", "digs_c", "dg_c", "posexplode(digs_c) AS (band, bucket)"
    )
    if max_bucket is not None:
        # cap + null-masked band rebuild (shared lsh_common primitives —
        # same contract as lsh_candidate_pairs: first-agreement falls
        # through to the first surviving band)
        from pride_spark.operators.lsh_common import cap_buckets, rebuild_masked_digests

        corpus_banded = (
            rebuild_masked_digests(
                cap_buckets(corpus_banded, ["band", "bucket"], max_bucket),
                id_cols=["id_c"],
                bands=bands,
                out_digs="digs_c",
                carry=["dg_c"],
            )
            .selectExpr(
                "id_c", "digs_c", "dg_c", "posexplode(digs_c) AS (band, bucket)"
            )
            .filter("bucket IS NOT NULL")
        )

    new_banded = new.selectExpr(
        "id_n", "digs_n", "dg_n", "posexplode(digs_n) AS (band, bucket)"
    )
    pairs = (
        new_banded.join(corpus_banded, ["band", "bucket"])
        .filter(
            "array_position(zip_with(digs_n, digs_c, (x, y) -> x = y), true)"
            " = band + 1"
        )
        .select("id_n", "id_c", "dg_n", "dg_c")
    )
    from pyspark.storagelevel import StorageLevel

    from pride_spark.session import register_pinned

    # both branches below scan the candidate pairs; pinned for the life
    # of the returned plan — see session.pinned_scope for cleanup
    pairs = register_pinned(pairs.persist(StorageLevel.MEMORY_AND_DISK))
    same = F.expr("coalesce(dg_n = dg_c, false)")
    eq = pairs.filter(same).selectExpr(
        "id_n AS id", "id_c AS match_id", "1.0D AS jaccard"
    )

    # semi-filter each side to the ids the differing-digest pairs need
    # BEFORE building the (wide) shingle arrays — the same survivor-only
    # verify shape as dedup.near_dedup_minhash
    need = pairs.filter(~same).select("id_n", "id_c")

    def _sets(df: DataFrame, alias: str) -> DataFrame:
        ids = need.selectExpr(f"{alias} AS `{id_col}`").distinct()
        return df.join(ids, id_col, "left_semi").selectExpr(
            f"`{id_col}` AS {alias}",
            f"array_distinct({word_shingles_sql(f'`{text_col}`', shingle_n)})"
            f" AS sh_{alias}",
        )

    neq = (
        need.join(_sets(new_df, "id_n"), "id_n")
        .join(_sets(corpus_df, "id_c"), "id_c")
        .selectExpr(
            "id_n AS id",
            "id_c AS match_id",
            f"round({jaccard_of_sets_sql('sh_id_n', 'sh_id_c')}, 6) AS jaccard",
        )
    )
    return eq.unionByName(neq).filter(F.col("jaccard") >= threshold)


