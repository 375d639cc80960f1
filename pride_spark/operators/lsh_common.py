"""Shared LSH bucket-cap / null-masked band-rebuild primitives.

Three operators band items into (band, bucket) LSH buckets and must
bound the quadratic bucket-join term on adversarial duplicate skew:

- :func:`pride_spark.operators.dedup.lsh_candidate_pairs` (batch
  near-dup self-join),
- :func:`pride_spark.operators.curation.incremental_near_dup_flags`
  (new-batch × corpus join), and
- :func:`pride_spark.operators.spectral_cluster.cluster_spectra`'s
  banded path (precursor-blocked spectra).

Until round 10 each carried its own copy of the cap logic — triplicated
semantics that needed coordinated three-site fixes twice in round 9
(the builder-flagged debt in COVERAGE.md; extraction is round-9
verdict task 2).  The shared contract:

:func:`cap_buckets`
    Drop every row whose (composite) bucket key holds more than
    ``max_bucket`` members — a window count over the SAME key the
    candidate join shuffles on, so Catalyst reuses the exchange.

:func:`rebuild_masked_digests`
    After capping, gather the surviving (band, bucket) rows back into
    the per-id band-digest array with capped bands masked to NULL.
    NULL == NULL is NULL (never TRUE), so a capped band can never be
    the "first agreeing band" — FIRST-COLLISION-WINS falls through to
    the first SURVIVING agreeing band and a pair is lost only when
    every band it agrees in is over-cap.  ``bands`` is a literal, so
    the gather is a PIVOTED max-per-band aggregate (map-side
    combinable scalar aggs) rather than collect_list+sort of structs —
    ~25% cheaper on the q24 plan at sf0.1, identical output.

The spectral-cluster path uses :func:`cap_buckets` alone: by its
documented contract a pair whose FIRST-colliding bucket is capped
counts as cap-dropped even if a later bucket survives (over-cap
spectra are mutually near-identical; the caller collapses them
upstream), so no band rebuild applies there.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cap_buckets(
    frame: DataFrame, keys: Sequence[str], max_bucket: int | None
) -> DataFrame:
    """Drop rows of (composite-key) buckets larger than ``max_bucket``.

    One window count partitioned by ``keys`` — the same key the
    downstream candidate join shuffles on, so the exchange is reused.
    ``max_bucket=None`` is the identity (uncapped path pays nothing).
    """
    if max_bucket is None:
        return frame
    wb = Window.partitionBy(*keys)
    return (
        frame.withColumn("__bsz", F.count("*").over(wb))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def rebuild_masked_digests(
    surviving: DataFrame,
    *,
    id_cols: Sequence[str],
    bands: int,
    band_col: str = "band",
    bucket_col: str = "bucket",
    out_digs: str = "digs",
    carry: Sequence[str] = (),
) -> DataFrame:
    """Gather surviving (band, bucket) rows into per-id digest arrays
    with capped bands masked to NULL.

    ``surviving`` is the post-:func:`cap_buckets` banded frame (one row
    per surviving (id, band)); the result has one row per id with
    ``out_digs`` = array of length ``bands`` whose capped positions are
    NULL.  ``carry`` columns (id-constant payloads like a text digest)
    ride the same aggregate via ``first()``.  One extra id-keyed
    shuffle — paid only on the capped (adversarial-skew) path.
    """
    # expression families rendered as SQL text (r14 plan-build cost;
    # identical parsed expressions — tools/plan_normdiff.py)
    per_id = surviving.groupBy(*id_cols).agg(
        *[F.expr(f"first({c}) AS {c}") for c in carry],
        *[
            F.expr(
                f"max(CASE WHEN {band_col} = {b} THEN {bucket_col} END) AS __b{b}"
            )
            for b in range(bands)
        ],
    )
    return per_id.selectExpr(
        *id_cols,
        *carry,
        f"array({', '.join(f'__b{b}' for b in range(bands))}) AS {out_digs}",
    )
