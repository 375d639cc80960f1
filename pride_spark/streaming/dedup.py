"""Streaming deduplication — the ingestion-time face of the batch dedup
family (north-star extension; composes `operators/dedup.py` with
Structured Streaming).

Two layers, matching how a continuous document-ingestion pipeline dedups:

1. **Within-stream exact dedup** (:func:`dedup_stream_exact`): drop
   re-deliveries and exact duplicate payloads inside the stream itself.
   Uses ``dropDuplicatesWithinWatermark`` keyed on the content digest, so
   the state store holds only digests seen within the watermark horizon —
   bounded state, unlike plain ``dropDuplicates`` on an unbounded stream
   whose keys accumulate forever.
2. **Against-corpus near-dup flagging** (:func:`flag_stream_corpus_dups`):
   a stream-STATIC join of each micro-batch against the precomputed
   corpus signature frame — the streaming analogue of
   ``curation.incremental_near_dup_flags``.  The corpus side is a plain
   batch DataFrame (band, bucket → id), broadcast/shuffle-joined per
   micro-batch; signatures for arriving docs are plain column
   expressions, so the whole thing stays in the DataFrame layer (no
   ``foreachBatch`` escape hatch, no UDFs).

Batch/stream-agnostic like the rest of ``streaming/``: both functions
accept a batch frame too (watermark is a no-op in batch mode), so the
batch run is the oracle for the streaming run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pride_spark.operators.dedup import jaccard_of_sets_sql, minhash_signature, word_shingles
from pride_spark.operators.lsh_common import array_band_digests


def dedup_stream_exact(
    docs: DataFrame,
    text_col: str,
    ts_col: str,
    *,
    watermark: str = "10 minutes",
    digest_col: str = "__digest",
) -> DataFrame:
    """Exact-content dedup within a stream: keep the first arrival of each
    text digest inside the watermark horizon; later identical payloads
    (re-deliveries, duplicated crawls) are dropped.

    State is one row per DISTINCT digest within the horizon — the
    watermark both bounds the state store and defines the dedup window
    (an identical doc arriving after the horizon is treated as new, which
    is the semantics an at-least-once ingestion bus needs).  In batch
    mode ``dropDuplicatesWithinWatermark`` is unavailable, so plain
    ``dropDuplicates`` on the digest gives the batch oracle.
    """
    d = docs.withColumn(digest_col, F.md5(F.col(text_col)))
    if d.isStreaming:
        return (
            d.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark([digest_col])
            .drop(digest_col)
        )
    return d.dropDuplicates([digest_col]).drop(digest_col)


def corpus_band_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Precompute the corpus side of the stream-static near-dup join:
    ``(band, bucket, corpus_id, sh)`` — one row per (corpus doc, band).
    Build once per corpus generation, write to parquet partitioned by
    ``band``, and the per-micro-batch join prunes to the arriving bands.

    The doc's distinct shingle set (``sh``, the verify payload) is
    stored ONCE per doc — on its band-0 row, NULL elsewhere (r10
    review: carrying it on every band row made the index ``bands``×
    larger in shingle bytes and shipped the arrays through the
    candidate join for pairs that never survive first-collision-wins).
    :func:`flag_stream_corpus_dups` reads BOTH this format and the
    pre-r10 every-row format.
    """
    sig = minhash_signature(text_col, num_hashes=num_hashes, shingle_n=shingle_n)
    # the shared in-row banding key (lsh_common): BOTH sides of the
    # stream-static join must compute the identical digest format or the
    # equi-join silently matches nothing
    digs = array_band_digests(sig, num_hashes, bands)
    banded = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("corpus_id"),
            digs.alias("digs_c"),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("__sh"),
        )
        .select(
            "corpus_id", "digs_c", "__sh",
            F.posexplode("digs_c").alias("band", "bucket"),
        )
    )
    return banded.select(
        "corpus_id",
        "digs_c",
        F.when(F.col("band") == 0, F.col("__sh")).alias("sh"),
        "band",
        "bucket",
    )


def flag_stream_corpus_dups(
    docs: DataFrame,
    corpus_index: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup flags for a stream of docs against a static corpus index
    (from :func:`corpus_band_index` with the SAME banding parameters):
    → ``(id, match_id, jaccard)`` per (arriving doc, matching corpus doc).

    Stream-static equi-join on (band, bucket): each arriving doc computes
    its band digests in-row (plain column expressions — streaming-safe;
    the in-row signature fold costs more per row than the batch
    explode/groupBy-min shape, which is fine for micro-batch volumes —
    batch backfills should use ``curation.incremental_near_dup_flags``),
    joins the static index, and dedups multi-band meetings per pair with
    FIRST-COLLISION-WINS on the carried digest arrays — STATELESS, where
    a ``dropDuplicates`` on the stream would grow a (doc, corpus_id)
    state store forever.  Verify is exact n-gram Jaccard against the
    index's carried shingle sets.
    """
    sig = minhash_signature(text_col, num_hashes=num_hashes, shingle_n=shingle_n)
    # the shared in-row banding key (lsh_common): BOTH sides of the
    # stream-static join must compute the identical digest format or the
    # equi-join silently matches nothing
    digs = array_band_digests(sig, num_hashes, bands)
    new_banded = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh_new"),
            digs.alias("digs_n"),
        )
        .select(
            "id", "sh_new", "digs_n", F.posexplode("digs_n").alias("band", "bucket")
        )
    )
    first_agree = F.array_position(
        F.zip_with(F.col("digs_n"), F.col("digs_c"), lambda x, y: x == y), True
    )
    # SLIM candidate join: the corpus shingle payload stays out of the
    # (band, bucket) join and attaches only to pairs that survive
    # first-collision-wins — one id-keyed static-side join of a
    # bands×-smaller frame (r10 review).  Handles both index formats:
    # r10's once-per-doc sh (band-0 row) and the pre-r10 every-row copy
    # (dropDuplicates collapses them; static-side ops are streaming-legal).
    slim = corpus_index.select("band", "bucket", "corpus_id", "digs_c")
    payload = (
        corpus_index.filter(F.col("sh").isNotNull())
        .select("corpus_id", "sh")
        .dropDuplicates(["corpus_id"])
    )
    cand = (
        new_banded.join(slim, ["band", "bucket"])
        .filter(first_agree == F.col("band") + 1)
        .select("id", "corpus_id", "sh_new")
    )
    return (
        cand.join(payload, "corpus_id")
        .select(
            "id",
            F.col("corpus_id").alias("match_id"),
            F.expr(f"round({jaccard_of_sets_sql('sh_new', 'sh')}, 6) AS jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
