"""Persistent IVF ANN index — build once, search many (north-star ANN,
the production shape of :func:`pride_spark.operators.similarity.ivf_topk`).

``ivf_topk`` trains its quantizer and scans the full table per call —
right for one-shot queries, wrong for a served index over a 100 TB
embedding corpus.  This module splits the lifecycle:

- :func:`build_ivf_index` trains the deterministic spherical-k-means
  quantizer (bounded sample, driver-side Lloyd — ``similarity._kmeans_
  centroids``) and writes two parquet tables under ``path``:
  ``centroids/`` (n_centroids rows) and ``assignments/`` — every vector
  with its precomputed L2 norm, PARTITIONED BY ``centroid_id``.  The
  directory layout IS the inverted file: one partition per posting list.
- :func:`search_ivf_index` loads the centroid table (bounded, driver),
  derives each query's ``n_probe`` nearest centroid ids as pure Column
  expressions, and reads ONLY the probed partitions — the probed-cid set
  (≤ n_centroids, collected from the query side in one tiny job) becomes
  a STATIC ``isin`` filter, so the scan's ``PartitionFilters`` prune
  ``1 - n_probe/n_centroids`` of the bytes on disk before any executor
  reads them (asserted on the physical plan in
  ``tests/test_dedup_similarity_text.py``).  At 100 TB this pruning —
  not the cosine math — is the difference between a search and a scan.

Fidelity: searching with ``n_probe = n_centroids`` equals the in-memory
``ivf_topk`` (and hence brute force under full probe) — asserted in
tests.  ``assign_replicas`` multi-assignment trades storage for boundary
recall exactly as in ``ivf_topk``.

IVF-PQ (the composed 100 TB shape): pass ``pq_codebooks`` to
:func:`build_ivf_index` and the inverted file stores PRODUCT-QUANTIZED
codes — ``m`` small ints per row — instead of the float vectors, with
the raw vectors in a separate ``vectors/`` side table.
:func:`search_ivf_pq_index` then runs the whole funnel the PQ literature
prescribes (Jegou/Douze/Schmid 2011) as one declarative plan:

1. partition-pruned scan of the CODES table (static ``isin`` on probed
   centroid ids → ``PartitionFilters`` drop unprobed posting lists
   before any executor reads a byte — and each byte read is 16-32x
   narrower than the float vectors);
2. hash EQUI-join probe×codes on ``centroid_id`` (the bounded-probe
   BroadcastNestedLoopJoin of the standalone ``pq_topk`` disappears —
   at IVF scale the candidate pairing is an ordinary shuffled/broadcast
   equi-join Catalyst plans like any other);
3. ADC scoring from per-query LUTs hoisted to the probe side (per pair:
   ``m`` array lookups, whole-stage codegen);
4. per-query top-``rerank`` shortlist, then exact cosine over ONLY the
   shortlist via an id equi-join against ``vectors/`` — point-lookup
   scale at any corpus size.

Full probe + sufficient rerank reproduces exact cosine top-k (the
oracle identity q43 ``method='ivf_pq'`` gates end-to-end vs DuckDB);
shrinking ``n_probe`` trades recall for bytes exactly as raw IVF does.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pride_spark.session import local_frame, register_pinned
from pride_spark.operators.similarity import (
    _kmeans_centroids,
    _l2_sql,
    _nearest_centroids_expr,
    _pair_cosine_sql,
    _vec_sql,
    pq_adc_from_luts,
    pq_encode_expr,
    pq_luts_expr,
)


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_centroids: int = 16,
    assign_replicas: int = 1,
    kmeans_iters: int = 2,
    pq_codebooks: list[list[list[float]]] | None = None,
) -> dict:
    """Train the quantizer and materialize the inverted file at ``path``.

    With ``pq_codebooks`` the index is IVF-PQ: ``assignments/`` holds
    PQ codes (``m`` ints/row, 16-32x narrower than the floats) and the
    raw vectors land in ``vectors/`` for shortlist re-ranking only.
    Codebooks persist in ``meta.json`` so search needs no retraining.

    The index path must be a locally-mounted filesystem path (bare or
    ``file:``-prefixed): ``meta.json`` and the GC serve-touch use POSIX
    io.  For object stores, build to a local staging path and sync.

    Returns the meta dict (also persisted as ``meta.json``)."""
    if "://" in path and not path.startswith("file:"):
        raise ValueError(
            f"index path must be a locally-mounted filesystem path, got "
            f"{path!r}: meta.json and the serve-touch GC protocol use "
            "POSIX io (build locally, then sync to the object store)"
        )
    if pq_codebooks is not None and not pq_codebooks:
        # an empty list builds an index NEITHER search path can use (the
        # searches gate on truthiness, the build gated on `is None` —
        # r10 review); validated BEFORE any write so a failed build never
        # leaves a partial index directory behind (r10 advice)
        raise ValueError("pq_codebooks must be non-empty when provided")
    spark = df.sparkSession
    cents = _kmeans_centroids(df, id_col, vec_col, n_centroids, kmeans_iters)
    if not cents:
        raise ValueError("cannot build an IVF index over an empty table")
    cent_df = local_frame(
        spark, [(i, c) for i, c in enumerate(cents)], "centroid_id int, centroid array<double>"
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    nearest, order = _nearest_centroids_expr(vec_col, cents)
    bucket = (
        nearest
        if assign_replicas <= 1
        else F.explode(
            F.transform(F.slice(order, 1, assign_replicas), lambda s: s["cid"])
        )
    )
    if pq_codebooks is None:
        assigned = df.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).alias("nbr_vec"),
            F.expr(_l2_sql(_vec_sql(vec_col))).alias("nbr_norm"),
            bucket.alias("centroid_id"),
        )
    else:
        # the posting lists carry ONLY the compressed codes; one extra
        # narrow table keeps the floats for the re-rank point lookups
        assigned = df.select(
            F.col(id_col).alias("nbr_id"),
            pq_encode_expr(vec_col, pq_codebooks).alias("codes"),
            bucket.alias("centroid_id"),
        )
        # partitioned by the PRIMARY assignment so rerank lookups can
        # prune: with assign_replicas == 1 every posting-list member's
        # floats live in exactly its (probed) bucket's partition
        df.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).alias("nbr_vec"),
            F.expr(_l2_sql(_vec_sql(vec_col))).alias("nbr_norm"),
            nearest.alias("centroid_id"),
        ).write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{path}/vectors"
        )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/assignments"
    )
    meta = {
        "n_centroids": len(cents),
        "assign_replicas": assign_replicas,
        "pq_codebooks": pq_codebooks,
    }
    with open(os.path.join(path.removeprefix("file:"), "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def _resolve_n_probe(n_probe, meta) -> int:
    """None -> full probe; "auto" -> ceil(sqrt(n_centroids)), the
    classical IVF heuristic (resolved HERE so both search siblings
    accept it — r12 review: the auto branch lived only in the PQ
    search, so search_ivf_index("auto") crashed with an
    opaque str-vs-int TypeError); explicit values validated at the API
    boundary (n_probe=0 silently became a FULL probe — the opposite
    extreme — and negatives failed deep inside F.slice; r10 review)."""
    import math

    if n_probe is None:
        return meta["n_centroids"]
    if n_probe == "auto":
        return max(1, math.isqrt(meta["n_centroids"] - 1) + 1)  # ceil(sqrt)
    if isinstance(n_probe, str) or isinstance(n_probe, bool):
        # bool passes isinstance(int) and the <=0 check (True == 1), so
        # n_probe=True would reach F.slice as a boolean literal and die
        # with an opaque Catalyst type error instead of this named
        # refusal (r12 advice)
        raise ValueError(f"n_probe must be an int, None, or 'auto' (got {n_probe!r})")
    if n_probe <= 0:
        raise ValueError(f"n_probe must be >= 1 (got {n_probe})")
    return n_probe


def _gc_tmp_siblings(tmp: str, prefix: str, keep: str) -> None:
    """GC stale build artifacts under ``tmp``, called only when a NEW
    fingerprint is about to be built: ``.build-*`` orphans after one
    hour (a builder that crashed between build and rename), but
    PUBLISHED sibling dirs only after 24 h WITHOUT a serve — every
    serve touches the dir mtime (:func:`_touch_served`), so a
    long-lived session (a gate run on another sf dir) that is actively
    reading an index built hours ago never has it rmtree'd out from
    under in-flight parquet reads."""
    for entry in os.listdir(tmp):
        if entry == keep or not entry.startswith(prefix):
            continue
        full = os.path.join(tmp, entry)
        limit = 3600 if ".build-" in entry else 86400
        try:
            if time.time() - os.path.getmtime(full) < limit:
                continue
        except OSError:
            continue
        shutil.rmtree(full, ignore_errors=True)


def _touch_served(path: str) -> None:
    """Bump a served artifact dir's mtime so the 24 h GC window in
    :func:`_gc_tmp_siblings` is measured from the LAST SERVE, not the
    build."""
    try:
        os.utime(path, None)
    except OSError:
        pass


def _publish_build(build: str, path: str) -> None:
    """Atomically publish ``build`` as ``path`` via ``os.rename``.

    A losing ``rename`` is only benign when a CONCURRENT builder already
    published ``path`` — any other OSError (permissions, cross-device
    tmp, a non-local default FS so the build never landed on local disk)
    would previously be swallowed here and surface much later as a
    confusing parquet-read failure on a nonexistent path.
    Verify the published dir actually exists before discarding the
    build; re-raise the original error otherwise."""
    try:
        os.rename(build, path)
    except OSError:
        if not os.path.isdir(path):
            raise  # nothing was published — the rename failure is real
        shutil.rmtree(build, ignore_errors=True)  # concurrent builder won


def build_once(prefix: str, key: str, build: Callable[[str], None]) -> str:
    """The artifact dir ``{tmp}/{prefix}{key}`` (``key``: a content
    fingerprint of the inputs), built on first use.  ``build(build_dir)``
    writes a ``.build-<uuid>`` sibling that one atomic rename publishes,
    so a path is published iff it is a directory; a ``build`` that
    raises publishes nothing.  Every call serve-touches the path."""
    tmp = tempfile.gettempdir()
    path = os.path.join(tmp, prefix + key)
    if not os.path.isdir(path):
        _gc_tmp_siblings(tmp, prefix, prefix + key)
        build_dir = f"{path}.build-{uuid.uuid4().hex}"
        build(build_dir)
        _publish_build(build_dir, path)
    _touch_served(path)
    return path


def _load_meta(path: str) -> dict:
    p = path.removeprefix("file:")
    # every search loads meta first, so serve-touching here marks the
    # index as actively served for ANY caller (this process or another)
    _touch_served(p)
    with open(os.path.join(p, "meta.json")) as fh:
        return json.load(fh)


def _rerank_vectors(spark, path: str, meta: dict, probe_cids: list):
    """The float-vector side table for shortlist re-ranking, partition-
    pruned to the probed buckets when that is CORRECT: with
    ``assign_replicas == 1`` every candidate's primary bucket IS the
    probed bucket it was found in, so its floats live in a probed
    partition.  With replicas a candidate found via a secondary bucket
    stores its floats under its (possibly unprobed) primary — pruning
    would silently drop it, so the full table is read.  Pre-partitioned-
    layout indexes (no centroid_id column) also read fully."""
    vecs = spark.read.parquet(f"{path}/vectors")
    if "centroid_id" in vecs.columns:
        if meta.get("assign_replicas", 1) == 1:
            vecs = vecs.filter(F.col("centroid_id").isin(probe_cids))
        vecs = vecs.drop("centroid_id")
    return vecs


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 3,
    n_probe: int | str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for every query row, reading only probed
    posting-list partitions.  Output: (query_id, nbr_id, cosine, rank).

    Storage contract: each call pins one small probe frame
    (queries × n_probe rows) via ``register_pinned(persist())`` — it must
    stay cached while the RETURNED plan executes (the collected probe-cid
    set and the joined rows must come from the same materialization).
    Repeated interactive searches on a long-lived session should wrap
    each search+action in :func:`pride_spark.session.pinned_scope`, or
    call :func:`pride_spark.session.release_cached_state` periodically —
    otherwise one pinned probe frame accumulates per call until session
    end (r10 advice)."""
    meta = _load_meta(path)
    cents_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    )
    cents = [list(r["centroid"]) for r in cents_rows]
    n_probe = _resolve_n_probe(n_probe, meta)

    _nearest, order = _nearest_centroids_expr(vec_col, cents)
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.expr(_l2_sql(_vec_sql(vec_col))).alias("q_norm"),
        F.explode(F.transform(F.slice(order, 1, n_probe), lambda s: s["cid"])).alias(
            "centroid_id"
        ),
    )
    # persist the (narrow, bounded: queries x n_probe) probe frame: the
    # cid collect below AND the candidate join both consume it, and an
    # un-persisted plan would re-execute the caller's whole query
    # pipeline per use — with a NONDETERMINISTIC source the collected
    # cids could even disagree with the joined rows and silently drop
    # candidates (r10 review).  Released at the caller's pinned_scope
    # exit or by release_cached_state.
    probed = register_pinned(probed.persist())
    # the probed-cid set is bounded by n_centroids — one tiny job turns it
    # into a STATIC partition filter the parquet scan prunes on (a join
    # would leave pruning to runtime DPP; a literal isin is unconditional)
    probe_cids = [
        r["centroid_id"] for r in probed.select("centroid_id").distinct().collect()
    ]
    assigned = spark.read.parquet(f"{path}/assignments").filter(
        F.col("centroid_id").isin(probe_cids)
    )
    if meta.get("pq_codebooks"):
        # PQ index: posting lists carry codes only — recover the floats
        # by joining the pruned membership rows back to the vectors
        # table, itself partition-pruned to the probed buckets when
        # replicas == 1 (see _rerank_vectors for the correctness gate)
        assigned = assigned.select("centroid_id", "nbr_id").join(
            _rerank_vectors(spark, path, meta, probe_cids), "nbr_id"
        )
    pairs = probed.join(assigned, "centroid_id").filter(
        F.col("query_id") != F.col("nbr_id")
    )
    scored = pairs.select(
        "query_id",
        "nbr_id",
        F.expr(
            f"round({_pair_cosine_sql('q_vec', 'nbr_vec', 'q_norm', 'nbr_norm')}, 6)"
        ).alias("cosine"),
    )
    if meta.get("assign_replicas", 1) > 1:
        scored = scored.dropDuplicates(["query_id", "nbr_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def search_ivf_pq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 3,
    n_probe: int | str | None = "auto",
    rerank: int | None = None,
    warn_low_recall: bool = True,
) -> DataFrame:
    """Composed IVF-PQ search over an index built with ``pq_codebooks``:
    partition-pruned scan of the compressed posting lists → equi-join on
    probed centroid ids → ADC shortlist of ``rerank`` per query → exact
    cosine over the shortlist only.  Output:
    ``(query_id, nbr_id, cosine, rank)``.

    RECALL-SAFE DEFAULTS (r12, from the ``ANN_RECALL.json`` sweep): the
    old defaults (full probe + ``rerank=50``) measured recall@10 = 0.12
    on the m4k8 family — the ADC shortlist, not the probe, is what
    starves recall, and widening the probe at a fixed small shortlist
    makes it WORSE (more candidates diluting the same 50 ADC slots).
    So:

    - ``n_probe="auto"`` → ``ceil(sqrt(n_centroids))`` (the classical
      IVF heuristic; ``None`` still means full probe, explicit ints are
      honored);
    - ``rerank=None`` → NO ADC shortlist: exact cosine over every
      candidate in the probed buckets.  Recall then equals bucket
      containment — 0.96 at auto-probe on the sweep family — and the
      cost stays bounded by ``n_probe/n_centroids`` of the corpus.
      The ADC shortlist becomes an explicit opt-in accelerator; an
      explicit ``rerank`` below ``20*k`` warns, because every sweep
      point below that landed under 0.8 recall.

    (The r11 verdict proposed ``rerank=10*k`` as the default; the sweep
    data contradicts it — 10*k=100 sits between the 0.23 and 0.48
    recall rows on m4k8 — so the default avoids the ADC approximation
    entirely instead.)

    Full probe + ``rerank`` ≥ corpus reproduces exact cosine top-k
    (q43 ``method='ivf_pq'`` gates this identity vs DuckDB); production
    settings shrink both knobs.  Candidate pairing is a plain hash
    equi-join — no BroadcastNestedLoopJoin anywhere in this plan
    (asserted in tests alongside the ``PartitionFilters`` pruning).

    Storage contract: same as :func:`search_ivf_index` — one probe frame
    is pinned per call; wrap each search+action in ``pinned_scope`` (or
    call ``release_cached_state`` between batches) so pins don't
    accumulate over a long session (r10 advice)."""
    import warnings

    meta = _load_meta(path)
    books = meta.get("pq_codebooks")
    if not books:
        raise ValueError(f"index at {path} was built without pq_codebooks")
    cents_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    )
    cents = [list(r["centroid"]) for r in cents_rows]
    n_probe = _resolve_n_probe(n_probe, meta)  # "auto" resolved there too
    # warn_low_recall=False is for ORACLE-IDENTITY call sites (q43
    # mirrors the same shortlist size in its DuckDB SQL, so recall
    # against brute force is not the quantity under test) — end users
    # keep the guardrail on by default
    if warn_low_recall and rerank is not None and rerank < 20 * k:
        warnings.warn(
            f"search_ivf_pq_index: rerank={rerank} < 20*k={20 * k} landed "
            "below 0.8 recall@k on every recorded sweep point "
            "(ANN_RECALL.json) — the ADC shortlist starves the exact "
            "rerank.  Raise rerank, or pass rerank=None for exact cosine "
            "over the probed buckets.",
            RuntimeWarning,
            stacklevel=2,
        )

    _nearest, order = _nearest_centroids_expr(vec_col, cents)
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(F.transform(F.slice(order, 1, n_probe), lambda s: s["cid"])).alias(
            "centroid_id"
        ),
    ]
    if rerank is not None:
        # the m x k dot folds run once per query row, before the join;
        # per candidate pair the ADC score is m array lookups
        q_cols.insert(2, pq_luts_expr(vec_col, books).alias("__luts"))
    probed = queries.select(*q_cols)
    # persisted for the same three-consumer reasons as search_ivf_index
    # (cid collect, candidate join, and the rerank query side below)
    probed = register_pinned(probed.persist())
    probe_cids = [
        r["centroid_id"] for r in probed.select("centroid_id").distinct().collect()
    ]
    codes = spark.read.parquet(f"{path}/assignments").filter(
        F.col("centroid_id").isin(probe_cids)
    )
    pairs = probed.join(codes, "centroid_id").filter(
        F.col("query_id") != F.col("nbr_id")
    )
    if rerank is None:
        # exact-over-probed: every candidate goes to the exact cosine —
        # no ADC approximation anywhere in the result
        shortlist = pairs.select("query_id", "nbr_id")
        if meta.get("assign_replicas", 1) > 1:
            shortlist = shortlist.dropDuplicates(["query_id", "nbr_id"])
    else:
        scored = pairs.select(
            "query_id",
            "nbr_id",
            # 6-dp rounded BEFORE the shortlist rank: rounded ADC is the
            # cross-engine-stable quantity (the q43 oracle shortlists on
            # the same rounded value), and quantization error is orders
            # of magnitude above 1e-6 anyway
            F.round(
                pq_adc_from_luts("__luts", "codes", m=len(books)), 6
            ).alias("adc"),
        )
        if meta.get("assign_replicas", 1) > 1:
            scored = scored.dropDuplicates(["query_id", "nbr_id"])
        # shortlist stays NARROW (ids + adc) through the window shuffle;
        # the float q_vec joins back per shortlist row only (<= rerank
        # per query) and the query norm folds once per query, not per
        # candidate pair
        shortlist = (
            scored.withColumn(
                "rank",
                F.expr(
                    "row_number() OVER"
                    " (PARTITION BY query_id ORDER BY adc DESC, nbr_id)"
                ),
            )
            .filter(F.col("rank") <= max(rerank, k))
            .select("query_id", "nbr_id")
        )
    # one row per query from the PERSISTED probe frame — not a third
    # execution of the caller's query pipeline
    qside = (
        probed.select("query_id", "q_vec")
        .dropDuplicates(["query_id"])
        .withColumn("__qn", F.expr(_l2_sql("q_vec")))
    )
    vecs = _rerank_vectors(spark, path, meta, probe_cids)
    # no explicit broadcast hint on the query side (r9 advice): a forced
    # F.broadcast bypasses autoBroadcastJoinThreshold, so a LARGE query
    # table (e.g. a full-probe self-search) would hit Spark's broadcast
    # hard limits / driver OOM.  Letting Catalyst+AQE decide keeps the
    # broadcast for bounded probe batches (runtime size check) while a
    # big query side degrades gracefully to a shuffle join with q_vec
    # carried only per shortlist row.
    exact = (
        shortlist.join(vecs, "nbr_id")
        .join(qside, "query_id")
        .selectExpr(
            "query_id",
            "nbr_id",
            f"round({_pair_cosine_sql('q_vec', 'nbr_vec', '__qn', 'nbr_norm')}, 6)"
            " AS cosine",
        )
    )
    return exact.withColumn(
        "rank",
        F.expr("row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id)"),
    ).filter(F.col("rank") <= k)
