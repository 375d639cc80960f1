"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — a broadcast-style blocked cross join
with the dot product computed JVM-side via ``aggregate(zip_with(...))``.
Scale path: LSH bucketing by random-hyperplane sign bits (SimHash for
vectors) so the self-join only touches same-bucket candidates, plus an
IVF-style coarse quantizer built from a sampled centroid table.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pride_spark.session import local_frame


def _d(x) -> str:
    """SQL text of one double literal.  ``repr`` is Python's shortest
    round-trip form and Spark's double parse is correctly rounded, so
    finite values parse BIT-IDENTICAL to ``F.lit`` — but repr renders
    non-finite values as ``nan``/``inf``, which the SQL parser rejects
    (``nanD`` is not a literal).  Degenerate/NaN input vectors can put
    those into centroids and codebooks, so map them to the string-cast
    forms Spark defines for them (same values ``F.lit`` would produce)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two numeric arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lit_vec(vals) -> Column:
    """``array<double>`` literal in ONE py4j call.

    ``F.array(*[F.lit(x) for x in vals])`` costs a JVM round trip per
    element (~0.5 ms each); with hundreds of floats per centroid table /
    codebook that turns plan CONSTRUCTION — not execution — into the
    dominant per-run cost of the ANN queries (measured: pq_topk plan
    build 2.85 s vs 0.7 s execution at sf0.01).  Rendering the values
    into one SQL array literal parses JVM-side in a single call (6×
    faster per array, N× fewer calls).  ``repr`` is Python's shortest
    round-trip form and Spark's double parse is correctly rounded, so
    the parsed values are BIT-IDENTICAL to ``F.lit`` (asserted over
    denormals/extremes in tests) — fold order and results unchanged."""
    return F.expr(_arr_sql(vals))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def pair_cosine(q_vec: Column, nbr_vec: Column, q_norm: Column, nbr_norm: Column) -> Column:
    """Cosine with pre-hoisted norms — bit-identical to :func:`cosine`
    (same sqrt-of-sum fold, same division order) but the two norm folds run
    once per ROW instead of once per PAIR, cutting the per-pair work from
    three array folds to one."""
    denom = q_norm * nbr_norm
    return F.when(denom > 0, dot(q_vec, nbr_vec) / denom).otherwise(F.lit(0.0))


# --- SQL-text twins of the scoring expressions (r14): the ANN plan
# builders re-create these trees per run, and the Column API costs ~6-10
# py4j round trips per operator — rendered as text they parse JVM-side
# in one call, to IDENTICAL expressions (tools/plan_normdiff.py).

def _dot_cols_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over two column references."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _l2_sql(vs: str) -> str:
    """SQL text of :func:`l2_norm` over a column reference."""
    return (
        f"sqrt(aggregate({vs}, 0.0D, "
        "(acc, v) -> acc + (CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    )


def _pair_cosine_sql(qv: str, nv: str, qn: str, nn: str) -> str:
    """SQL text of :func:`pair_cosine` over column references."""
    denom = f"({qn} * {nn})"
    return (
        f"CASE WHEN {denom} > 0 THEN ({_dot_cols_sql(qv, nv)}) / {denom} "
        "ELSE 0.0D END"
    )


#: shared helper (promoted to operators/partitioning.py in r14; the alias
#: keeps this module's historical import surface working)
from .partitioning import widen as _widen  # noqa: E402


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for every probe row (default: all rows).

    A caller-supplied ``probe`` batch (bounded by contract) is broadcast
    explicitly; with ``probe=None`` (self-search over the corpus) the
    planner picks the join strategy — never a forced broadcast of the
    full corpus.  The dot product runs inside whole-stage codegen.
    O(n·m) compute but zero shuffle beyond the final per-probe top-k
    window — the right baseline to verify ANN recall against.  Norms are
    hoisted per row.  Output: (query_id, neighbor_id, cosine, rank).
    """
    iq, vq = _vec_sql(id_col), _vec_sql(vec_col)
    base = _widen(df).selectExpr(
        f"{iq} AS nbr_id", f"{vq} AS nbr_vec", f"{_l2_sql(vq)} AS __nn"
    )
    q = (probe if probe is not None else df).selectExpr(
        f"{iq} AS query_id", f"{vq} AS q_vec", f"{_l2_sql(vq)} AS __qn"
    )
    # Build the nested loop on the PROBE side explicitly (r13): the
    # docstring's contract ("the probe side is broadcast when small")
    # was left to size estimates, and the planner was observed to build
    # on the CORPUS side instead — which at scale broadcasts the big
    # relation and locally pins the per-pair cosine to the probe scan's
    # partition count rather than the widened corpus side's.  The hint
    # applies ONLY when a probe batch was passed (bounded by contract,
    # r13 ADVICE): with ``probe=None`` the probed side IS the corpus,
    # and force-broadcasting it would hard-fail past Spark's 8 GB
    # broadcast cap at scale — the planner keeps the choice there.
    qh = F.broadcast(q) if probe is not None else q
    pairs = base.join(qh, F.expr("query_id != nbr_id"))
    scored = pairs.selectExpr(
        "query_id",
        "nbr_id",
        f"round({_pair_cosine_sql('q_vec', 'nbr_vec', '__qn', '__nn')}, 6)"
        " AS cosine",
    )
    return scored.withColumn(
        "rank",
        F.expr("row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id)"),
    ).filter(F.col("rank") <= k)


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket id from fixed random hyperplanes (deterministic).

    ``planes`` is a small literal matrix (seeded offline); bucket id is the
    integer formed by the sign bits of ``vec · plane_i``.
    """
    if len(planes) > 63:
        # Spark's shiftleft masks the count mod 64 (Java << on long):
        # plane 64 would silently OR into plane 0's bit, collapsing
        # buckets in a structured way no recall model predicts
        raise ValueError(
            f"at most 63 hyperplanes per table (got {len(planes)}); "
            "use multiple tables (OR-construction) instead"
        )
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = lit_vec(plane)
        bit = F.when(dot(vec, lit_plane) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]] | list[list[list[float]]],
    k: int = 3,
    scorer: str = "gemm",
) -> DataFrame:
    """Approximate top-k: candidates restricted to same-bucket pairs.

    Default production path: per-bucket GEMM scoring
    (:func:`lsh_topk_gemm` — ~4.5x the fold path at sf0.1, O(n·L·k)
    Python↔JVM traffic).  ``scorer="fold"`` selects the all-JVM
    sequential-fold variant (:func:`lsh_topk_fold`) where bit-parity
    with a left-to-right float summation matters; the two agree to 6 dp
    (equivalence asserted in tests/test_dedup_similarity_text.py).
    """
    if scorer == "gemm":
        return lsh_topk_gemm(df, id_col, vec_col, planes, k=k)
    return lsh_topk_fold(df, id_col, vec_col, planes, k=k)


def lsh_topk_fold(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]] | list[list[list[float]]],
    k: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates restricted to same-bucket pairs,
    scored pair-at-a-time with the JVM ``aggregate`` fold.

    ``planes`` is either ONE hash table (a list of hyperplanes) or a list
    of tables (OR-construction): with L tables of b planes, a pair whose
    per-plane agreement probability is p is a candidate with probability
    1-(1-p^b)^L — multiple small tables trade candidate volume for recall
    far better than one deep table.  Shuffle is on the (table, bucket)
    key (O(n·L)), the quadratic term only applies within buckets (expected
    n/2^b each).  Verify against :func:`brute_force_topk`
    (tests/test_dedup_similarity_text.py asserts recall@3).
    """
    tables: list[list[list[float]]] = (
        planes if planes and isinstance(planes[0][0], (list, tuple)) else [planes]  # type: ignore[list-item]
    )
    bucket = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    hyperplane_bucket(F.col(vec_col), tbl).alias("b"),
                )
                for t, tbl in enumerate(tables)
            ]
        )
    )
    b = df.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nbr_vec"),
        l2_norm(F.col(vec_col)).alias("__nn"),
        bucket.alias("bucket"),
    )
    q = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        bucket.alias("bucket"),
    )
    pairs = q.join(b, ["bucket"]).filter(F.col("query_id") != F.col("nbr_id"))
    scored = pairs.select(
        "query_id",
        "nbr_id",
        F.round(
            pair_cosine(F.col("q_vec"), F.col("nbr_vec"), F.col("__qn"), F.col("__nn")), 6
        ).alias("cosine"),
    )
    if len(tables) > 1:
        scored = scored.dropDuplicates(["query_id", "nbr_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk_gemm(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]] | list[list[list[float]]],
    k: int = 3,
    block_rows: int = 1024,
) -> DataFrame:
    """Approximate top-k with per-bucket numpy GEMM scoring — the high-
    throughput variant of :func:`lsh_topk` for wide candidate sets.

    Same OR-construction bucketing (JVM-side sign-bit hashing), but each
    (table, bucket) group is scored in one Arrow batch: normalize the
    member matrix once, ``V @ V.T`` in float64 BLAS, and emit only the
    per-bucket top-k per query.  Emitting per-bucket top-k is lossless
    for the global top-k: if k candidates inside some shared bucket beat
    x, those k are global candidates too, so x was never in the global
    top-k.  Python↔JVM traffic is O(n·L·k) rows instead of O(candidate
    pairs); the quadratic term runs inside BLAS at memory bandwidth.

    Scores differ from the JVM fold path only by float summation order
    (≲1e-15 relative); use :func:`lsh_topk` where bit-parity with the
    sequential fold matters (the q49 oracle), this where throughput does.
    ``block_rows`` bounds kernel memory to O(block_rows · bucket_size)
    even on skewed buckets.
    """
    tables: list[list[list[float]]] = (
        planes if planes and isinstance(planes[0][0], (list, tuple)) else [planes]  # type: ignore[list-item]
    )
    bucket = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    hyperplane_bucket(F.col(vec_col), tbl).alias("b"),
                )
                for t, tbl in enumerate(tables)
            ]
        )
    )
    assigned = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), bucket.alias("bucket")
    ).select("vid", "vec", F.col("bucket.t").alias("t"), F.col("bucket.b").alias("b"))

    def score(pdf):
        import numpy as np
        import pandas as pd

        # id dtype comes from the incoming batch, not a hardcoded int64 —
        # the operator is id-type agnostic like its fold/brute siblings
        empty = pd.DataFrame(
            {
                "query_id": pdf["vid"].iloc[:0],
                "nbr_id": pdf["vid"].iloc[:0],
                "cosine": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        ids = pdf["vid"].to_numpy()
        # candidate columns in ascending-id order: the per-bucket cut
        # must select ties by the SAME (cosine desc, nbr_id asc) total
        # order the global rank uses — an order-agnostic argpartition
        # can emit an arbitrary k of an exact-tie group (duplicate
        # vectors), dropping the small-id ties the final row_number
        # would pick (caught by the 10x gate, whose scaled corpus has
        # 10 exact copies of every vector)
        order0 = np.argsort(ids, kind="stable")
        ids, V = ids[order0], V[order0]
        norms = np.linalg.norm(V, axis=1)
        nz = norms > 0
        Vn = np.zeros_like(V)
        Vn[nz] = V[nz] / norms[nz, None]  # zero-norm rows stay 0 -> cosine 0.0
        kk = min(k, n - 1)
        # bound the transient score matrix to ~256 MB (2^25 float64
        # entries) however large a skewed bucket gets: block_rows is the
        # throughput knob, this is the memory ceiling
        eff_block = max(1, min(block_rows, (1 << 25) // n))
        outs = []
        for s in range(0, n, eff_block):
            e = min(s + eff_block, n)
            S = Vn[s:e] @ Vn.T
            S[np.arange(e - s), np.arange(s, e)] = -np.inf  # mask self-pairs
            # 6-dp round BEFORE the cut (the output/rank quantity), then
            # a STABLE sort: with id-ordered columns, equal-score ties
            # emit in ascending nbr_id — the global tiebreak's order
            top = np.argsort(-np.round(S, 6), axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(e - s), kk)
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": ids[rows + s],
                        "nbr_id": ids[top.ravel()],
                        "cosine": S[rows, top.ravel()],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    id_t = dict(df.dtypes)[id_col]
    cand = assigned.groupBy("t", "b").applyInPandas(
        score, f"query_id {id_t}, nbr_id {id_t}, cosine double"
    )
    # same pair found via several tables -> identical score; max() dedups
    best = cand.groupBy("query_id", "nbr_id").agg(
        F.round(F.max("cosine"), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return best.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    iters: int = 2,
    sample_per_centroid: int = 40,
) -> list[list[float]]:
    """Deterministic spherical-k-means coarse quantizer, trained on a
    bounded sample.

    ONE Spark job: the ``sample_per_centroid × n_centroids`` rows with the
    smallest ``xxhash64(id)`` (a seeded pseudo-random sample — a
    TakeOrdered top-k, not a global sort) are collected, then Lloyd
    iterations run driver-side in numpy (assign by max cosine, recompute
    means, empty clusters keep their previous centroid).  Training the
    quantizer on a fixed-size sample is the standard IVF practice (FAISS
    trains on ~40 points/centroid); it keeps the cost independent of table
    size — full-table Lloyd rounds would re-shuffle 100 TB per iteration
    for centroids that a sample already pins down.  Centroids are rounded
    to 8 dp so the table is reproducible run-to-run.
    """
    import numpy as np

    n_sample = max(n_centroids, sample_per_centroid * n_centroids)
    rows = (
        df.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(n_sample)
        .collect()
    )
    if not rows:  # empty input: no centroids (caller returns empty result)
        return []
    x = np.asarray([list(map(float, r["v"])) for r in rows], dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[: min(n_centroids, len(x))].copy()
    for _ in range(iters):
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = (xn @ cn.T).argmax(axis=1)
        for ci in range(len(cents)):
            mine = x[assign == ci]
            if len(mine):
                cents[ci] = mine.mean(axis=0)
    return [[round(float(v), 8) for v in c] for c in cents]


def _arr_sql(vals) -> str:
    """SQL text of an ``array<double>`` literal (see :func:`lit_vec`)."""
    return "array(" + ",".join(_d(x) for x in vals) + ")"


def _dot_sql(vec_sql: str, vals) -> str:
    """SQL text of :func:`dot` against a literal vector — the EXACT same
    ``aggregate(zip_with(...))`` left-to-right fold, rendered as one
    string so a codebook of hundreds of dots costs one py4j call instead
    of two higher-order-function round trips per dot (measured ~11 ms
    each — construction, not execution, dominated the ANN rows)."""
    return (
        f"aggregate(zip_with({vec_sql}, {_arr_sql(vals)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _vec_sql(vec: Column | str) -> str | None:
    """Column NAME (str input) → backtick-quoted SQL fragment; Column
    input → None (callers fall back to the Column-tree builder)."""
    if isinstance(vec, str):
        return "`" + vec.replace("`", "``") + "`"
    return None


def _nearest_centroids_expr(
    vec: Column | str, cents: list[list[float]]
) -> tuple[Column, Column]:
    """(nearest-centroid id, centroid ids ordered nearest-first) as pure
    Column expressions over a driver-side centroid list — assignment and
    probe selection cost zero shuffles.

    Ranks by ``dot(vec, c) / ||c||`` instead of full cosine: dividing by
    the row-constant ``||vec||`` cannot change the per-row ordering (and
    the degenerate ``||vec|| = 0`` row ties every key either way), while
    the centroid norms are Python-side constants — so each row pays
    ``n_centroids`` dot folds instead of ``n_centroids`` dots plus
    ``2 · n_centroids`` norm folds.

    ``vec`` as a str (column name) selects the one-py4j-call SQL-text
    path (:func:`_dot_sql`); a Column builds the same tree op-by-op —
    both parse to the IDENTICAL expression (equality asserted in
    tests/test_dedup_similarity_text.py)."""
    # the cast names the struct fields; aliases inside F.struct are not
    # reliably preserved through array_sort's type merge
    entry_t = "struct<neg:double,cid:int>"
    norms = [max(sum(x * x for x in c) ** 0.5, 1e-12) for c in cents]
    vs = _vec_sql(vec)
    if vs is not None:
        entries = ",".join(
            f"CAST(struct(-({_dot_sql(vs, c)}) / {_d(norms[ci])}, {ci}) "
            f"AS {entry_t})"
            for ci, c in enumerate(cents)
        )
        order_sql = f"array_sort(array({entries}))"
        return F.expr(f"element_at({order_sql}, 1).cid"), F.expr(order_sql)
    order = F.array_sort(
        F.array(
            *[
                F.struct(
                    -dot(vec, lit_vec(c)) / F.lit(norms[ci]),
                    F.lit(ci),
                ).cast(entry_t)
                for ci, c in enumerate(cents)
            ]
        )
    )
    return F.element_at(order, 1)["cid"], order


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int | None = None,
    probe: DataFrame | None = None,
    kmeans_iters: int = 2,
    assign_replicas: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer → per-bucket search (scale path).

    The quantizer is a deterministic spherical k-means
    (:func:`_kmeans_centroids`); because the centroid table lives on the
    driver, bucket assignment and probe selection are literal Column
    expressions — no window, no join fan-out, zero extra shuffles.  A
    query probes its ``n_probe`` nearest centroid buckets and ranks only
    those candidates, so the ONLY shuffle is the candidates equi-join on
    ``centroid_id`` plus the final per-query top-k window.
    ``n_probe = n_centroids`` probes everything — exact results (= brute
    force), which is the oracle contract; smaller ``n_probe`` trades
    recall for a ~``n_probe/n_centroids`` candidate fraction (recall@k
    vs brute force is asserted in tests/test_dedup_similarity_text.py).

    ``assign_replicas > 1`` soft-assigns each DB vector to its nearest
    ``assign_replicas`` buckets (multi-assignment): candidate volume and
    storage scale by the replica count, but boundary vectors stop being
    invisible to neighboring buckets — measured recall@3 on the sf0.01
    embeddings fixture jumps 0.78 → 0.97 at ``n_probe = n_centroids/2``,
    ``assign_replicas = 2``.

    ``centroids`` supplies a pre-trained quantizer and skips the k-means
    job entirely — the train-once / search-many pattern a production
    index uses (the caller trains on one bounded sample, then every
    search reuses the same driver-side centroid literals).

    A caller-supplied ``probe`` batch (bounded by contract) is broadcast
    explicitly into the candidates join; with ``probe=None``
    (self-search) the probed side is the corpus exploded ``n_probe``
    ways, so no broadcast is forced — the planner keeps its scalable
    shuffle equi-join on ``centroid_id``.
    """
    cents = (
        centroids
        if centroids is not None
        else _kmeans_centroids(df, id_col, vec_col, n_centroids, kmeans_iters)
    )
    # default AFTER the quantizer is resolved: a caller-supplied
    # pretrained quantizer larger than n_centroids would otherwise be
    # silently under-probed, breaking the documented full-probe-=-exact
    # default contract
    if n_probe is not None and n_probe <= 0:
        raise ValueError(f"n_probe must be positive, got {n_probe}")
    n_probe = n_probe or len(cents) or n_centroids
    if not cents:  # empty table: empty result with the output schema
        id_t = dict(df.dtypes)[id_col]
        return local_frame(
            df.sparkSession, [], f"query_id {id_t}, nbr_id {id_t}, cosine double, rank int"
        )
    nearest, order = _nearest_centroids_expr(vec_col, cents)
    bucket = (
        nearest
        if assign_replicas <= 1
        else F.explode(F.transform(F.slice(order, 1, assign_replicas), lambda s: s["cid"]))
    )
    iq, vq = _vec_sql(id_col), _vec_sql(vec_col)
    assigned = _widen(df).select(
        F.expr(f"{iq} AS nbr_id"),
        F.expr(f"{vq} AS nbr_vec"),
        F.expr(f"{_l2_sql(vq)} AS __nn"),
        bucket.alias("centroid_id"),
    )
    q = probe if probe is not None else df
    probed = q.select(
        F.expr(f"{iq} AS query_id"),
        F.expr(f"{vq} AS q_vec"),
        F.expr(f"{_l2_sql(vq)} AS __qn"),
        F.explode(
            F.transform(F.slice(order, 1, n_probe), lambda s: s["cid"])
        ).alias("centroid_id"),
    )
    # Broadcast the PROBED side explicitly (r13): it is the bounded query
    # batch × n_probe — small by contract — while ``assigned`` is the
    # corpus.  Left to size estimates, the planner was observed to
    # broadcast the CORPUS side (the probe's explode inflates its
    # estimate), which both inverts the scale story (a 100 TB corpus
    # must stream, never build) and pins the per-pair cosine stage to
    # the probe scan's partition count instead of the widened corpus
    # side's.  The hint applies ONLY when a probe batch was passed
    # (bounded by contract, r13 ADVICE): in self-join mode
    # (``probe=None``) the probed side IS the corpus exploded n_probe
    # ways, and force-broadcasting it would OOM/hard-fail past the 8 GB
    # broadcast cap at scale where the planner's shuffle equi-join on
    # centroid_id scales fine — the planner keeps the choice there.
    ph = F.broadcast(probed) if probe is not None else probed
    pairs = assigned.join(ph, "centroid_id").filter("query_id != nbr_id")
    scored = pairs.selectExpr(
        "query_id",
        "nbr_id",
        f"round({_pair_cosine_sql('q_vec', 'nbr_vec', '__qn', '__nn')}, 6)"
        " AS cosine",
    )
    if assign_replicas > 1:
        # with replicas a (query, nbr) pair can meet in several buckets
        scored = scored.dropDuplicates(["query_id", "nbr_id"])
    return scored.withColumn(
        "rank",
        F.expr("row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id)"),
    ).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN scoring.
#
# The 100 TB problem IVF/LSH do not solve: the candidate scan still READS
# full float vectors (dim x 4-8 bytes/row).  PQ splits each vector into
# ``m`` subspaces and stores only the id of the nearest per-subspace
# centroid — ``m`` small ints per row (16-32x narrower than the floats),
# so the ANN scan's bytes-on-disk and shuffle width shrink by that factor
# and the codes table of a 100 TB corpus fits where the vectors never
# would.  Scoring is asymmetric (ADC): the QUERY stays exact; a
# candidate's approximate inner product is the sum of the query-subspace
# dot products with the candidate's chosen centroids — per-pair work is
# ``m`` array lookups + adds, no float-vector access at all (Jegou,
# Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
# IEEE TPAMI 2011).
#
# Everything is literal Column expressions over a driver-side codebook
# (the `_nearest_centroids_expr` pattern): encode, LUT build, and ADC
# scoring are whole-stage codegen — no UDF, no extra shuffle.  Codebooks
# come from :func:`pq_train` (per-subspace Lloyd on a bounded sample —
# production) or :func:`pq_codebooks_seeded` (deterministic LCG literals
# — the cross-engine-reproducible family that lets DuckDB replay the
# exact encode + ADC arithmetic, the q49-planes technique).  Composes
# with IVF: encode once, store codes partitioned by centroid_id, and run
# the ADC scan inside probed buckets only (IVF-PQ).
# ---------------------------------------------------------------------------


def pq_codebooks_seeded(
    m: int = 4, k: int = 16, dim: int = 64, seed: int = 20250814
) -> list[list[list[float]]]:
    """Deterministic pseudo-random PQ codebooks (LCG, 4 dp literals):
    ``m`` subspaces x ``k`` centroids x ``dim//m`` floats in [-1, 1).
    Not data-adaptive (recall below trained codebooks) but bit-identical
    in any engine — the oracle-able family."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    state, sub = seed, dim // m
    out = []
    for _ in range(m):
        book = []
        for _ in range(k):
            c = []
            for _ in range(sub):
                state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
                c.append(round(state / float(1 << 63) * 2.0 - 1.0, 4))
            book.append(c)
        out.append(book)
    return out


def _lloyd_subspace_books(x, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """The shared per-subspace Lloyd kernel behind :func:`pq_train`:
    ``m`` independent L2 k-means over ``dim/m``-wide float64 slices,
    first-``k``-rows init, argmin ties to the lower centroid index,
    centroids rounded to 8 dp.  Exposed so an ENGINE-FREE replica (pure
    numpy over the same row matrix — q43's oracle generator) produces
    bit-identical codebooks: same function, same float64 input, same
    output, no cross-engine arithmetic to reconcile."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cents = xs[: min(k, len(xs))].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(len(cents)):
                mine = xs[assign == ci]
                if len(mine):
                    cents[ci] = mine.mean(axis=0)
        books.append([[round(float(v), 8) for v in c] for c in cents])
    return books


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    sample_per_centroid: int = 40,
    order_by_id: bool = False,
) -> list[list[list[float]]]:
    """Data-adaptive codebooks: per-subspace Lloyd (plain L2 k-means) on
    the same bounded xxhash64-ordered sample as :func:`_kmeans_centroids`
    — ONE Spark job regardless of table size, then ``m`` independent
    driver-side k-means over ``dim/m``-wide slices
    (:func:`_lloyd_subspace_books`; centroids rounded to 8 dp for
    run-to-run reproducibility).  ``order_by_id=True`` samples the
    first ``n`` rows by ``id_col`` instead of by hash — an ordering any
    engine can replicate, which makes the TRAINED codebooks themselves
    oracle-able (q43 ``method='pq_trained'``)."""
    import numpy as np

    n_sample = max(k, sample_per_centroid * k)
    order = F.col(id_col) if order_by_id else F.xxhash64(F.col(id_col).cast("string"))
    rows = (
        df.select(F.col(vec_col).alias("v"), order.alias("h"))
        .orderBy("h")
        .limit(n_sample)
        .collect()
    )
    if not rows:
        return []
    x = np.asarray([list(map(float, r["v"])) for r in rows], dtype=np.float64)
    return _lloyd_subspace_books(x, m, k, iters)


def pq_encode_expr(vec: Column | str, codebooks: list[list[list[float]]]) -> Column:
    """``array<int>`` of ``m`` code ids — per subspace, the L2-nearest
    codebook centroid.  Ranks by ``|c|^2 - 2 * dot(sub, c)`` (expanding
    ``|sub - c|^2`` and dropping the row-constant ``|sub|^2``, which
    cannot change the per-subspace argmin), so each row pays one dot fold
    per centroid instead of a full difference-norm fold.  Ties (exactly
    equal distances) break toward the LOWER code id in both engines via
    the struct sort's second field.

    ``vec`` as a str (column name) takes the one-py4j-call SQL-text path
    — same expression, see :func:`_dot_sql`."""
    entry_t = "struct<d:double,code:int>"
    vs = _vec_sql(vec)
    if vs is not None:
        codes_sql = []
        for j, book in enumerate(codebooks):
            sub = len(book[0])
            s = f"slice({vs}, {j * sub + 1}, {sub})"
            entries = ",".join(
                f"CAST(struct({_d(round(sum(x * x for x in c), 10))} "
                f"- 2.0D * {_dot_sql(s, c)}, {ci}) AS {entry_t})"
                for ci, c in enumerate(book)
            )
            codes_sql.append(f"element_at(array_sort(array({entries})), 1).code")
        return F.expr("array(" + ",".join(codes_sql) + ")")
    codes = []
    for j, book in enumerate(codebooks):
        sub = len(book[0])
        s = F.slice(vec, j * sub + 1, sub)
        order = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.lit(round(sum(x * x for x in c), 10))
                        - F.lit(2.0) * dot(s, lit_vec(c)),
                        F.lit(ci),
                    ).cast(entry_t)
                    for ci, c in enumerate(book)
                ]
            )
        )
        codes.append(F.element_at(order, 1)["code"])
    return F.array(*codes)


def pq_luts_expr(q_vec: Column | str, codebooks: list[list[list[float]]]) -> Column:
    """Per-query ADC lookup tables: ``array<array<double>>`` of shape
    ``m x k`` where ``lut[j][c] = dot(q_sub_j, book_j[c])``.  This is the
    expensive half of ADC (``m x k`` dot folds) — compute it on the PROBE
    side before the candidate join so it runs once per query row;
    per-pair work is then ``m`` array lookups (:func:`pq_adc_from_luts`).

    ``q_vec`` as a str (column name) takes the one-py4j-call SQL-text
    path — same expression, see :func:`_dot_sql`."""
    vs = _vec_sql(q_vec)
    if vs is not None:
        parts = []
        for j, book in enumerate(codebooks):
            sub = len(book[0])
            s = f"slice({vs}, {j * sub + 1}, {sub})"
            parts.append("array(" + ",".join(_dot_sql(s, c) for c in book) + ")")
        return F.expr("array(" + ",".join(parts) + ")")
    luts = []
    for j, book in enumerate(codebooks):
        sub = len(book[0])
        s = F.slice(q_vec, j * sub + 1, sub)
        luts.append(F.array(*[dot(s, lit_vec(c)) for c in book]))
    return F.array(*luts)


def pq_adc_from_luts(
    luts: Column | str, codes: Column | str, m: int | None = None
) -> Column:
    """ADC inner product from precomputed query LUTs: ``sum_j
    luts[j][codes[j]]`` — ``m`` lookups + adds per pair, no dot folds.
    Left-to-right addition starting from the first term — bit-identical
    to the 0.0-init ``dot`` fold (IEEE: ``0.0 + x == x``).  Pass ``m``
    (statically known from the codebooks) to unroll the fold into a
    plain codegen addition chain instead of a per-row HOF evaluation —
    the pair loop is the hot path.  With ``m`` and column NAMES the
    chain renders as SQL text parsed in one py4j call (r14; identical
    expression, tools/plan_normdiff.py)."""
    ls, cs = _vec_sql(luts), _vec_sql(codes)
    if m is None:
        if ls is not None:
            luts, codes = F.col(luts), F.col(codes)  # type: ignore[arg-type]
        return F.aggregate(
            F.zip_with(luts, codes, lambda lut, c: F.element_at(lut, c + F.lit(1))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    if ls is not None and cs is not None:
        return F.expr(
            " + ".join(
                f"element_at(element_at({ls}, {j + 1}),"
                f" element_at({cs}, {j + 1}) + 1)"
                for j in range(m)
            )
        )
    terms = [
        F.element_at(F.element_at(luts, j + 1), F.element_at(codes, j + 1) + F.lit(1))
        for j in range(m)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def pq_adc_expr(
    q_vec: Column, codes: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Asymmetric-distance inner product: ``sum_j dot(q_sub_j,
    book_j[codes[j]])`` as one expression with the LUTs built inline —
    the reference formulation for tests and one-off scoring.  In a join,
    use :func:`pq_luts_expr` on the probe side + :func:`pq_adc_from_luts`
    per pair instead, which moves the ``m x k`` dot folds out of the
    pair loop (measured 8.3s → 2.9s on q43's sf0.1 fold)."""
    return pq_adc_from_luts(pq_luts_expr(q_vec, codebooks), codes)


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    *,
    k: int = 3,
    probe: DataFrame | None = None,
    codes_df: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Top-k by ADC inner product per probe row →
    ``(query_id, nbr_id, adc, rank)``; with ``rerank`` set, the standard
    PQ + exact-re-ranking pipeline → ``(query_id, nbr_id, cosine, rank)``:
    the compressed scan shortlists each query's top-``rerank`` candidates
    by ADC, then ONLY those ``|probe| x rerank`` rows join the float
    vectors back for exact cosine and the final top-k.  Quantization
    distortion shuffles the tiny margins between a query's closest
    neighbors, so raw-ADC recall@k plateaus; shortlist-then-rerank
    restores it (measured on the sf0.01 embeddings fixture: recall@3 vs
    exact cosine 0.30 raw → 0.97 at ``m=16, k=16, rerank=50``) while the
    corpus-wide
    scan still reads only codes — the full vectors are touched via an
    id equi-join on the shortlist, a point-lookup-scale access at any
    corpus size.

    The candidate side is the CODES table — ``(nbr_id, codes:
    array<int>)``, 16-32x narrower than the vectors; pass a precomputed
    ``codes_df`` (e.g. ``df.select(id, pq_encode_expr(vec, books))``
    persisted to parquet once per corpus generation) to skip the encode
    scan entirely, the amortization a served index lives on.  The probe
    side must be bounded (a query batch, not the corpus): candidates =
    probe x codes via broadcast of the probe — the deliberate
    bounded-build-side nested-loop of ``brute_force_topk``, except each
    candidate row costs ``m`` lookups instead of a ``dim``-wide float
    fold and the scan reads the compressed codes.  At IVF scale, bucket
    the codes table by centroid and join on the probed bucket ids
    instead (IVF-PQ) — same scoring expression, equi-join pruning."""
    iq, vq = _vec_sql(id_col), _vec_sql(vec_col)
    if codes_df is None:
        codes_df = df.select(
            F.expr(f"{iq} AS nbr_id"),
            pq_encode_expr(vec_col, codebooks).alias("codes"),
        )
    codes_df = _widen(codes_df)
    q = probe if probe is not None else df
    probed = q.select(
        F.expr(f"{iq} AS query_id"),
        F.expr(f"{vq} AS q_vec"),
        # the m x k dot folds run HERE, once per query row, before the
        # broadcast — per pair the score is m array lookups
        pq_luts_expr(vec_col, codebooks).alias("__luts"),
    )
    pairs = codes_df.join(F.broadcast(probed), F.expr("query_id != nbr_id"))
    # adc rounded to 6 dp ONCE, before either branch ranks: the rounded
    # ADC is the cross-engine-stable quantity both the no-rerank output
    # and search_ivf_pq_index shortlist on — an unrounded shortlist cut
    # here would admit different boundary candidates than the oracle
    scored = pairs.select(
        "query_id",
        "nbr_id",
        F.round(
            pq_adc_from_luts("__luts", "codes", m=len(codebooks)), 6
        ).alias("adc"),
    )
    rank = F.expr("row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, nbr_id)")
    if rerank is None:
        return scored.withColumn("rank", rank).filter(F.col("rank") <= k)
    # shortlist stays NARROW (ids + adc) through the window shuffle; the
    # float q_vec joins back per shortlist row only — <= rerank rows per
    # query instead of every candidate pair — and the query norm is
    # computed once per query, not re-folded per pair
    shortlist = (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= max(rerank, k))
        .select("query_id", "nbr_id")
    )
    nbr_vecs = df.selectExpr(
        f"{iq} AS nbr_id", f"{vq} AS nbr_vec", f"{_l2_sql(vq)} AS __nn"
    )
    qside = q.selectExpr(
        f"{iq} AS query_id", f"{vq} AS q_vec", f"{_l2_sql(vq)} AS __qn"
    )
    exact = (
        shortlist.join(nbr_vecs, "nbr_id")
        .join(F.broadcast(qside), "query_id")
        .selectExpr(
            "query_id",
            "nbr_id",
            f"round({_pair_cosine_sql('q_vec', 'nbr_vec', '__qn', '__nn')}, 6)"
            " AS cosine",
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)
