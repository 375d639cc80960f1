"""Distributed connected components — the clustering core of the native
MaraCluster substitute (SURVEY §2.14b).

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014).  Each
iteration is two groupBy-min shuffles over the (shrinking) edge list and
converges in O(log n) iterations REGARDLESS of component shape — unlike
plain min-label propagation (O(diameter), and no better with pointer
jumping when the minimum id sits at a random position, measured 16
rounds on 15-hop chains vs 4 for star contraction).

- large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
- small-star(u): orient edges toward the larger endpoint, then connect
  u and all its smaller neighbors to their minimum

At the fixpoint every component is a star centered on its minimum node
id; labels fall out of one final neighbor-min.

Scale notes:
- state is only the edge list, which contracts every round;
- each round's output is localCheckpoint-ed — without that the loop's
  lineage would re-execute all prior rounds (and the upstream edge
  plan) on every use;
- superseded rounds' checkpoint RDDs are unpersisted eagerly: the
  ContextCleaner only frees them on a driver GC, so a long session
  (bench/stress runs 50 queries in one JVM) would otherwise accumulate
  every round of every CC call in the executor storage pool and evict
  everyone else's cache (observed: q47 24s idle vs 131s at the tail of
  a stress sequence).  Only ``base`` and the final round stay pinned —
  they feed the returned plan — and, like every checkpoint, they are
  made by ``session.checkpoint``, so the caller's ``pinned_scope`` or
  ``release_cached_state`` frees them;
- convergence is a direct star-forest test (one grouped scalar pass
  per round, r13) — row data never reaches the driver, and no
  confirmation round is needed once the forest forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import _rdd_handle, _unpin, checkpoint

#: SQL-text rendering note (r14): the star steps and the convergence
#: test run PER ROUND, so their Column-API plan construction (~0.2 s of
#: py4j round trips per round at 32 partitions) is a recurring driver
#: tax; the hot builders below render expression families as SQL text
#: parsed JVM-side — identical expressions (tools/plan_normdiff.py),
#: one call each.


def _with_min_b(df: DataFrame, skew_safe: bool, with_deg: bool = False) -> DataFrame:
    """Attach ``m = min(b) over rows sharing a``.

    Default (window): whole-partition frame — ONE shuffle, versus the
    groupBy+re-join formulation which exchanges the edge list twice per
    star step.  But a window routes EVERY row of a key to one task, and
    star contraction deliberately manufactures hubs (at the fixpoint the
    component minimum's degree IS the component size), so on graphs with
    billion-node components the window becomes a straggler.

    ``skew_safe``: groupBy-min (map-side combine collapses each hub to
    one row per map task before the shuffle — skew-immune) + join back
    (AQE's OptimizeSkewedJoin can split a skewed probe side; it cannot
    split a window partition).  Costs one extra small exchange per step;
    flip it on for adversarial/unknown graph shapes at scale.

    ``with_deg`` additionally attaches ``__deg = count over the same
    key`` — FREE in both formulations (same window frame / same
    aggregate), used by the auto-mode hub probe.
    """
    if skew_safe:
        aggs = [F.expr("min(b) AS m")]
        if with_deg:
            aggs.append(F.expr("count(1) AS __deg"))
        return df.join(df.groupBy("a").agg(*aggs), "a")
    out = df.withColumn("m", F.expr("min(b) OVER (PARTITION BY a)"))
    if with_deg:
        out = out.withColumn("__deg", F.expr("count(1) OVER (PARTITION BY a)"))
    return out


def _large_star(sym: DataFrame, skew_safe: bool = False, with_deg: bool = False) -> DataFrame:
    """sym = both orientations.  Emit (v, min(N(u) ∪ {u})) for v > u.

    With ``with_deg``, every output row carries its source partition's
    size — large-star's window over the symmetric list is exactly where
    a hub becomes a straggler, so this IS the quantity the auto-mode
    probe needs, computed inside the window pass that runs anyway."""
    # no distinct here: the output feeds straight into small-star's
    # per-``a`` min, where duplicate (u,v) rows can't change the min —
    # the round's edge list is deduped once, at small-star's output
    cols = ["b AS u", "m AS v"] + (["__deg"] if with_deg else [])
    return (
        _with_min_b(sym, skew_safe, with_deg)
        .withColumn("m", F.expr("least(m, a)"))
        .filter("b > a")
        .selectExpr(*cols)
    )


def _small_star(edges: DataFrame, skew_safe: bool = False, with_deg: bool = False) -> DataFrame:
    """Orient toward larger endpoint; connect u ∪ smaller-neighbors to min.

    With ``with_deg``, the input's ``__deg`` column (large-star partition
    sizes) rides through to the output rows; dedup then keys on (u, v)
    only — which ``__deg`` survives is arbitrary, fine for a threshold
    probe."""
    extra = ["__deg"] if with_deg else []
    oriented = edges.selectExpr(
        "greatest(u, v) AS a", "least(u, v) AS b", *extra
    )
    with_m = _with_min_b(oriented, skew_safe)
    # emit {(b, m), (a, m)} via explode, NOT a union of two selects: the
    # union's branches are separate scans of the window output, and while
    # the window's exchange is reused, the WindowExec itself runs once per
    # branch — explode keeps one window pass per round (measured ~15% off
    # the q47 round cost at sf0.1)
    links = with_m.selectExpr(
        "explode(array(named_struct('u', b, 'v', m),"
        " named_struct('u', a, 'v', m))) AS e",
        *extra,
    ).select("e.u", "e.v", *extra)
    links = links.filter("u != v")
    return links.dropDuplicates(["u", "v"]) if with_deg else links.distinct()


def _local_contract(edges: DataFrame, keep_singletons: bool = False) -> DataFrame:
    """Partition-local union-find pre-contraction (round 5).

    Each task replaces ITS OWN edge set with an equivalent spanning star
    (node → min node id of its partition-local component) — connectivity
    across the whole list is unchanged, but intra-partition structure
    collapses in one narrow pass with NO shuffle.  Edge lists usually
    arrive clustered (q47's chain edges are co-located per customer by
    the window that built them; q48's pair edges by bin), so the star
    rounds then start from a graph that is already mostly contracted:
    output size is ``nodes_in_partition - local_components`` ≤ input
    edges, and each local chain/clique of length L costs the loop zero
    rounds instead of O(log L).

    Arrow-batched ``mapInPandas``; the per-task state is an int32/64
    parent array over the partition's distinct nodes (bounded by the
    input partition size, i.e. by ``maxPartitionBytes``).  Works for any
    orderable node type via factorization; min-root choice keeps the
    output deterministic per partitioning."""
    import pandas as pd

    schema = edges.schema

    def kernel(batches):
        import numpy as np

        chunks = [b for b in batches]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        both = pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]], ignore_index=True)
        codes, uniques = pd.factorize(both)
        n = len(uniques)
        ne = len(pdf)
        cu, cv = codes[:ne], codes[ne:]
        parent = np.arange(n, dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(cu.tolist(), cv.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
        ids = pd.Series(uniques)
        grp = ids.groupby(roots)
        min_id = grp.transform("min")
        keep = ids != min_id
        if keep_singletons:
            # a node seen ONLY in self-loops here must still reach the
            # node table, which derives from this output — emit (n, n)
            keep = keep | (grp.transform("size") == 1)
        out = pd.DataFrame(
            {schema[0].name: ids[keep], schema[1].name: min_id[keep]}
        )
        if len(out):
            yield out

    return edges.mapInPandas(kernel, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 50,
    skew_safe: bool | str = "auto",
    skew_threshold: int = 500_000,
    pre_contract: bool = True,
    edges_unique: bool = False,
) -> DataFrame:
    """Label every node with the MIN node id of its connected component.

    ``edges`` is an undirected edge list (any orientation, duplicates and
    self-loops fine); isolated nodes appearing in the list label
    themselves.  Returns ``(node, component)``.

    ``edges_unique=True`` declares a caller CONTRACT that the edge rows
    are already distinct as (src, dst) pairs (e.g. first-collision-wins
    candidate generation emits each pair exactly once), which skips the
    base ``distinct()`` — one full shuffle of the edge list saved at any
    scale (only on the non-pre-contracted path; the local union-find
    already replaces the distinct elsewhere).  The claim is SAFE even if
    wrong: large-star/small-star minima are duplicate-invariant, round 1
    dedups at small-star's output as always, and the probe flags only
    become conservative (an inflated ``cu`` can veto the zero-round
    early-exit, never fabricate convergence) — labels are identical
    either way.  NB (src, dst) AND (dst, src) both present still counts
    as unique here; only exact duplicate ROWS are the distinct's target.

    ``skew_safe=True`` swaps the per-key window for a map-side-combined
    groupBy+join in each star step (see :func:`_with_min_b`) — needed
    when components grow past what one window task should hold.  The
    default ``"auto"`` SELF-TUNES: the input's max node degree is probed
    once before the loop, and while un-flipped each round's rows carry
    ``__deg`` — the large-star window partition size, computed for free
    inside the window pass that runs anyway — whose max rides the
    round's single convergence aggregate; past ``skew_threshold`` the
    star steps flip to the skew-safe formulation.  Star contraction
    MANUFACTURES hubs (a root's degree approaches its component size at
    the fixpoint), so a graph that starts hub-free can still need the
    flip mid-run — this is why the probe is per-round, not just on
    input.  Total probe cost: one extra small job on the checkpointed
    input, plus an 8-byte column while probing; zero extra shuffles.
    """
    spark = edges.sparkSession
    # eager=False throughout this loop: every lazy checkpoint is
    # materialized by the NEXT action that reads it (the probe aggregate
    # or the round's convergence aggregate), so each round costs ONE
    # driver job instead of two (measured: ~0.25s/job fixed scheduling
    # latency at bench scale — the loop's dominant cost on small graphs).
    # The ordering contract that makes this safe: a checkpoint's data is
    # unrecoverable once unpersisted (lineage is truncated), so a parent
    # checkpoint is only freed AFTER its dependent round materializes.
    from pyspark.sql.types import AtomicType

    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    if pre_contract and not all(
        isinstance(f.dataType, AtomicType) for f in raw.schema.fields
    ):
        # Non-atomic node ids skip the pre-pass: structs WERE supported
        # via tuple-encoding, but measured 12.5s vs 7.0s WITHOUT the
        # contraction on q48's 6.5M tagged struct edges at the 10x
        # stress — the per-value Python encode/decode maps cost more
        # than the contraction saves, and banded-pair edge lists have
        # little partition locality to exploit anyway.  The star rounds
        # handle any orderable type.
        pre_contract = False
    if pre_contract:
        # Partition-local union-find pre-contraction REPLACES the global
        # distinct: it runs on the RAW narrow projection, so the
        # producer's partitioning survives (a distinct would hash-scatter
        # the edges first and destroy exactly the locality the pre-pass
        # exploits — q47's chain edges arrive co-located per customer
        # from the window that built them).  The output is per-partition
        # deduped spanning stars — smaller than the distinct edge list —
        # and the rounds dedup the ≤ num_partitions residual copies per
        # node at small-star as always.  keep_singletons preserves
        # self-loop-only nodes for the node table below.
        base = _local_contract(raw, keep_singletons=True)
    elif edges_unique:
        # caller-declared distinct pairs (see docstring): the base dedup
        # shuffle is pure overhead — q48's banded first-collision pair
        # lists hit exactly this path (struct nodes skip pre-contraction)
        base = raw
    else:
        base = raw.distinct()
    base = checkpoint(base)  # feeds every round; pinned past return
    auto = skew_safe == "auto"
    cur = base.filter(F.col("u") != F.col("v"))
    prev = None

    # Star-forest convergence test (r13 optimization round): an edge
    # list whose edges all point strictly DOWN (v < u) is a star forest
    # with min-centers ⟺ (1) every ``u`` appears EXACTLY once and
    # (2) no ``u`` value appears as a ``v`` — then every u points at
    # exactly one parent and every parent is a root (= its component's
    # minimum, by the orientation condition).  Such a list is provably a
    # fixpoint (large-star and small-star are identities on a
    # min-centered star forest), so the loop breaks ONE FULL ROUND
    # EARLIER than the previous signature-equality test, which had to
    # run round k+1 to observe that round k changed nothing — the
    # confirmation round (3 shuffles of the full edge list) is gone from
    # every convergent CC call.  The test is EXACT — explode endpoints
    # with a side marker, group by node, then fold three scalars:
    #     max(per-node u-occurrences) <= 1        (condition 1)
    #     no node has both a u- and a v-occurrence (condition 2)
    #     max(v >= u) is false                    (orientation)
    # Exactness matters: a hashed count-distinct variant would carry a
    # BIRTHDAY collision risk (n²/2⁶⁴ over node pairs — 5% at 10⁹
    # nodes) that could deadlock convergence; the groupBy shuffles only
    # map-side-combined (node, flags) pairs, bounded by distinct nodes
    # per partition.  The aggregate is also THE action that materializes
    # each round's lazy checkpoint — still one driver job per round.
    def _forest_row(df: DataFrame, probing: bool):
        extra = ["__deg"] if probing else []
        ex = df.selectExpr(
            "explode(array(named_struct('x', u, 's', 0),"
            " named_struct('x', v, 's', 1))) AS e",
            # round outputs point down by construction (small-star emits
            # (x, min)); the orientation flag matters for the BASE probe,
            # whose pre-contracted edges are min-oriented per partition
            # but could in principle arrive otherwise.
            "v >= u AS __up",
            *extra,
        ).select("e.x", "e.s", "__up", *extra)
        per_x = ex.groupBy("x").agg(
            F.expr("sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS cu"),
            F.expr("max(s = 1) AS has_v"),
            F.expr("max(__up) AS up"),
            *([F.expr("max(__deg) AS maxd")] if probing else []),
        )
        aggs = [
            F.expr("max(cu) AS max_cu"),
            F.expr("max(has_v AND cu > 0) AS overlap"),
            F.expr("max(up) AS up"),
        ]
        if probing:
            aggs.append(F.expr("max(maxd) AS maxd"))
        return per_x.agg(*aggs).first()

    def _is_forest(row) -> bool:
        # Nones arise only on an empty edge list: trivially a forest.
        return (
            not row["up"]
            and (row["max_cu"] or 0) <= 1
            and not row["overlap"]
        )

    if auto:
        # The input hub probe does TRIPLE duty (r13): the per-node
        # aggregate IS the node table (groupBy ≈ the distinct the final
        # join needs anyway, checkpointed so the final join reuses it),
        # its max degree is the skew probe, AND — when the base is
        # pre-contracted — the same grouped pass carries the star-forest
        # flags, so the base early-exit costs ZERO extra jobs.
        # Self-loop edges (keep_singletons emits (n, n)) count toward
        # __deg and the node table but are EXCLUDED from the forest
        # flags via the ``real`` marker: the loop never sees them
        # (``cur`` filters u != v), so they must not veto convergence.
        ex0 = base.selectExpr(
            "explode(array(named_struct('node', u, 's', 0),"
            " named_struct('node', v, 's', 1))) AS e",
            "u != v AS real",
            "v >= u AS __up",
        ).select("e.node", "e.s", "real", "__up")
        nodes_deg = checkpoint(ex0.groupBy("node").agg(
            F.expr("count(1) AS __deg"),
            F.expr("sum(CASE WHEN s = 0 AND real THEN 1 ELSE 0 END) AS cu"),
            F.expr("max(s = 1 AND real) AS has_v"),
            F.expr("max(real AND __up) AS up"),
        ))
        row0 = nodes_deg.agg(  # materializes base + nodes_deg
            F.expr("max(__deg) AS maxd"),
            F.expr("max(cu) AS max_cu"),
            F.expr("max(has_v AND cu > 0) AS overlap"),
            F.expr("max(up) AS up"),
        ).first()
        mode = (row0["maxd"] or 0) > skew_threshold
        nodes = nodes_deg.select("node")
        converged = pre_contract and _is_forest(row0)
    else:
        nodes = base.select(F.col("u").alias("node")).union(
            base.select(F.col("v").alias("node"))
        ).distinct()
        mode = bool(skew_safe)
        converged = pre_contract and _is_forest(_forest_row(cur, False))

    # Checkpoint hygiene frees each superseded round by its DIRECT RDD
    # handle (session._rdd_handle), so concurrent driver threads
    # persisting their own RDDs are never touched.  Only the immediately
    # superseded round is freed; ``base`` and the final round (both
    # feeding the returned plan) stay pinned.
    prev_desc = spark.sparkContext.getLocalProperty("spark.job.description")
    # ``converged`` above probed only the PRE-CONTRACTED base: the local
    # union-find emits min-oriented spanning stars, so a base whose
    # partitions covered whole components (q47: chain edges co-located
    # per customer) is already the answer and the loop runs ZERO rounds
    # (previously one no-op round + a confirmation).  A distinct-path
    # base is raw input orientation (e.g. q48's key_a < key_b pair
    # lists point UP), so the probe is skipped there; round 1's
    # aggregate then materializes the base checkpoint in the same job
    # as its own.
    for i in range(max_iterations):
        if converged:
            break
        # label THIS round's jobs (the checkpoint-materializing aggregate
        # below) — setting it at loop end labeled each round's jobs with
        # the PREVIOUS round's number
        spark.sparkContext.setJobDescription(f"connected_components round {i + 1}")
        probing = auto and not mode
        sym = cur.select("u", "v").union(
            cur.selectExpr("v AS u", "u AS v")
        ).selectExpr("u AS a", "v AS b")
        cur = checkpoint(_small_star(_large_star(sym, mode, probing), mode, probing))
        # Star-forest test — one job that also materializes this
        # round's lazy checkpoint.  While auto mode is probing, the
        # rows carry ``__deg`` (large-star partition sizes, computed for
        # free inside the window pass that runs anyway), so max(__deg)
        # probes this round's hub size with zero extra jobs.
        row = _forest_row(cur, probing)
        # the previous round's checkpoint fed this one and is now dead;
        # free it instead of waiting for a driver GC.  MUST happen after
        # the aggregate above: cur's checkpoint data exists only from
        # that materialization on, and prev's is unrecoverable.
        if prev is not None:
            _unpin(_rdd_handle(prev))
        prev = cur
        if probing and (row["maxd"] or 0) > skew_threshold:
            mode = True
        converged = _is_forest(row)
    # restore the caller's job description — leaving ours set would
    # mislabel every later job on this driver thread in the Spark UI
    spark.sparkContext.setJobDescription(prev_desc)
    if not converged:
        # the partially-contracted graph is NOT a star forest: labeling
        # it would assign two nodes of one component different labels
        # with no signal.  Refuse instead of silently returning wrong
        # clusters (r9 review).
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} star-contraction rounds; raise "
            "max_iterations (rounds needed grow O(log n) in the largest "
            "component's diameter)"
        )

    # stars: every non-root points at its root; roots label themselves
    sym = cur.select("u", "v").union(
        cur.selectExpr("v AS u", "u AS v")
    )
    root = (
        sym.groupBy("u")
        .agg(F.expr("least(min(v), first(u)) AS component"))
        .withColumnRenamed("u", "node")
    )
    return nodes.join(root, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
