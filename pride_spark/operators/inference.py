"""Occam's-razor protein inference — parsimony over the peptide–protein map.

Reference semantics (delegated to PIA at
``/root/reference/src/.../proteomics/PIAModelerService.java:80-96``:
``OccamsRazorInference`` over best-PSM-per-peptide; subset absorption
visible at ``PrideAnalysisAssayService.java:930``; published definition in
Uszkoreit et al., J. Proteome Res. 2015):

1. proteins with **identical peptide sets** merge into one group
   ("indistinguishable");
2. a protein whose peptide set is a **strict subset** of another's is
   absorbed ("subset");
3. a **greedy minimal cover**: repeatedly take the group explaining the
   most still-unexplained peptides until all peptides are covered; covered
   groups are the reported ("leading") proteins.

Scale shape (SURVEY §2.6 / §4): steps 1 is a pure groupBy on the peptide-
set hash.  Steps 2–3 are inherently iterative, so they run as a driver
loop — but over the *aggregated group table* (one row per distinct peptide
set), which is orders of magnitude smaller than the PSM table; at
reference scale (~800 K PSMs → ~10 K proteins) this is kilobytes.  The
expensive work (PSM → peptide→protein-set) stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from pride_spark.session import local_frame

GROUP_SCHEMA = StructType(
    [
        StructField("proteinAccession", StringType(), False),
        StructField("groupId", StringType(), False),
        StructField("groupMembers", ArrayType(StringType()), False),
        StructField("peptides", ArrayType(StringType()), False),
        StructField("isLeading", BooleanType(), False),
        StructField("category", StringType(), False),
    ]
)


def peptide_protein_sets(psms: DataFrame, peptide_col: str = "peptideSequence") -> DataFrame:
    """Distributed prep: protein → sorted distinct peptide set.

    Input needs ``peptide_col`` and ``proteinAccessions`` (array).
    One explode + one groupBy; this is the only pass over the PSM table.

    ``peptide_col`` is PIA's ``considerModifications`` granularity toggle
    (``PIAModelerService.java:77`` sets true — peptidoform granularity —
    on the single-file path, ``:124`` false on the merged path): pass the
    plain ``peptideSequence`` (default, the merged/``false`` setting) or
    a ProForma ``peptidoform`` column (``true`` — modified variants of a
    sequence count as DISTINCT peptides, so two proteins distinguished
    only by a modification state stop being 'indistinguishable').
    """
    return (
        psms.select(
            F.col(peptide_col).alias("__pep"),
            F.explode("proteinAccessions").alias("proteinAccession"),
        )
        .groupBy("proteinAccession")
        .agg(F.sort_array(F.collect_set("__pep")).alias("peptides"))
    )


def occams_razor(
    psms: DataFrame,
    max_groups: int = 2_000_000,
    *,
    max_cover_groups: int = 2_000_000,
    peptide_col: str = "peptideSequence",
) -> DataFrame:
    """Full parsimony inference; returns one row per protein accession.

    ``category`` ∈ {'distinguishable', 'indistinguishable', 'subset'};
    ``isLeading`` marks proteins of groups chosen by the greedy cover.
    Deterministic: ties in the greedy step break on smallest groupId.
    ``peptide_col`` selects the inference granularity — PIA's
    ``considerModifications`` toggle; see :func:`peptide_protein_sets`.

    The iterative steps run on the driver over the aggregated group table
    (one row per distinct peptide set); ``max_groups`` bounds that collect.
    PAST the ceiling the call no longer raises: it auto-selects the
    distributed formulation (:func:`_occams_razor_distributed`) where
    same-set grouping and subset absorption are joins and only the greedy
    cover — inherently sequential — collects, bounded by
    ``max_cover_groups`` over the (much smaller) post-absorption table.
    """
    spark = psms.sparkSession
    grouped = (
        peptide_protein_sets(psms, peptide_col)
        .groupBy("peptides")
        .agg(F.sort_array(F.collect_set("proteinAccession")).alias("groupMembers"))
        .withColumn("groupId", F.element_at("groupMembers", 1))
    )
    # limit(ceiling+1) bounds driver memory exactly like a pre-count would,
    # but runs the explode+groupBy aggregation ONCE instead of twice
    rows = grouped.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        return _occams_razor_distributed(
            grouped, max_cover_groups=max_cover_groups
        )
    # Driver loop input: one row per DISTINCT peptide set — compact.
    groups = [
        (r["groupId"], tuple(r["groupMembers"]), frozenset(r["peptides"]))
        for r in rows
    ]

    # Step 2: subset absorption.  An inverted peptide→groups index makes
    # the superset lookup near-linear (candidates = groups sharing the
    # rarest peptide of g, then exact subset test) instead of O(G²) pairwise
    # scans — 1000 groups × 600-peptide sets made the naive version the
    # bench bottleneck.
    from collections import defaultdict

    by_pep: dict[str, set[str]] = defaultdict(set)
    peps_of = {gid: peps for gid, _, peps in groups}
    for gid, _, peps in groups:
        for p in peps:
            by_pep[p].add(gid)

    non_subset, subset_of = [], {}
    for gid, members, peps in groups:
        rarest = min(peps, key=lambda p: len(by_pep[p]))
        absorber = next(
            (g2 for g2 in sorted(by_pep[rarest]) if g2 != gid and peps < peps_of[g2]),
            None,
        )
        if absorber is not None:
            subset_of[gid] = absorber
        else:
            non_subset.append((gid, members, peps))

    # Step 3: greedy minimal cover over non-subset groups — lazy-greedy
    # with a max-heap.  Coverage gain is submodular (only shrinks as
    # peptides get covered), so a stale heap entry re-inserted with its
    # refreshed gain is safe; this turns the O(rounds × groups) rescan
    # into near O(G log G).  Ties break on smallest groupId.
    import heapq

    uncovered = set().union(*(p for _, _, p in non_subset)) if non_subset else set()
    leading: set[str] = set()
    heap = [(-len(peps), gid, peps) for gid, _, peps in non_subset]
    heapq.heapify(heap)
    while uncovered and heap:
        neg_gain, gid, peps = heapq.heappop(heap)
        gain = len(peps & uncovered)
        if gain == 0:
            continue
        if -neg_gain != gain and heap and heap[0] < (-gain, gid, peps):
            heapq.heappush(heap, (-gain, gid, peps))  # stale: refresh & retry
            continue
        leading.add(gid)
        uncovered -= peps

    rows = []
    for gid, members, peps in groups:
        cat = (
            "subset"
            if gid in subset_of
            else ("distinguishable" if len(members) == 1 else "indistinguishable")
        )
        for acc in members:
            rows.append((acc, gid, list(members), sorted(peps), gid in leading, cat))
    return local_frame(spark, rows, GROUP_SCHEMA)


def _occams_razor_distributed(
    grouped: DataFrame, *, max_cover_groups: int
) -> DataFrame:
    """Parsimony past the driver ceiling: absorption as joins, cover-only
    collect.

    ``grouped`` is one row per distinct peptide set ``(peptides,
    groupMembers, groupId)``.  Subset absorption re-derives the driver
    algorithm's inverted-index trick distributively:

    - peptide document frequency (one groupBy);
    - each group's RAREST peptide (min (df, p) struct — choice of tie
      doesn't affect results: every strict superset of g contains every
      peptide of g, so the qualifying-absorber set is rarest-invariant);
    - candidate absorbers = groups sharing that rarest peptide (equi-join
      whose fan-out per group is df(rarest), the same bound the driver
      index gives);
    - absorber = MIN qualifying strict superset, matching the driver's
      first-of-sorted pick.

    Only the greedy cover — sequential by nature — collects, over the
    post-absorption non-subset groups (bounded by ``max_cover_groups``;
    absorption typically shrinks the table by orders of magnitude).
    """
    spark = grouped.sparkSession
    grouped = grouped.localCheckpoint(eager=False)  # feeds 4 branches; cut lineage
    ex = grouped.select("groupId", F.explode("peptides").alias("p"))
    dfreq = ex.groupBy("p").agg(F.count("*").alias("df"))
    rarest = (
        ex.join(dfreq, "p")
        .groupBy("groupId")
        .agg(F.min(F.struct("df", "p")).alias("r"))
        .select("groupId", F.col("r.p").alias("p"))
    )
    arrays = grouped.select("groupId", "peptides")
    cand = (
        rarest.join(ex.select(F.col("groupId").alias("g2"), "p"), "p")
        .filter(F.col("groupId") != F.col("g2"))
        .drop("p")
    )
    absorbed = (
        cand.join(arrays, "groupId")
        .join(
            arrays.select(F.col("groupId").alias("g2"), F.col("peptides").alias("peps2")),
            "g2",
        )
        .filter(
            (F.size("peptides") < F.size("peps2"))
            & (F.size(F.array_except("peptides", "peps2")) == 0)
        )
        .groupBy("groupId")
        .agg(F.min("g2").alias("absorber"))
    )
    non_subset = grouped.join(absorbed, "groupId", "left_anti")

    rows = non_subset.select("groupId", "peptides").limit(max_cover_groups + 1).collect()
    if len(rows) > max_cover_groups:
        raise ValueError(
            f"occams_razor: non-subset groups exceed the greedy-cover "
            f"collect ceiling ({max_cover_groups}) even after distributed "
            "subset absorption; raise max_cover_groups only if the driver "
            "has memory for the cover table"
        )
    import heapq

    cover = [(r["groupId"], frozenset(r["peptides"])) for r in rows]
    uncovered = set().union(*(p for _, p in cover)) if cover else set()
    leading: set[str] = set()
    heap = [(-len(peps), gid, peps) for gid, peps in cover]
    heapq.heapify(heap)
    while uncovered and heap:
        neg_gain, gid, peps = heapq.heappop(heap)
        gain = len(peps & uncovered)
        if gain == 0:
            continue
        if -neg_gain != gain and heap and heap[0] < (-gain, gid, peps):
            heapq.heappush(heap, (-gain, gid, peps))  # stale: refresh & retry
            continue
        leading.add(gid)
        uncovered -= peps

    leading_df = local_frame(
        spark, [(g,) for g in sorted(leading)], "groupId string"
    ).withColumn("__lead", F.lit(True))
    return (
        grouped.join(absorbed, "groupId", "left")
        .join(leading_df, "groupId", "left")
        .select(
            F.explode("groupMembers").alias("proteinAccession"),
            "groupId",
            "groupMembers",
            "peptides",
            F.coalesce("__lead", F.lit(False)).alias("isLeading"),
            F.when(F.col("absorber").isNotNull(), "subset")
            .when(F.size("groupMembers") == 1, "distinguishable")
            .otherwise("indistinguishable")
            .alias("category"),
        )
    )
