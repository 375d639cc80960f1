"""PTM (modification) reshaping — SURVEY §2.5 X3/X4, §2.6 A10.

Reference:
- X3: per-PSM modification map → deduped positioned structs (merge the
  positions of same-accession mods), ``PrideAnalysisAssayService.java:
  1007-1046``.
- X4: peptide-level PTM positions → protein coordinates
  (``proteinPos = start + pepPos − 1`` per occurrence),
  ``PrideAnalysisAssayService.java:1056-1113``.

Both are pure array/HOF expressions (X3) or explode→project→re-group
(X4) — no UDFs, fully codegen-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: element type of a raw mod entry
RAW_MOD_TYPE = "array<struct<position:int,accession:string,name:string>>"


def regroup_modifications(mods: Column | str) -> Column:
    """X3 — merge same-accession mods: one struct per accession with the
    sorted distinct position list.  Runs entirely inside the row (no
    shuffle): distinct accessions, then a filtered projection per accession.

    Perf note (measured on the q39 plan at sf0.1): HOFs run interpreted,
    so this tree's cost is what it looks like.  A single-sorted-fold
    rewrite (``aggregate`` with slice+concat accumulator) was tried and is
    ~2× SLOWER — per-step array reallocation beats the k× filter scans for
    realistic mod-list sizes.  Callers that explode the result should use
    ``explode_outer`` when the array is known non-empty: plain ``explode``
    makes Catalyst infer a ``size()>0`` pre-filter that re-evaluates this
    whole tree a second time (2× end-to-end).
    """
    m = F.col(mods) if isinstance(mods, str) else mods
    # the reference SKIPS accession-less PTMs outright
    # (convertPeptideModifications: `if (ptm.getAccession() == null)
    # continue`) — keeping them produced a junk (null, null, []) struct
    # here while the flat variant emitted a real row for the same input,
    # so the two documented-equivalent variants diverged (r10 review)
    m = F.filter(m, lambda x: x["accession"].isNotNull())
    accs = F.array_distinct(F.transform(m, lambda x: x["accession"]))
    accs = F.array_sort(accs)

    def entry(acc: Column) -> Column:
        mine = F.filter(m, lambda x: x["accession"] == acc)
        # null positions are dropped (normalized with the flat variant, whose
        # collect_list cannot keep them)
        positions = F.filter(
            F.transform(mine, lambda x: x["position"]), lambda p: p.isNotNull()
        )
        return F.struct(
            acc.alias("accession"),
            F.element_at(F.transform(mine, lambda x: x["name"]), 1).alias("name"),
            F.array_sort(F.array_distinct(positions)).alias("positions"),
        )

    return F.transform(accs, entry)


def regroup_modifications_flat(
    df: DataFrame,
    key_cols: list[str],
    mods_col: str = "modifications",
) -> DataFrame:
    """X3 for consumers that want one ROW per (psm, accession) instead of a
    regrouped in-row array: explode → hash-aggregate.

    Same semantics as ``regroup_modifications`` + explode, but the whole
    plan stays in whole-stage codegen (array HOFs run interpreted), so the
    flat shape is cheaper to produce directly than to build in-row and
    then flatten — measured 6.0s → ~1s on the q39 plan at sf0.1.  Use the
    in-row variant when the regrouped array must live inside a T1 record
    (no shuffle); use this when the output is the flattened relation (the
    shuffle replaces the explode's implicit one downstream).

    Rows that share a key are merged: the groupBy runs over the key, not
    over input rows, so a key repeated across rows yields one row per
    (key, accession) with the union of their positions.
    """
    flat = (
        # posexplode_OUTER, not posexplode: plain explode makes Catalyst
        # insert a `size(mods) > 0` pre-filter that re-evaluates the whole
        # mods-array construction a second time per row (the same 2×
        # double-eval the in-row variant's docstring warns about); the
        # outer form generates one (NULL, NULL) row for empty/NULL arrays
        # instead, and the accession-not-null filter below — needed for
        # reference parity anyway — drops exactly those rows, so the
        # output is identical (oracle-proven on q39)
        df.select(*key_cols, F.posexplode_outer(mods_col).alias("__ord", "m"))
        .select(*key_cols, "__ord", "m.position", "m.accession", "m.name")
        # reference parity: accession-less PTMs are skipped (same rule the
        # in-row variant applies to its input array)
        .filter(F.col("accession").isNotNull())
    )
    # min_by on the array ordinal keeps the first-occurrence name, matching
    # regroup_modifications (element_at(..., 1)); collect_list drops null
    # positions, which the in-row variant also normalizes to
    return flat.groupBy(*key_cols, "accession").agg(
        F.min_by("name", "__ord").alias("name"),
        F.array_sort(F.array_distinct(F.collect_list("position"))).alias("positions"),
    )


def peptide_mods_to_protein_coords(
    psm_protein: DataFrame,
    mods_col: str = "modifications",
    occurrences_col: str = "proteinStartPositions",
) -> DataFrame:
    """X4 — one output row per (protein occurrence × modification).

    Input rows carry ``proteinAccession``, ``peptideSequence``, a raw mod
    array and ``proteinStartPositions: array<int>`` (1-based start of each
    occurrence of the peptide in the protein).  Output adds ``proteinPos``.
    The double explode is a projection (no shuffle); downstream rollups
    group by protein as usual.
    """
    exploded = psm_protein.withColumn("__start", F.explode(F.col(occurrences_col))).withColumn(
        "__mod", F.explode(F.col(mods_col))
    )
    return (
        exploded.withColumn(
            "proteinPos", F.col("__start") + F.col("__mod.position") - F.lit(1)
        )
        .withColumn("modAccession", F.col("__mod.accession"))
        .withColumn("modName", F.col("__mod.name"))
        .drop("__start", "__mod")
    )


def distinct_modification_names(psms: DataFrame, mods_col: str = "modifications") -> DataFrame:
    """A10 — distinct mod names across a PSM set (flatMap + distinct).

    Ref: PrideAnalysisAssayService.java:997-999 (parallelStream flatMap).
    """
    return (
        psms.select(F.explode(F.col(mods_col)).alias("m"))
        .select(F.col("m.name").alias("name"))
        .distinct()
    )
