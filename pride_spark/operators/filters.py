"""The PSM/protein filter stack (SURVEY §2.3 F1–F18).

Every filter is a pure predicate pushed into the scan by Catalyst; the stack
runs BEFORE the expensive PSM↔spectrum join, mirroring the reference's stage
ordering (``PrideAnalysisAssayService.java:455-472`` before ``:489``) — but
here the optimizer enforces it instead of hand-written loop order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pride_spark.functions.mass import delta_mz


@dataclass(frozen=True)
class FilterConfig:
    """Defaults mirror the reference CLI defaults.

    Ref: PrideAnalysisAssayService.java:79-95; nextflow.config:20-24.
    """

    qvalue_threshold: float = 0.01        # F9
    protein_qvalue_threshold: float = 0.01  # F6
    min_peptide_length: int = 7           # F7
    min_unique_peptides: int = 0          # F10
    min_psms: int = 1000                  # F11
    delta_mz_hard: float = 10.0           # F14 hard error
    delta_mz_soft: float = 0.9            # F14 counted


def source_id_filter(df: DataFrame, col: str = "sourceId") -> DataFrame:
    """F5 — drop PSMs without a spectrum reference (``index=null``).

    Ref: PrideAnalysisAssayService.java:456-458.
    """
    return df.filter(F.coalesce(F.col(col), F.lit("")) != "index=null")


def peptide_length_filter(df: DataFrame, min_len: int = 7, col: str = "peptideSequence") -> DataFrame:
    """F7 — minimum peptide length.  Ref: PrideAnalysisAssayService.java:462-463."""
    return df.filter(F.length(F.col(col)) >= min_len)


def phospho_artifact_filter(df: DataFrame, mods_col: str = "modifications") -> DataFrame:
    """F8 — drop PSMs carrying the phospho-on-Ala artifact (UNIMOD:21 on A).

    Ref: PrideAnalysisAssayService.java:464 (PIA's has_residue_modification
    "A##UNIMOD:21").  The mod struct carries a 1-based position; residue
    is looked up in the sequence via ``substring``.  Position 0 is the
    N-TERMINUS convention (proforma.py / the mzTab ingest emit it) — it
    has no residue, and Spark's ``substr(0, 1)`` silently aliases to
    ``substr(1, 1)``, which flagged an N-term phospho on any peptide
    starting with A as the artifact (r10 review); terminal mods are
    exempt.
    """
    has_artifact = F.exists(
        F.col(mods_col),
        lambda m: (m["accession"] == "UNIMOD:21")
        & (m["position"] >= 1)
        & (F.col("peptideSequence").substr(m["position"], F.lit(1)) == "A"),
    )
    return df.filter(~F.coalesce(has_artifact, F.lit(False)))


def psm_qvalue_filter(df: DataFrame, threshold: float = 0.01, col: str = "qvalue") -> DataFrame:
    """F9 — PSM q-value gate.  Ref: PrideAnalysisAssayService.java:467-468."""
    return df.filter(F.col(col) <= threshold)


def score_denoise(scores: Column) -> Column:
    """F16 — drop scores that are null / NaN / 0.0 or in the excluded CV set.

    Operates on an ``array<struct>`` of Param; ref:
    PrideAnalysisAssayService.java:594-605.
    """
    excluded = ("MS:1002355", "MS:1002354")
    return F.filter(
        scores,
        lambda s: s["value"].isNotNull()
        & ~F.isnan(s["value"].cast("double"))
        & (s["value"].cast("double") != 0.0)
        & ~s["accession"].isin(*excluded),
    )


def score_denoise_flat(
    df: DataFrame, key_cols: list[str], scores_col: str = "scores"
) -> DataFrame:
    """F16 for consumers that want one ROW per surviving score instead of
    the filtered in-row array: explode first, then filter the exploded
    struct with plain (whole-stage-codegen) predicates.

    Same rows as ``explode(score_denoise(scores))`` — the array ``filter``
    HOF runs interpreted AND Catalyst re-evaluates it inside the
    ``size(...) > 0`` pre-filter a plain explode infers, so the flat shape
    is both codegen-able and single-evaluation.  ``explode_outer`` keeps
    empty/NULL score arrays as one NULL row, which the value-not-null
    predicate (part of the denoise rule itself) then drops — identical
    output, no inferred pre-filter.  Output: ``(*key_cols, s)`` with ``s``
    the surviving score struct.
    """
    excluded = ("MS:1002355", "MS:1002354")
    s = F.col("s")
    v = s["value"]
    return df.select(*key_cols, F.explode_outer(scores_col).alias("s")).filter(
        v.isNotNull()
        & ~F.isnan(v.cast("double"))
        & (v.cast("double") != 0.0)
        & ~s["accession"].isin(*excluded)
    )


def spectrum_validity(
    masses: str = "masses",
    intensities: str = "intensities",
    required_non_null: tuple[str, ...] = ("precursorMz", "precursorCharge"),
) -> Column:
    """F12 predicate — peak arrays non-empty/parallel + precursor fields present.

    Ref: PSMClusteringService.java:45-51 (the ``spectra-json-check`` CLI).
    """
    cond = (F.size(masses) == F.size(intensities)) & (F.size(masses) > 0)
    for c in required_non_null:
        cond = cond & F.col(c).isNotNull()
    return cond


def spectrum_validity_counts(df: DataFrame) -> tuple[int, int]:
    """F12 gate figures ``(total, valid)`` from ONE aggregate job.

    ``count_if`` skips rows whose predicate is NULL, exactly as
    ``df.filter(spectrum_validity())`` drops them."""
    row = df.agg(
        F.count("*").alias("total"), F.count_if(spectrum_validity()).alias("valid")
    ).first()
    return row["total"], row["valid"]


def ms_level_filter(df: DataFrame, col: str = "msLevel") -> DataFrame:
    """F13 — discard MS1 spectra.  Ref: JmzReaderSpectrumService.java:105-106."""
    return df.filter(F.col(col) >= 2)


def delta_mass_validation(
    df: DataFrame,
    cfg: FilterConfig = FilterConfig(),
    observed="massToCharge",
    charge="charge",
    sequence="peptideSequence",
    mod_mass_sum=None,
) -> DataFrame:
    """F14 — Δm/z buckets: > hard → dropped (error channel), > soft → flagged.

    Ref: PrideAnalysisAssayService.java:646-660.  Returns the surviving rows
    with a ``deltaMz`` column and a boolean ``deltaMzSuspect`` flag; the
    caller aggregates the flag for the error-rate counter (A14).

    .. warning:: The reference ALWAYS includes the PSM's modification
       masses in the theoretical mass (``ptmMasses`` at :646-652), so
       callers MUST pass ``mod_mass_sum`` (a Column summing the per-PSM
       mod masses) for any corpus with modified PSMs — with the default
       ``None`` a fixed carbamidomethyl (+57 Da) pushes deltaMz past the
       hard cutoff and the PSM is wrongly dropped.  The canonical mod
       struct carries no mass field (mzIdentML's monoisotopicMassDelta
       is reader-specific), so the mass column is the caller's contract:
       join a UNIMOD mass dimension on the accession, or carry the
       reader's mass through.  ``None`` is exact only for unmodified
       peptides (the q40 oracle fixture's domain).
    """
    d = delta_mz(observed, charge, sequence, mod_mass_sum)
    return (
        df.withColumn("deltaMz", d)
        .filter(F.col("deltaMz") <= cfg.delta_mz_hard)
        .withColumn("deltaMzSuspect", F.col("deltaMz") > cfg.delta_mz_soft)
    )


def scan_id_validation(df: DataFrame, id_col: str = "spectrumId", is_wiff: Column | None = None) -> DataFrame:
    """F15 — non-WIFF spectrum ids must parse as integers.

    Ref: PrideAnalysisAssayService.java:556-562 — the WHOLE id goes
    through ``Integer.parseInt``, so the predicate is a full-string
    integer match.  An ends-in-digits test kept ids like the
    Bruker-style ``1.1.1.5`` that the reference rejects to the error
    channel (r10 review).
    """
    ok = F.coalesce(F.col(id_col), F.lit("")).rlike(r"^\d+$")
    if is_wiff is not None:
        ok = ok | is_wiff
    return df.filter(ok)


def result_file_filters(files: DataFrame) -> DataFrame:
    """F1–F4 — the project-file selection stack.

    Ref: PrideAnalysisAssayService.java:128 (F1);
    ws/PrideArchiveWebService.java:88-90 (F2), :116-124 (F3);
    utility/SubmissionPipelineUtils.java:39-41 (F4).
    """
    name = F.lower(F.col("fileName"))
    return (
        files.filter(F.coalesce(F.col("fileCategoryAccession"), F.lit("")) != "PRIDE:1002848")
        .filter(~name.contains("pride.mztab") & ~name.contains("pride.mgf"))
        .filter(F.col("fileCategoryValue") == "RESULT")
        .filter(
            F.exists(F.col("publicFileLocations"), lambda l: l["accession"] == "PRIDE:0000469")
        )
        # F4 is CASE-SENSITIVE endsWith in the reference
        # (SubmissionPipelineUtils.java:39-41): a 'result.mzid.GZ' is
        # analyzed by the reference, so lower-casing here silently
        # skipped assays the reference indexes (r10 review).  The F3
        # pride.mztab/pride.mgf exclusions above DO lower-case — that is
        # the reference's own toLowerCase (PrideArchiveWebService.java:89).
        .filter(~F.col("fileName").rlike(r"\.(gz|zip)$"))
    )


def assay_validity_gate(
    psms: DataFrame,
    cfg: FilterConfig = FilterConfig(),
    protein_count: int | None = None,
) -> tuple[bool, dict]:
    """F11 — require decoys>0 AND targets>0 AND total > minPSMs (STRICT,
    matching the reference's ``psms.size() > minPSMs``), else abort.

    Ref: PrideAnalysisAssayService.java:440-447,477-480.  One aggregate job
    (count + conditional sums in a single pass), driver-side decision.
    The reference additionally aborts when the post-inference protein list
    is empty (:478); callers that have run inference pass its count via
    ``protein_count`` to apply that gate too.
    """
    row = psms.agg(
        F.count("*").alias("total"),
        F.sum(F.col("isDecoy").cast("long")).alias("decoys"),
        F.sum((~F.col("isDecoy")).cast("long")).alias("targets"),
    ).first()
    stats = {"total": row["total"], "decoys": row["decoys"] or 0, "targets": row["targets"] or 0}
    ok = stats["decoys"] > 0 and stats["targets"] > 0 and stats["total"] > cfg.min_psms
    if protein_count is not None:
        stats["proteins"] = protein_count
        ok = ok and protein_count > 0
    return ok, stats
