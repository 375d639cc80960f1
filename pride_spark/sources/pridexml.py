"""Legacy PRIDE XML *identification* reader (SURVEY §2.1 S3).

The reference accepts PRIDE XML as a RESULT format — dispatch routes a
non-mzIdentML ``.xml`` to the ``PRIDE`` file type
(``utility/SubmissionPipelineUtils.java:106-128``, content sniff at
:403-421) and feeds it to the PIA compiler alongside mzid/mzTab
(``services/proteomics/PIAModelerService.java:162-189``).  PIA's PRIDE
XML parser walks ``GelFreeIdentification`` / ``TwoDimensionalIdentification``
elements and their ``PeptideItem`` children; this module re-expresses
that walk as a per-file ``mapInPandas`` task
(:func:`xmlstream.per_file_reader`) producing the
SAME canonical psms frame ``read_mzid_psms`` emits (``MZID_PSM_SCHEMA``),
so everything downstream — filters, FDR, inference, the spectrum join —
is format-blind.

PRIDE XML is self-contained: the identified spectra live in the file's
own embedded mzData section (``sources/mzml.read_pridexml`` parses
them), and a ``PeptideItem``'s ``<SpectrumReference>`` names the mzData
``<spectrum id=...>``.  Precursor charge / m/z therefore come from the
referenced spectrum, not the identification — the parser streams the
mzData section first (document order guarantees it precedes the
identifications), keeping only a bounded ``id -> (mz, charge)`` map,
then emits one PSM row per ``PeptideItem``.

Scoring: PRIDE XML carries per-peptide scores as ``additional``
cvParams with engine-specific PRIDE CV terms; the probe takes the
Mascot score term first, then the first numeric cvParam whose name
contains "score", then falls back to the identification-level
``<Score>`` (the same value-preference PIA's intermediate applies).
Decoys are flagged by the PRIDE CV decoy term (``PRIDE:0000303``, the
same accession the reference checks in mzTab protein rows) on either
the peptide or its identification, or by the conventional ``DECOY_``
accession prefix.
"""

from __future__ import annotations

from collections.abc import Iterator

from pride_spark.sources.mzid import MZID_PSM_SCHEMA
from pride_spark.sources.xmlstream import iter_detached, localname, per_file_reader

_IDENT_TAGS = ("GelFreeIdentification", "TwoDimensionalIdentification")
_DECOY_ACC = "PRIDE:0000303"
_MASCOT_SCORE_ACC = "PRIDE:0000069"


def _findtext_local(elem, name: str) -> str | None:
    """Direct-child text lookup by LOCAL name — legacy PRIDE XML appears
    both with and without a namespace."""
    for child in elem:
        if localname(child.tag) == name:
            return child.text
    return None


def _precursor_of(spec) -> tuple[float | None, int | None]:
    """mz/charge from a parsed mzData ``<spectrum>`` — same cvParam
    accessions the spectra reader uses (``mzml._pridexml_spectrum_row``)."""
    mz = z = None
    for child in spec.iter():
        if localname(child.tag) != "ionSelection":
            continue
        for p in child:
            if not p.get("value"):
                continue
            acc = p.get("accession")
            if acc in ("PSI:1000040", "MS:1000744"):
                mz = float(p.get("value"))
            elif acc in ("PSI:1000041", "MS:1000041"):
                z = int(float(p.get("value")))
    return mz, z


def _additional_cvparams(elem) -> list:
    """cvParams under a DIRECT ``<additional>`` child (not descendants —
    a PeptideItem's ModificationItems carry their own blocks)."""
    out = []
    for child in elem:
        if localname(child.tag) != "additional":
            continue
        out.extend(p for p in child if localname(p.tag) == "cvParam")
    return out


def _score_of(pep_cvs, ident_score) -> tuple[float | None, str | None, str | None]:
    for p in pep_cvs:
        if p.get("accession") == _MASCOT_SCORE_ACC and p.get("value"):
            return float(p.get("value")), p.get("accession"), p.get("name")
    for p in pep_cvs:
        name = (p.get("name") or "").lower()
        if "score" in name and p.get("value"):
            try:
                return float(p.get("value")), p.get("accession"), p.get("name")
            except ValueError:
                continue
    if ident_score is not None:
        return ident_score, None, "identification score"
    return None, None, None


def _is_decoy(acc: str | None, *cv_lists) -> bool:
    if acc and acc.upper().startswith("DECOY"):
        return True
    # any-of across every cv list: a peptide-level decoy param with value
    # '0'/'false' must not shadow an identification-level affirmative one
    for cvs in cv_lists:
        for p in cvs:
            if p.get("accession") == _DECOY_ACC:
                if (p.get("value") or "1").strip().lower() not in ("0", "false"):
                    return True
    return False


def _ident_rows(elem, base: str, counter: list[int], precursors: dict) -> Iterator[tuple]:
    acc = _findtext_local(elem, "Accession")
    ident_score_txt = _findtext_local(elem, "Score")
    try:
        ident_score = float(ident_score_txt) if ident_score_txt else None
    except ValueError:
        ident_score = None
    ident_cvs = _additional_cvparams(elem)
    for pep in elem:
        if localname(pep.tag) != "PeptideItem":
            continue
        seq = _findtext_local(pep, "Sequence") or ""
        spec_ref = _findtext_local(pep, "SpectrumReference")
        mods = []
        for m in pep:
            if localname(m.tag) != "ModificationItem":
                continue
            loc = _findtext_local(m, "ModLocation")
            macc = _findtext_local(m, "ModAccession")
            mcvs = _additional_cvparams(m)
            name = next((p.get("name") for p in mcvs if p.get("name")), macc)
            try:
                loc_i = int(loc.strip()) if loc and loc.strip() else None
            except ValueError:  # malformed legacy content — keep the mod, drop the position
                loc_i = None
            mods.append((loc_i, macc, name))
        pep_cvs = _additional_cvparams(pep)
        score, score_acc, score_name = _score_of(pep_cvs, ident_score)
        mz, z = precursors.get(spec_ref, (None, None))
        counter[0] += 1
        yield (
            base,
            f"PSM_{counter[0]}",
            spec_ref,
            None,  # self-contained: no SpectraData indirection
            seq,
            mods,
            z,
            mz,
            score,
            score_acc,
            score_name,
            _is_decoy(acc, pep_cvs, ident_cvs),
            [acc] if acc else [],
            1,
        )


def _psms(path: str, base: str) -> Iterator[tuple]:
    """One streaming pass: mzData spectra precede the identifications in
    document order, so the bounded ``id -> (mz, charge)`` map is complete
    before the first Identification end-event fires.  Processed elements
    are cleared and detached — memory is one-element-bounded plus the
    scalar map."""
    precursors: dict[str, tuple] = {}
    counter = [0]
    for elem in iter_detached(path, frozenset(("spectrum", *_IDENT_TAGS))):
        if localname(elem.tag) == "spectrum":
            precursors[elem.get("id")] = _precursor_of(elem)
        else:
            yield from _ident_rows(elem, base, counter, precursors)


read_pridexml_psms = per_file_reader(_psms, MZID_PSM_SCHEMA)
read_pridexml_psms.__doc__ = """S3 — PRIDE XML identifications → canonical psms frame, one streaming
parse task per file (the same strategy and schema as ``read_mzid_psms``)."""
