"""mzIdentML reader (SURVEY §2.1 S3): one streaming parse per file.

The reference delegates mzIdentML to the PIA compiler
(``services/proteomics/PIAModelerService.java:162-189``),
which reads each file in memory, one file at a time.  Here each file is
one ``mapInPandas`` task over a path frame
(:func:`xmlstream.per_file_reader`), so a submission with many result
files parses in parallel and no XML reaches the driver.

The parse is one ``iterparse`` pass (:func:`xmlstream.iter_detached`):
each ``Peptide``, ``DBSequence``, ``PeptideEvidence``, ``SpectraData``
and ``SpectrumIdentificationResult`` is read at its end event, then
cleared and detached, so memory holds the reference maps and one pending
tuple per ``SpectrumIdentificationItem``, never the document tree.  Each
item keeps its ``peptide_ref`` and evidence refs, which are resolved
once the file ends, so the order of the ``SequenceCollection`` and
``DataCollection`` sections does not matter.  Elements are matched by
local name, so any namespace URI or prefix reads the same.

Output: canonical psms frame — one row per SpectrumIdentificationItem —
plus the SpectraData map needed for J4/S7.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pride_spark.sources.xmlstream import iter_detached, localname, per_file_reader

MZID_PSM_SCHEMA = StructType(
    [
        StructField("fileName", StringType()),
        StructField("psmId", StringType()),
        StructField("sourceId", StringType()),
        StructField("spectraDataRef", StringType()),
        StructField("peptideSequence", StringType()),
        StructField("modifications", ArrayType(
            StructType(
                [
                    StructField("position", IntegerType()),
                    StructField("accession", StringType()),
                    StructField("name", StringType()),
                ]
            )
        )),
        StructField("precursorCharge", IntegerType()),
        StructField("massToCharge", DoubleType()),
        StructField("score", DoubleType()),
        StructField("scoreAccession", StringType()),
        StructField("scoreName", StringType()),
        StructField("isDecoy", BooleanType()),
        StructField("proteinAccessions", ArrayType(StringType())),
        StructField("rank", IntegerType()),
    ]
)

SPECTRA_DATA_SCHEMA = StructType(
    [
        StructField("fileName", StringType()),
        StructField("id", StringType()),
        StructField("location", StringType()),
        StructField("idFormatAccession", StringType()),
    ]
)

#: search-engine score CV terms probed in order (first present wins)
_SCORE_ACCESSIONS = (
    "MS:1002257",  # Comet e-value
    "MS:1001330",  # X!Tandem e-value
    "MS:1001172",  # Mascot expect
    "MS:1002466",  # PeptideShaker PSM score
    "MS:1001155",  # SEQUEST xcorr
)


def _opt(value: str | None, cast):
    return cast(value) if value else None


def _pending_items(res, ns: str) -> Iterator[tuple]:
    """One ``SpectrumIdentificationResult`` → a tuple per item, with its
    peptide and evidence refs still unresolved.  ``ns`` is the record's
    ``{uri}`` tag prefix."""
    source_id = res.get("spectrumID")
    sd_ref = res.get("spectraData_ref")
    for item in res.iter(f"{ns}SpectrumIdentificationItem"):
        refs = [r.get("peptideEvidence_ref") for r in item.iter(f"{ns}PeptideEvidenceRef")]
        # every cvParam below the item; a repeated accession keeps its last value
        cvs = {c.get("accession"): (c.get("value"), c.get("name")) for c in item.iter(f"{ns}cvParam")}
        score = score_acc = score_name = None
        for acc in _SCORE_ACCESSIONS:
            if acc in cvs:
                score = float(cvs[acc][0])
                score_acc, score_name = acc, cvs[acc][1]
                break
        yield (
            item.get("id"),
            source_id,
            sd_ref,
            item.get("peptide_ref"),
            refs,
            _opt(item.get("chargeState"), int),
            _opt(item.get("experimentalMassToCharge"), float),
            score,
            score_acc,
            score_name,
            _opt(item.get("rank"), int),
        )


def _peptide(pep, ns: str) -> tuple[str, list]:
    mods = []
    for m in pep.iter(f"{ns}Modification"):
        cv = m.find(f"{ns}cvParam")
        mods.append((
            int(m.get("location", "0")),
            cv.get("accession") if cv is not None else None,
            cv.get("name") if cv is not None else None,
        ))
    return pep.findtext(f"{ns}PeptideSequence") or "", mods


def _split_tag(tag: str) -> tuple[str, str]:
    """``({uri}, local name)`` of a tag; the uri part is '' without a
    namespace.  Children are looked up in their record's namespace."""
    name = localname(tag)
    return tag[: len(tag) - len(name)], name


_PSM_TAGS = frozenset(
    ("Peptide", "DBSequence", "PeptideEvidence", "SpectrumIdentificationResult")
)


def _psms(path: str, base: str) -> Iterator[tuple]:
    """One file's PSM rows in document order; refs resolve after the
    last element, so a dangling ref gives an empty sequence or no
    accession rather than an error."""
    peptides: dict[str, tuple[str, list]] = {}
    accessions: dict[str, str] = {}  # DBSequence id -> accession
    evidence: dict[str, tuple[str, bool]] = {}  # id -> (dBSequence_ref, isDecoy)
    items: list[tuple] = []
    for elem in iter_detached(path, _PSM_TAGS):
        ns, name = _split_tag(elem.tag)
        if name == "SpectrumIdentificationResult":
            items.extend(_pending_items(elem, ns))
        elif name == "Peptide":
            peptides[elem.get("id")] = _peptide(elem, ns)
        elif name == "DBSequence":
            accessions[elem.get("id")] = elem.get("accession")
        else:
            evidence[elem.get("id")] = (
                elem.get("dBSequence_ref"), elem.get("isDecoy", "false") == "true"
            )
    for item_id, source_id, sd_ref, pep_ref, refs, z, mz, score, s_acc, s_name, rank in items:
        seq, mods = peptides.get(pep_ref, ("", []))
        accs, decoy = [], False
        for ref in refs:
            if ref not in evidence:
                continue
            db_ref, ev_decoy = evidence[ref]
            acc = accessions.get(db_ref)
            if acc:
                accs.append(acc)
            decoy = decoy or ev_decoy
        yield (base, item_id, source_id, sd_ref, seq, mods, z, mz, score, s_acc, s_name,
               decoy, accs, rank)


def _spectra_data(path: str, base: str) -> Iterator[tuple]:
    for sd in iter_detached(path, frozenset(("SpectraData",))):
        ns, _ = _split_tag(sd.tag)
        fmt = sd.find(f"{ns}SpectrumIDFormat")
        cv = fmt.find(f"{ns}cvParam") if fmt is not None else None
        yield (base, sd.get("id"), sd.get("location"),
               cv.get("accession") if cv is not None else None)


read_mzid_psms = per_file_reader(_psms, MZID_PSM_SCHEMA)
read_mzid_psms.__doc__ = "S3 — parse mzIdentML files in parallel → canonical psms frame."

read_mzid_spectra_data = per_file_reader(_spectra_data, SPECTRA_DATA_SCHEMA)
read_mzid_spectra_data.__doc__ = "The SpectraData dimension (J4/S7 inputs) of mzIdentML files."
