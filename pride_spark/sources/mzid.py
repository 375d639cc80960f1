"""mzIdentML reader (SURVEY §2.1 S3) — two parse strategies on executors.

The reference delegates mzIdentML to the PIA compiler
(``/root/reference/src/.../proteomics/PIAModelerService.java:162-189``).
Both strategies here keep XML off the driver:

- **whole-file** (default for small files): each file is DOM-parsed with
  the stdlib ``xml.etree`` inside an Arrow-batched ``mapInPandas`` stage
  over a file-path DataFrame — one task per file, so a submission with
  many result files parses in parallel.  Reference resolution
  (peptide_ref / PeptideEvidence / DBSequence) happens in per-file
  Python dicts, exactly like the reference's in-memory PIA model.

- **split** (default past ``xmlsplit.SPLIT_THRESHOLD_MB``): a single large file
  is byte-range partitioned across ALL executors with the classic
  input-split contract (Hadoop's XmlInputFormat, re-expressed over a
  path DataFrame): the driver plans ``(path, start, end)`` ranges, each
  task seeks to its range and scans for record open tags, a record
  belongs to the range containing its FIRST byte, and the task reads
  past its range end to the record's close tag when a record straddles
  the boundary.  Because ``<`` is illegal inside XML attribute values
  and text, any open-tag match found mid-range is a genuine element
  start — no handshake between neighboring ranges is needed.  One pass
  extracts ``SpectrumIdentificationResult`` records, one the
  ``Peptide`` dimension, one each the attribute-only
  ``PeptideEvidence`` / ``DBSequence`` dimensions, one ``SpectraData``.
  Records are parsed with ``ET.fromstring`` in Arrow-batched kernels
  (XML unescaping and both quote styles for free — a pure-regex
  formulation would mis-handle entities), and reference resolution
  becomes three co-keyed Spark joins + one ordered regroup instead of
  per-file dicts.  A 5 GB mzid therefore parses at cluster parallelism
  with no single-task DOM and no task ever holding more than one
  record plus a scan buffer — the whole-file mode's memory ceiling and
  straggler in one.  (Unlike a ``lineSep``-delimited text read, the
  scanner never materializes inter-record gaps — a multi-GB
  ``SequenceCollection`` between two record types costs nothing.)

  Assumptions of split mode (documented, hold for conformant
  producers): record elements are not self-closed (``Peptide`` /
  ``SpectrumIdentificationResult`` / ``SpectraData`` require children
  in the schema), content is not CDATA-wrapped, and paths are
  executor-visible POSIX files (local/NFS — the same contract slots
  over an object-store SDK on a real cluster).  ``mode="whole"`` is
  the bit-exact fallback for anything else.

Output: canonical psms frame — one row per SpectrumIdentificationItem —
plus the SpectraData map needed for J4/S7.  Both modes produce identical
rows (asserted in ``tests/test_format_readers.py``).
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pride_spark.session import local_frame

_NS = "{http://psidev.info/psi/pi/mzIdentML/1.1}"

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


def _parse_one(path: str) -> tuple[list, list]:
    with _open_xml(path) as fh:
        root = ET.parse(fh).getroot()
    base = path.rsplit("/", 1)[-1]

    peptides: dict[str, tuple[str, list]] = {}
    for pep in root.iter(f"{_NS}Peptide"):
        seq = pep.findtext(f"{_NS}PeptideSequence") or ""
        mods = []
        for m in pep.iter(f"{_NS}Modification"):
            pos = int(m.get("location", "0"))
            cv = m.find(f"{_NS}cvParam")
            mods.append(
                (pos, cv.get("accession") if cv is not None else None,
                 cv.get("name") if cv is not None else None)
            )
        peptides[pep.get("id")] = (seq, mods)

    evidence: dict[str, tuple[str, bool]] = {}
    dbseq_acc = {d.get("id"): d.get("accession") for d in root.iter(f"{_NS}DBSequence")}
    for ev in root.iter(f"{_NS}PeptideEvidence"):
        evidence[ev.get("id")] = (
            dbseq_acc.get(ev.get("dBSequence_ref")),
            ev.get("isDecoy", "false") == "true",
        )

    spectra_data = [
        (
            base,
            sd.get("id"),
            sd.get("location"),
            (lambda f: f.find(f"{_NS}cvParam").get("accession") if f is not None and f.find(f"{_NS}cvParam") is not None else None)(
                sd.find(f"{_NS}SpectrumIDFormat")
            ),
        )
        for sd in root.iter(f"{_NS}SpectraData")
    ]

    psms = []
    for res in root.iter(f"{_NS}SpectrumIdentificationResult"):
        source_id = res.get("spectrumID")
        sd_ref = res.get("spectraData_ref")
        for item in res.iter(f"{_NS}SpectrumIdentificationItem"):
            seq, mods = peptides.get(item.get("peptide_ref"), ("", []))
            accs, decoy = [], False
            for ref in item.iter(f"{_NS}PeptideEvidenceRef"):
                acc, dec = evidence.get(ref.get("peptideEvidence_ref"), (None, False))
                if acc:
                    accs.append(acc)
                decoy = decoy or dec
            score = score_acc = score_name = None
            cvs = {
                c.get("accession"): (c.get("value"), c.get("name"))
                for c in item.iter(f"{_NS}cvParam")
            }
            for acc in _SCORE_ACCESSIONS:
                if acc in cvs:
                    score = float(cvs[acc][0])
                    score_acc, score_name = acc, cvs[acc][1]
                    break
            psms.append(
                (
                    base,
                    item.get("id"),
                    source_id,
                    sd_ref,
                    seq,
                    mods,
                    int(item.get("chargeState")) if item.get("chargeState") else None,
                    float(item.get("experimentalMassToCharge"))
                    if item.get("experimentalMassToCharge")
                    else None,
                    score,
                    score_acc,
                    score_name,
                    decoy,
                    accs,
                    int(item.get("rank")) if item.get("rank") else None,
                )
            )
    return psms, spectra_data


def _paths_df(spark: SparkSession, paths: list[str]) -> DataFrame:
    return local_frame(spark, [(p,) for p in paths], "path string").repartition(
        min(len(paths), 64)
    )


def read_mzid_psms_whole(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S3, whole-file strategy — one DOM parse task per file."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rows.extend(_parse_one(p)[0])
            yield pd.DataFrame(rows, columns=[f.name for f in MZID_PSM_SCHEMA.fields])

    return _paths_df(spark, paths).mapInPandas(kernel, MZID_PSM_SCHEMA)


def read_mzid_spectra_data_whole(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The SpectraData dimension (J4/S7 inputs), whole-file strategy."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rows.extend(_parse_one(p)[1])
            yield pd.DataFrame(rows, columns=[f.name for f in SPECTRA_DATA_SCHEMA.fields])

    return _paths_df(spark, paths).mapInPandas(kernel, SPECTRA_DATA_SCHEMA)


# ---------------------------------------------------------------------------
# Split strategy: byte-range input splits + record-scan kernels + joins.
# Scan machinery shared with sources/mzml.py lives in sources/xmlsplit.py.
# ---------------------------------------------------------------------------

from pride_spark.sources.xmlsplit import (  # noqa: E402
    fromstring as _fromstring,
    localname as _localname,
    open_xml as _open_xml,
    pick_mode as _pick_mode,
    scan_df as _scan_df,
    scan_records as _scan_records,  # re-export for tests
)


_SIR_RAW_SCHEMA = StructType(
    [
        StructField("fileName", StringType()),
        StructField("psmId", StringType()),
        StructField("sourceId", StringType()),
        StructField("spectraDataRef", StringType()),
        StructField("peptideRef", StringType()),
        StructField("evidenceRefs", ArrayType(StringType())),
        StructField("precursorCharge", IntegerType()),
        StructField("massToCharge", DoubleType()),
        StructField("score", DoubleType()),
        StructField("scoreAccession", StringType()),
        StructField("scoreName", StringType()),
        StructField("rank", IntegerType()),
    ]
)

_PEPTIDE_DIM_SCHEMA = StructType(
    [
        StructField("fileName", StringType()),
        StructField("pepId", StringType()),
        StructField("peptideSequence", StringType()),
        StructField("modifications", MZID_PSM_SCHEMA["modifications"].dataType),
    ]
)

_EV_DB_DIM_SCHEMA = StructType(
    [
        StructField("fileName", StringType()),
        StructField("kind", StringType()),  # 'ev' | 'db'
        StructField("elemId", StringType()),
        StructField("ref", StringType()),  # ev: dBSequence_ref; db: accession
        StructField("isDecoy", BooleanType()),
    ]
)

def _sir_rows(fn: str, rec: str):
    res = _fromstring(rec)
    source_id = res.get("spectrumID")
    sd_ref = res.get("spectraData_ref")
    for item in res.iter():
        if _localname(item.tag) != "SpectrumIdentificationItem":
            continue
        ev_refs, cvs = [], {}
        for c in item.iter():
            ln = _localname(c.tag)
            if ln == "PeptideEvidenceRef":
                ev_refs.append(c.get("peptideEvidence_ref"))
            elif ln == "cvParam":
                cvs[c.get("accession")] = (c.get("value"), c.get("name"))
        score = score_acc = score_name = None
        for acc in _SCORE_ACCESSIONS:
            if acc in cvs:
                score = float(cvs[acc][0])
                score_acc, score_name = acc, cvs[acc][1]
                break
        yield (
            fn,
            item.get("id"),
            source_id,
            sd_ref,
            item.get("peptide_ref"),
            ev_refs,
            int(item.get("chargeState")) if item.get("chargeState") else None,
            float(item.get("experimentalMassToCharge"))
            if item.get("experimentalMassToCharge")
            else None,
            score,
            score_acc,
            score_name,
            int(item.get("rank")) if item.get("rank") else None,
        )


def _pep_rows(fn: str, rec: str):
    pep = _fromstring(rec)
    seq, mods = "", []
    for c in pep.iter():
        ln = _localname(c.tag)
        if ln == "PeptideSequence":
            seq = c.text or ""
        elif ln == "Modification":
            pos = int(c.get("location", "0"))
            cv = next((x for x in c.iter() if _localname(x.tag) == "cvParam"), None)
            mods.append(
                (pos, cv.get("accession") if cv is not None else None,
                 cv.get("name") if cv is not None else None)
            )
    yield (fn, pep.get("id"), seq, mods)


def _attr_tag(rec: str):
    """Re-close a bare ``<Elem attr=... [/]>`` capture as an empty element
    and let ET unescape the attributes (both quote styles).  Strips only
    the single structural ``[/]>`` terminator — an attribute value may
    itself end in ``>`` or ``/`` characters."""
    r = rec.rstrip()
    r = r[:-2] if r.endswith("/>") else r[:-1]
    return _fromstring(r + "/>")


def _ev_db_rows(fn: str, rec: str):
    """Both attribute-only dims from ONE scan (the open pattern is an
    alternation), dispatched on the parsed local name."""
    tag = _attr_tag(rec)
    if _localname(tag.tag) == "PeptideEvidence":
        yield (fn, "ev", tag.get("id"), tag.get("dBSequence_ref"),
               tag.get("isDecoy", "false") == "true")
    else:
        yield (fn, "db", tag.get("id"), tag.get("accession"), None)


def _sd_rows(fn: str, rec: str):
    sd = _fromstring(rec)
    fmt = None
    for c in sd.iter():
        if _localname(c.tag) == "SpectrumIDFormat":
            cv = next((x for x in c.iter() if _localname(x.tag) == "cvParam"), None)
            fmt = cv.get("accession") if cv is not None else None
            break
    yield (fn, sd.get("id"), sd.get("location"), fmt)


def read_mzid_psms_split(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S3, split strategy — byte-range parallel parse of (possibly one
    giant) mzIdentML via four delimiter-splittable scans + co-keyed joins.

    Reference resolution as a Spark plan:

    - PSM rows join the peptide dimension on ``(fileName, peptide_ref)``;
    - ``posexplode_outer`` of the ordered PeptideEvidenceRef list → left
      joins to PeptideEvidence then DBSequence → regrouped per PSM with
      ``sort_array`` on the carried position, so ``proteinAccessions``
      keeps document order and ``isDecoy`` is the OR over evidences —
      exactly the whole-file parser's dict-lookup semantics (nulls for
      dangling refs included);
    - empty evidence lists survive via the outer explode (pos -1 row
      aggregates to ``[]`` / ``false``).

    Every join keys on (fileName, id) — high-cardinality, co-partitioned
    by the same shuffle, no broadcast assumption about dimension size.
    """
    sirs = _scan_df(
        spark, paths, b"SpectrumIdentificationResult", False, _sir_rows, _SIR_RAW_SCHEMA
    )
    peps = _scan_df(spark, paths, b"Peptide", False, _pep_rows, _PEPTIDE_DIM_SCHEMA)
    dims = _scan_df(
        spark, paths, b"(?:PeptideEvidence|DBSequence)", True, _ev_db_rows,
        _EV_DB_DIM_SCHEMA,
    )
    evs = dims.filter(F.col("kind") == "ev").select(
        F.col("fileName").alias("evFile"), F.col("elemId").alias("evRef"),
        F.col("ref").alias("dbRef"), "isDecoy",
    )
    dbs = dims.filter(F.col("kind") == "db").select(
        F.col("fileName").alias("dbFile"), F.col("elemId").alias("dbId"),
        F.col("ref").alias("accession"),
    )

    ev_flat = sirs.select(
        "fileName", "psmId", F.posexplode_outer("evidenceRefs").alias("pos", "evRef")
    )
    ev_agg = (
        ev_flat.join(
            evs,
            (F.col("fileName") == F.col("evFile")) & (ev_flat["evRef"] == evs["evRef"]),
            "left",
        )
        .drop("evFile")
        .join(
            dbs,
            (F.col("fileName") == F.col("dbFile")) & (F.col("dbRef") == F.col("dbId")),
            "left",
        )
        .drop("dbFile")
        .groupBy("fileName", "psmId")
        .agg(
            F.max(F.coalesce(F.col("isDecoy"), F.lit(False))).alias("isDecoy"),
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("accession").isNotNull(),
                                F.struct(F.col("pos"), F.col("accession")),
                            )
                        )
                    ),
                    lambda s: s["accession"] != "",
                ),
                lambda s: s["accession"],
            ).alias("proteinAccessions"),
        )
    )

    peps_r = peps.select(
        F.col("fileName").alias("pepFile"), "pepId", "peptideSequence", "modifications"
    )
    out = (
        sirs.join(ev_agg, ["fileName", "psmId"], "left")
        .join(
            peps_r,
            (F.col("fileName") == F.col("pepFile"))
            & (F.col("peptideRef") == F.col("pepId")),
            "left",
        )
        .drop("pepFile")
    )
    empty_mods = F.array().cast(MZID_PSM_SCHEMA["modifications"].dataType)
    return out.select(
        "fileName",
        "psmId",
        "sourceId",
        "spectraDataRef",
        F.coalesce(F.col("peptideSequence"), F.lit("")).alias("peptideSequence"),
        F.coalesce(F.col("modifications"), empty_mods).alias("modifications"),
        "precursorCharge",
        "massToCharge",
        "score",
        "scoreAccession",
        "scoreName",
        F.coalesce(F.col("isDecoy"), F.lit(False)).alias("isDecoy"),
        F.coalesce(F.col("proteinAccessions"), F.array().cast("array<string>")).alias(
            "proteinAccessions"
        ),
        "rank",
    )


def read_mzid_spectra_data_split(spark: SparkSession, paths: list[str]) -> DataFrame:
    """SpectraData dimension via one range-parallel scan — no DOM of the
    full file for a handful of dimension rows."""
    return _scan_df(spark, paths, b"SpectraData", False, _sd_rows, SPECTRA_DATA_SCHEMA)


def read_mzid_psms(spark: SparkSession, paths: list[str], mode: str = "auto") -> DataFrame:
    """S3 — parse many mzIdentML files in parallel → canonical psms frame.

    ``mode``: ``"whole"`` (per-file DOM), ``"split"`` (byte-range
    parallel), or ``"auto"`` — split when any file exceeds
    ``PRIDE_SPARK_MZID_SPLIT_MB`` (default 32)."""
    if _pick_mode(paths, mode) == "split":
        return read_mzid_psms_split(spark, paths)
    return read_mzid_psms_whole(spark, paths)


def read_mzid_spectra_data(
    spark: SparkSession, paths: list[str], mode: str = "auto"
) -> DataFrame:
    """The SpectraData dimension (J4/S7 inputs)."""
    if _pick_mode(paths, mode) == "split":
        return read_mzid_spectra_data_split(spark, paths)
    return read_mzid_spectra_data_whole(spark, paths)
