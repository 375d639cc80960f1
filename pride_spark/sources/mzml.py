"""Distributed mzML / mzXML / PKL spectrum readers → canonical ``spectra``.

Reference capability (SURVEY §2.1 S6): jmzReader opens a per-format
reader — MzML/MzXml/Pkl — at
``/root/reference/src/.../proteomics/JmzReaderSpectrumService.java:34-56``
and random-accesses one spectrum at a time.  Here each *file* is one unit
of distributed work (:func:`xmlstream.per_file_reader`): a ``mapInPandas``
task stream-parses the XML with ``xml.etree.iterparse`` (each spectrum
is cleared and detached once read, so memory is one-spectrum-bounded
regardless of file size) and decodes the base64/zlib peak arrays with
numpy.  One task per file ⇒ a submission
with hundreds of raw files parses with full cluster parallelism, and the
schema is identical to :func:`pride_spark.sources.mgf.read_mgf`, so every
downstream operator (J5/S7/S8, F12/F13, K5) is format-agnostic.

PKL is plain text (blank-line-separated blocks, first line
``precursorMz intensity charge``) and stays wholly JVM-side via the
``lineSep`` text source — same technique as the MGF reader.

Output schema (canonical ``spectra``): fileName, index, spectrumId,
msLevel, precursorMz, precursorCharge, retentionTime, masses,
intensities, numPeaks.
"""

from __future__ import annotations

import base64
import zlib
from collections.abc import Iterator

import numpy as np

from pride_spark.sources import numpress
from pride_spark.sources.xmlstream import iter_detached, localname, per_file_reader
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPECTRA_SCHEMA = StructType(
    [
        StructField("fileName", StringType()),
        StructField("index", IntegerType()),
        StructField("spectrumId", StringType()),
        StructField("msLevel", IntegerType()),
        StructField("precursorMz", DoubleType()),
        StructField("precursorCharge", IntegerType()),
        StructField("retentionTime", DoubleType()),
        StructField("masses", ArrayType(DoubleType())),
        StructField("intensities", ArrayType(DoubleType())),
        StructField("numPeaks", IntegerType()),
    ]
)

#: MS-Numpress compression terms → (codec, zlib-after-numpress).  The
#: MS:10027xx accessions mean "numpress THEN zlib", so decode order is
#: base64 → zlib-inflate → numpress (jmzReader parity; r11 closes the
#: last reference-reachable ingest format the engine refused).
_NUMPRESS_ACCS = {
    "MS:1002312": ("linear", False),
    "MS:1002313": ("pic", False),
    "MS:1002314": ("slof", False),
    "MS:1002746": ("linear", True),
    "MS:1002747": ("pic", True),
    "MS:1002748": ("slof", True),
}

_NUMPRESS_DECODE = {
    "linear": numpress.decode_linear,
    "pic": numpress.decode_pic,
    "slof": numpress.decode_slof,
}


def _decode_array(text: str | None, *, bits: int, zlib_compressed: bool,
                  big_endian: bool = False,
                  numpress_codec: str | None = None) -> np.ndarray:
    if not text:
        return np.empty(0, dtype=np.float64)
    raw = base64.b64decode("".join(text.split()))
    if zlib_compressed:
        raw = zlib.decompress(raw)
    if numpress_codec is not None:
        # numpress replaces the IEEE-float layout entirely — the 32/64-bit
        # precision accessions (if any) describe the PRE-compression data
        # and are irrelevant to the byte stream
        return _NUMPRESS_DECODE[numpress_codec](raw)
    dtype = {32: np.float32, 64: np.float64}[bits]
    arr = np.frombuffer(raw, dtype=np.dtype(dtype).newbyteorder(">" if big_endian else "<"))
    return arr.astype(np.float64)


# ---------------------------------------------------------------------------
# mzML
# ---------------------------------------------------------------------------

def _mzml_spectrum_row(elem, base: str, idx: int) -> tuple:
    """One parsed ``<spectrum>`` element → canonical spectra row."""
    cv = {}          # accession -> (value, unitName) at spectrum/scan level
    precursor_mz = precursor_z = None
    arrays: dict[str, np.ndarray] = {}
    for child in elem.iter():
        name = localname(child.tag)
        if name == "cvParam":
            cv.setdefault(child.get("accession"),
                          (child.get("value"), child.get("unitName")))
        elif name == "selectedIon":
            for p in child:
                acc = p.get("accession")
                # value-less / empty cvParams from sloppy writers skip the
                # field instead of ValueError-ing the whole file's task
                # (same guard the PRIDE XML path has)
                v = p.get("value")
                if not v:
                    continue
                try:
                    if acc == "MS:1000744":
                        precursor_mz = float(v)
                    elif acc == "MS:1000041":
                        precursor_z = int(float(v))
                except ValueError:
                    pass
        elif name == "binaryDataArray":
            accs = {p.get("accession") for p in child if localname(p.tag) == "cvParam"}
            np_accs = accs & _NUMPRESS_ACCS.keys()
            if len(np_accs) > 1:
                raise ValueError(
                    f"binary array declares multiple numpress codecs {sorted(np_accs)}"
                )
            codec, np_zlib = _NUMPRESS_ACCS[next(iter(np_accs))] if np_accs else (None, False)
            bits = 32 if "MS:1000521" in accs else 64
            # plain MS:1000574 zlib OR the numpress "followed by zlib"
            # combined accession — either way inflate before numpress
            compressed = "MS:1000574" in accs or np_zlib
            kind = ("masses" if "MS:1000514" in accs
                    else "intensities" if "MS:1000515" in accs else None)
            if kind:
                binary = next((b for b in child if localname(b.tag) == "binary"), None)
                arrays[kind] = _decode_array(
                    binary.text if binary is not None else None,
                    bits=bits, zlib_compressed=compressed,
                    numpress_codec=codec)
    ms_level = int(cv["MS:1000511"][0]) if "MS:1000511" in cv else None
    rt = None
    if "MS:1000016" in cv:
        val, unit = cv["MS:1000016"]
        rt = float(val) * (60.0 if unit == "minute" else 1.0)
    masses = arrays.get("masses", np.empty(0))
    intens = arrays.get("intensities", np.empty(0))
    return (base, idx, elem.get("id"), ms_level, precursor_mz, precursor_z,
            rt, masses.tolist(), intens.tolist(), int(masses.size))


_SPECTRUM = frozenset(("spectrum",))


def _mzml_spectra(path: str, base: str) -> Iterator[tuple]:
    for idx, elem in enumerate(iter_detached(path, _SPECTRUM)):
        yield _mzml_spectrum_row(elem, base, idx)


# ---------------------------------------------------------------------------
# mzXML — scan elements; peaks are base64 NETWORK-ORDER interleaved
# (m/z, intensity) pairs, precision 32|64, optional zlib.
# ---------------------------------------------------------------------------

def _mzxml_rt(text: str | None) -> float | None:
    if not text:                      # xsd:duration "PT1234.5S" / "PT2.5M"
        return None
    t = text.removeprefix("PT")
    if t.endswith("S"):
        return float(t[:-1])
    if t.endswith("M"):
        return float(t[:-1]) * 60.0
    return float(t)


def _mzxml_scan_row(elem, base: str, idx: int) -> tuple:
    """One closed ``<scan>`` element → canonical row.  Nested ms2 child
    scans were detached at THEIR end events, so ``elem.iter()`` here
    sees only this scan's own precursorMz/peaks."""
    precursor_mz = precursor_z = None
    masses = intens = np.empty(0)
    for child in elem.iter():
        name = localname(child.tag)
        if name == "precursorMz":
            precursor_mz = float(child.text) if child.text else None
            z = child.get("precursorCharge")
            precursor_z = int(z) if z else None
        elif name == "peaks":
            pairs = _decode_array(
                child.text,
                bits=int(child.get("precision", "32")),
                zlib_compressed=child.get("compressionType") == "zlib",
                big_endian=True,
            )
            masses, intens = pairs[0::2], pairs[1::2]
    return (base, idx, elem.get("num"),
            int(elem.get("msLevel")) if elem.get("msLevel") else None,
            precursor_mz, precursor_z, _mzxml_rt(elem.get("retentionTime")),
            masses.tolist(), intens.tolist(), int(masses.size))


def _mzxml_spectra(path: str, base: str) -> Iterator[tuple]:
    """Rows in end-event order.  ``<scan>`` elements NEST (ms2 scans close
    inside their ms1 parent); :func:`xmlstream.iter_detached` yields and
    detaches each nested scan before its parent closes, so the parent's
    ``iter()`` never sees the child's payload and memory stays flat
    however large the file."""
    for idx, elem in enumerate(iter_detached(path, frozenset(("scan",)))):
        yield _mzxml_scan_row(elem, base, idx)


# ---------------------------------------------------------------------------
# PRIDE XML — legacy PRIDE submissions carry spectra as embedded mzData
# (<spectrum id=..><spectrumDesc>..<mzArrayBinary>/<intenArrayBinary>).
# Reference constructs PRIDEXmlWrapper as a first-class spectra source
# (JmzReaderSpectrumService.java:43-45); same iterparse strategy as mzML.
# mzData cvParams use the PSI: prefix: PSI:1000038/39 = RT in minutes/
# seconds, PSI:1000040 = precursor m/z, PSI:1000041 = charge.  Peak arrays
# are uncompressed base64 floats with precision/endian attributes on the
# <data> element.
# ---------------------------------------------------------------------------

def _pridexml_spectrum_row(elem, base: str, idx: int) -> tuple:
    """One parsed PRIDE-XML/mzData ``<spectrum>`` element → canonical row."""
    ms_level = precursor_mz = precursor_z = rt = None
    masses = intens = np.empty(0)
    for child in elem.iter():
        name = localname(child.tag)
        if name == "spectrumInstrument":
            lvl = child.get("msLevel")
            ms_level = int(lvl) if lvl else None
            for p in child:
                if localname(p.tag) != "cvParam" or not p.get("value"):
                    continue
                acc = p.get("accession")
                if acc == "PSI:1000038":
                    rt = float(p.get("value")) * 60.0
                elif acc == "PSI:1000039":
                    rt = float(p.get("value"))
        elif name == "ionSelection":
            for p in child:
                if not p.get("value"):  # value-less cvParam, like above
                    continue
                acc = p.get("accession")
                if acc in ("PSI:1000040", "MS:1000744"):
                    precursor_mz = float(p.get("value"))
                elif acc in ("PSI:1000041", "MS:1000041"):
                    precursor_z = int(float(p.get("value")))
        elif name in ("mzArrayBinary", "intenArrayBinary"):
            data = next((d for d in child if localname(d.tag) == "data"), None)
            if data is not None:
                arr = _decode_array(
                    data.text,
                    bits=int(data.get("precision", "32")),
                    zlib_compressed=False,
                    big_endian=data.get("endian") == "big",
                )
                if name == "mzArrayBinary":
                    masses = arr
                else:
                    intens = arr
    return (base, idx, elem.get("id"), ms_level, precursor_mz, precursor_z,
            rt, masses.tolist(), intens.tolist(), int(masses.size))


def _pridexml_spectra(path: str, base: str) -> Iterator[tuple]:
    for idx, elem in enumerate(iter_detached(path, _SPECTRUM)):
        yield _pridexml_spectrum_row(elem, base, idx)


read_mzml = per_file_reader(_mzml_spectra, SPECTRA_SCHEMA)
read_mzml.__doc__ = "S6 — parse mzML files in parallel → canonical spectra frame."

read_mzxml = per_file_reader(_mzxml_spectra, SPECTRA_SCHEMA)
read_mzxml.__doc__ = "S6 — parse mzXML files in parallel → canonical spectra frame."

read_pridexml = per_file_reader(_pridexml_spectra, SPECTRA_SCHEMA)
read_pridexml.__doc__ = """S6 — parse legacy PRIDE XML (embedded mzData spectra) in parallel →
canonical spectra frame (ref PRIDEXmlWrapper, JmzReaderSpectrumService.java:43-45)."""


# ---------------------------------------------------------------------------
# PKL — pure-JVM text scan (no Python), like the MGF reader.
# ---------------------------------------------------------------------------

_PKL_LINE = r"(?m)^[ \t]*([0-9.eE+-]+)[ \t]+([0-9.eE+-]+)(?:[ \t]+([0-9]+))?[ \t]*$"


def read_pkl(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S6 — PKL blocks (blank-line separated; header = mz intensity charge).

    CRLF files (PKL is a legacy Micromass/Windows format) contain no
    literal ``\n\n``, so the lineSep scan leaves the whole file in one
    row — the \r-normalized re-split below recovers the blocks; for LF
    files it is a per-row no-op (r9 review)."""
    raw = (
        spark.read.option("lineSep", "\n\n")
        .text(paths)
        .withColumn("fileName", F.element_at(F.split(F.input_file_name(), "/"), -1))
        .withColumn("__ord", F.monotonically_increasing_id())
        .select(
            "fileName",
            "__ord",
            F.posexplode(
                F.split(F.regexp_replace("value", "\r", ""), "\n\n+")
            ).alias("__pos", "value"),
        )
        .filter(F.trim("value") != "")
    )
    w = Window.partitionBy("fileName").orderBy("__ord", "__pos")
    block = F.trim(F.col("value"))
    header = F.element_at(F.split(block, "\n"), 1)
    peak_lines = F.array_join(F.slice(F.split(block, "\n"), 2, 1_000_000), "\n")
    masses = F.transform(
        F.regexp_extract_all(peak_lines, F.lit(_PKL_LINE), 1), lambda x: x.cast("double")
    )
    intensities = F.transform(
        F.regexp_extract_all(peak_lines, F.lit(_PKL_LINE), 2), lambda x: x.cast("double")
    )
    idx = (F.row_number().over(w) - 1)
    return raw.select(
        "fileName",
        idx.alias("index"),
        idx.cast("string").alias("spectrumId"),  # PKL has no ids; index keys S8
        F.lit(2).alias("msLevel"),
        F.regexp_extract(header, _PKL_LINE.replace("(?m)", ""), 1)
        .cast("double").alias("precursorMz"),
        F.nullif(F.regexp_extract(header, _PKL_LINE.replace("(?m)", ""), 3), F.lit(""))
        .cast("int").alias("precursorCharge"),
        F.lit(None).cast("double").alias("retentionTime"),
        masses.alias("masses"),
        intensities.alias("intensities"),
        F.size(masses).alias("numPeaks"),
    )
