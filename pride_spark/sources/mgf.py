"""Distributed MGF spectrum reader → canonical ``spectra`` DataFrame.

Reference capability: jmzReader's MgfFile reader opened at
``/root/reference/src/.../proteomics/JmzReaderSpectrumService.java:40-44``
and consumed one-spectrum-at-a-time by index (``:120-128``).  Here the
whole file set is read in one distributed scan instead:

- ``spark.read.option("lineSep", "END IONS")`` splits the text into one
  row per ``BEGIN IONS``…``END IONS`` block *inside the JVM text source*
  (records never cross executor boundaries, so this scales to any number
  of files × any file size).
- header keys and the peak table are extracted with ``regexp_extract`` /
  ``regexp_extract_all`` — no Python in the hot path.
- ``index`` is the 0-based position of the spectrum within its file
  (jmzReader's access key for MGF, SURVEY §2.1 S8).

Output schema (canonical ``spectra``): fileName, index, spectrumId,
msLevel, precursorMz, precursorCharge, retentionTime, masses, intensities,
numPeaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: one peak line: "<float><ws><float>[<ws>charge]" — group 1 = m/z,
#: group 2 = intensity.  The optional third column (fragment charge,
#: e.g. "2" or "2+") is permitted by the Mascot MGF format and emitted
#: by several converters; anchoring the line end after exactly two
#: floats silently dropped EVERY peak of such files (r9 review).
_PEAK_RE = (
    r"(?m)^[ \t]*([0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?)[ \t]+"
    r"([0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?)(?:[ \t]+[0-9+.eE-]+)?[ \t]*$"
)


def _header(block, key: str):
    return F.regexp_extract(block, rf"(?m)^{key}=([^\r\n]*)", 1)


def read_mgf(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Read one or many MGF files into the canonical spectra DataFrame."""
    raw = (
        spark.read.option("lineSep", "END IONS")
        .text(paths)
        .withColumn("fileName", F.element_at(F.split(F.input_file_name(), "/"), -1))
        .withColumn("__ord", F.monotonically_increasing_id())
        .filter(F.col("value").contains("BEGIN IONS"))
    )
    # MGF header scoping (r9 review): parameters BEFORE the first
    # "BEGIN IONS" are file-wide DEFAULTS; parameters inside a block are
    # LOCAL and override them.  The preamble rides glued to block 0 in
    # the lineSep scan, so header extraction must split there — a plain
    # first-match regexp let the global line shadow block 0's local
    # value AND dropped the default for every other block.
    local = F.substring_index(F.col("value"), "BEGIN IONS", -1)
    preamble = F.when(
        F.col("value").startswith("BEGIN IONS"), F.lit("")
    ).otherwise(F.substring_index(F.col("value"), "BEGIN IONS", 1))
    w = Window.partitionBy("fileName").orderBy("__ord")
    w_file = Window.partitionBy("fileName")
    idx = (F.row_number().over(w) - 1).alias("index")
    masses = F.transform(
        F.regexp_extract_all(local, F.lit(_PEAK_RE), 1), lambda x: x.cast("double")
    )
    intensities = F.transform(
        F.regexp_extract_all(local, F.lit(_PEAK_RE), 2), lambda x: x.cast("double")
    )

    def _local(key: str):
        """Block-local header value only — Mascot MGF defines TITLE /
        PEPMASS / RTINSECONDS as per-spectrum keys, so a stray preamble
        line must NOT propagate one spectrumId/precursorMz to every
        block lacking a local value (r9 advice)."""
        return F.nullif(_header(local, key), F.lit(""))

    def _scoped(key: str):
        """Local value with the file-global default as fallback — one
        stacked window over the same fileName exchange the index uses.
        Only used for keys the Mascot MGF spec sanctions as file-wide
        defaults (CHARGE and search parameters)."""
        glob = F.max(
            F.when(F.col("index") == 0, F.nullif(_header(preamble, key), F.lit("")))
        ).over(w_file)
        return F.coalesce(_local(key), glob)

    num = lambda c: F.nullif(F.regexp_extract(c, r"([0-9.eE+-]+)", 1), F.lit("")).cast(  # noqa: E731
        "double"
    )
    return (
        raw.select("fileName", "value", idx)
        .select(
            "fileName",
            "index",
            F.nullif(F.trim(_local("TITLE")), F.lit("")).alias("spectrumId"),
            F.lit(2).alias("msLevel"),  # MGF carries MS2 peak lists only
            num(_local("PEPMASS")).alias("precursorMz"),
            F.nullif(F.regexp_extract(_scoped("CHARGE"), r"([0-9]+)", 1), F.lit(""))
            .cast("int")
            .alias("precursorCharge"),
            num(_local("RTINSECONDS")).alias("retentionTime"),
            masses.alias("masses"),
            intensities.alias("intensities"),
            F.size(masses).alias("numPeaks"),
        )
    )
