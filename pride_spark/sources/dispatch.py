"""File-type dispatch (SURVEY §2.1 S4/S5) — extension routing and sniff.

Reference: ``/root/reference/src/.../utility/SubmissionPipelineUtils.java``
``:106-128`` (by name, including compressed-name logic), ``:403-421``
(PRIDE-XML content sniff).  Everything here is
a pure Column expression usable both as a projection over a file-manifest
DataFrame and driver-side on a single name.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: extension → canonical type tag (after stripping .gz/.zip)
_EXT_TYPES = {
    "mzid": "MZID",
    "mzidentml": "MZID",
    "mzml": "MZML",
    "mgf": "MGF",
    "mzxml": "MZXML",
    "mztab": "MZTAB",
    "apl": "APL",
    "xml": "PRIDE",
    "pkl": "PKL",
    "ms2": "MS2",
}


def strip_compression(name: Column | str) -> Column:
    """Remove a trailing ``.gz``/``.zip`` so the real extension is visible."""
    c = F.col(name) if isinstance(name, str) else name
    return F.regexp_replace(c, r"(?i)\.(gz|zip)$", "")


def file_type_by_name(name: Column | str) -> Column:
    """S5 — ``when`` chain over the lower-cased decompressed extension."""
    base = strip_compression(name)
    ext = F.lower(F.regexp_extract(base, r"\.([A-Za-z0-9]+)$", 1))
    out: Column = F.lit(None).cast("string")
    for e, t in reversed(_EXT_TYPES.items()):
        out = F.when(ext == e, F.lit(t)).otherwise(out)
    return out


def sniff_pride_xml(first_lines: str) -> str:
    """S4 — driver-side content sniff: mzIdentML tag inside a ``.xml`` file.

    Mirrors the 20-line sniff at ``SubmissionPipelineUtils.java:403-421``.
    Runs on the driver before reader dispatch (one tiny read per file).
    """
    return "MZID" if "mzidentml" in first_lines.lower() else "PRIDE"
