"""Byte-range input-split scanning for record-oriented XML sources.

The classic Hadoop XmlInputFormat contract re-expressed over a path
DataFrame (used by ``sources/mzid.py`` split mode and ``sources/mzml.py``
split mode): the driver plans ``(path, start, end)`` ranges, each task
seeks to its range and scans for record open tags, a record belongs to
the range containing its FIRST byte, and the task reads past its range
end to the record's close tag when a record straddles the boundary.
Because ``<`` is illegal inside XML attribute values and text content,
any open-tag match found mid-range is a genuine element start — no
handshake between neighboring ranges is needed.

Memory per task is one scan buffer plus at most one in-flight record —
there is no per-file DOM and inter-record gaps are never materialized
(unlike a ``lineSep``-delimited text read, where a multi-GB section
between two record types becomes one giant row).

Assumptions (hold for conformant producers, asserted against whole-file
parses in tests): content is not CDATA-wrapped, and paths are
executor-visible POSIX files (local/NFS — the same contract slots over
an object-store SDK on a real cluster).  Self-closed record elements
are handled (capture stops at the open tag's own ``/>``), and close
tags are matched with the open tag's own namespace prefix.
"""

from __future__ import annotations

import gzip
import os
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pride_spark.session import local_frame

#: files larger than this parse in split mode under mode="auto"
SPLIT_THRESHOLD_MB = float(os.environ.get("PRIDE_SPARK_MZID_SPLIT_MB", "32"))
#: planned range size — ~4 MB keeps 32 cores busy from ~128 MB of input up
SPLIT_RANGE_MB = float(os.environ.get("PRIDE_SPARK_MZID_SPLIT_RANGE_MB", "4"))
_SCAN_CHUNK = 1 << 20  # streaming read granularity inside a range task
_SCAN_OVERLAP = 128  # > longest open tag incl. namespace prefix

#: consumes one complete open tag from its '<' to its true terminating
#: '>' — quote-aware, because '>' IS legal inside XML attribute values
#: (only '<' and '&' must be escaped), so spectrum titles or FASTA
#: descriptions like name="m/z>400" must not truncate the capture.
_TAG_END_RE = re.compile(rb"[^\"'>]*(?:\"[^\"]*\"[^\"'>]*|'[^']*'[^\"'>]*)*>")


def _tag_end(buf: bytes) -> int:
    """Index just past the open tag's terminating ``>`` for a buffer
    starting at the tag's ``<``, or -1 if the tag is not yet complete
    (e.g. an attribute value straddles the current read chunk)."""
    m = _TAG_END_RE.match(buf)
    return m.end() if m else -1


def localname(tag: str) -> str:
    return tag.rpartition("}")[2]


def open_xml(path: str):
    """Binary handle for an (optionally gzipped) XML file — the Python
    kernels' analogue of Spark's native codec layer on text reads."""
    local = path.removeprefix("file:")
    # case-insensitive, matching the dispatcher's (?i) extension routing:
    # an uppercase .GZ otherwise reaches iterparse as raw gzip bytes
    if local.lower().endswith(".gz"):
        return gzip.open(local, "rb")
    return open(local, "rb")


def fromstring(frag: str):
    """``ET.fromstring`` tolerant of namespace-prefixed fragments: a
    prefix used without its (root-level) declaration gets a dummy
    binding so the parse succeeds; all matching is by local name."""
    try:
        return ET.fromstring(frag)
    except ET.ParseError:
        # collect ELEMENT prefixes and ATTRIBUTE prefixes (xsi:type=...):
        # a fragment whose only prefixed names are attributes would
        # otherwise re-raise even though the dummy binding fixes it
        prefixes = set(re.findall(r"</?([A-Za-z_][\w.-]*):", frag))
        prefixes |= set(
            re.findall(r"""[\s"']([A-Za-z_][\w.-]*):[\w.-]+\s*=""", frag)
        )
        prefixes.discard("xmlns")
        if not prefixes:
            raise
        decls = " ".join(f'xmlns:{p}="urn:x-{p}"' for p in sorted(prefixes))
        return ET.fromstring(f"<__r {decls}>{frag}</__r>")[0]


def pick_mode(paths: list[str], mode: str) -> str:
    """``auto`` → split when any file exceeds the threshold; compressed
    and non-POSIX paths always parse whole (ranges need seekable bytes)."""
    if mode != "auto":
        return mode
    if any(p.lower().endswith((".gz", ".zip")) for p in paths):
        return "whole"
    try:
        biggest = max(os.path.getsize(p.removeprefix("file:")) for p in paths)
    except OSError:  # non-POSIX paths: range planning needs sizes — whole mode
        return "whole"
    return "split" if biggest > SPLIT_THRESHOLD_MB * (1 << 20) else "whole"


def ranges_df(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Driver-planned ``(path, start, end)`` byte ranges, one task each."""
    step = int(SPLIT_RANGE_MB * (1 << 20))
    rows = []
    for p in paths:
        local = p.removeprefix("file:")
        size = os.path.getsize(local)
        rows.append((local, list(range(0, max(size, 1), step)), size))
    flat = [
        (local, s, min(s + step, size)) for local, starts, size in rows for s in starts
    ]
    return local_frame(
        spark, flat, "path string, start bigint, end bigint"
    ).repartition(len(flat))


def scan_records(path: str, start: int, end: int, name: bytes, attr_only: bool):
    """Yield ``(absolute_offset, record_bytes)`` for every complete record
    of element ``name`` whose open tag STARTS in ``[start, end)`` — the
    input-split ownership contract.

    ``attr_only``: capture just the open tag (to its true terminating
    ``>``, quote-aware) — for attribute-only dimension elements; ``name`` may then be a
    non-capturing regex alternation (several element names in one scan),
    since the close tag is never built from it.  Otherwise ``name`` must
    be a literal and the close tag is built from the open match's own
    namespace prefix, so ``<m:Peptide>`` records close on
    ``</m:Peptide>``; a self-closed record is complete at its own
    ``/>``."""
    open_re = re.compile(rb"<((?:[\w.-]+:)?)" + name + rb"[\s/>]")
    with open(path, "rb") as fh:
        fh.seek(start)
        buf = b""
        buf_start = start
        eof = False
        while True:
            m = open_re.search(buf)
            if m is None:
                if eof or buf_start + len(buf) > end + _SCAN_OVERLAP:
                    return
                keep = buf[-_SCAN_OVERLAP:]
                buf_start += len(buf) - len(keep)
                chunk = fh.read(_SCAN_CHUNK)
                eof = not chunk
                buf = keep + chunk
                continue
            abs_off = buf_start + m.start()
            if abs_off >= end:
                return
            buf_start += m.start()
            buf = buf[m.start():]
            # locate the open tag's true '>' (quote-aware; refill until
            # the tag is complete in the buffer)
            while True:
                te = _tag_end(buf)
                if te >= 0:
                    break
                chunk = fh.read(_SCAN_CHUNK)
                if not chunk:  # malformed tail: open tag never closes
                    return
                buf += chunk
            if attr_only or buf[te - 2:te - 1] == b"/":
                # attr-only capture, or a self-closed record
                # (`<spectrum .../>`) complete at its own open tag —
                # never scan into the next record
                rec_end = te
            else:
                close = b"</" + m.group(1) + name + b">"
                # '<' is illegal inside attribute values/text, so the
                # close-tag byte search needs no quote awareness
                search_from = te
                while True:
                    j = buf.find(close, search_from)
                    if j >= 0:
                        rec_end = j + len(close)
                        break
                    search_from = max(te, len(buf) - len(close) + 1)
                    chunk = fh.read(_SCAN_CHUNK)
                    if not chunk:  # malformed tail: drop the partial record
                        return
                    buf += chunk
            yield buf_start, buf[:rec_end]
            buf_start += rec_end
            buf = buf[rec_end:]


def scan_df(
    spark: SparkSession,
    paths: list[str],
    name: bytes,
    attr_only: bool,
    kernel_rows,
    schema: StructType,
    with_offset: bool = False,
) -> DataFrame:
    """Range-parallel record scan → ``mapInPandas`` parse.

    ``kernel_rows(fileName, record_text) -> iterable[tuple]`` maps one
    record to output rows.  With ``with_offset`` the callback receives
    ``(fileName, byte_offset, record_text)`` — the record's absolute
    file offset, which is a distributed stand-in for document order
    (offsets are strictly increasing in document order, so a two-pass
    row numbering over them recovers sequential indices for formats
    whose records don't self-identify their position)."""
    cols = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                fn = path.rsplit("/", 1)[-1]
                for off, rec in scan_records(path, int(s), int(e), name, attr_only):
                    text = rec.decode("utf-8", "replace")
                    rows.extend(
                        kernel_rows(fn, off, text) if with_offset else kernel_rows(fn, text)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return ranges_df(spark, paths).mapInPandas(kernel, schema)
