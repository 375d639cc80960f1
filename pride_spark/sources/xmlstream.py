"""Streaming per-file XML input for the mzIdentML, mzML, mzXML and PRIDE
XML readers.

Each file is one unit of distributed work: a path frame feeds an
Arrow-batched ``mapInPandas`` kernel that runs one ``iterparse`` pass over
the file in a Python worker (:func:`per_file_reader`).  A submission with
many files parses in parallel; one file parses in one task, with memory
bounded by the record being parsed plus whatever the format's parser
keeps (:func:`iter_detached`).  This is the reference's own unit of work:
PIA and jmzReader open one file at a time in memory.
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pride_spark.session import local_frame

#: rows per yielded pandas frame: the parsers are generators, and
#: buffering a whole multi-GB file's rows before the first yield would
#: undo their memory bound
_CHUNK = 2048


def localname(tag: str) -> str:
    """Strip any XML namespace: the formats appear with and without one."""
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


def iter_detached(path: str, tags: frozenset[str]) -> Iterator[ET.Element]:
    """Yield each element whose local name is in ``tags`` at its end
    event, then ``clear()`` it AND detach it from its parent.  Every
    other element that closes outside a yielded one is detached too, so
    the tree never grows with the file: ``clear()`` alone leaves a husk
    in the parent's child list per record (GB-scale RSS on a
    multi-million-record file).  Children of a yielded element stay
    attached until it is yielded; a yielded element nested in another
    (mzXML's ms2 scans inside their ms1 scan) is yielded first and is
    gone from its parent by the time the parent is yielded.  Each
    ``remove`` is O(1) amortized: the parent's child list is emptied as
    it grows."""
    with open_xml(path) as fh:
        stack: list = []
        open_records = 0
        is_record: dict[str, bool] = {}  # tag -> local name in ``tags``
        for event, elem in ET.iterparse(fh, events=("start", "end")):
            record = is_record.get(elem.tag)
            if record is None:
                record = is_record[elem.tag] = localname(elem.tag) in tags
            if event == "start":
                stack.append(elem)
                open_records += record
                continue
            stack.pop()
            if record:
                open_records -= 1
                yield elem
                elem.clear()
            elif open_records:
                continue  # part of the record being built
            if stack:
                stack[-1].remove(elem)


def per_file_reader(
    parse: Callable[[str, str], Iterable[tuple]], schema: StructType
) -> Callable[..., DataFrame]:
    """A reader ``(spark, paths) -> DataFrame`` that runs
    ``parse(path, fileName)`` once per file in a ``mapInPandas`` task and
    yields its row tuples (in ``schema`` column order) in chunks."""
    cols = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list = []
        for b in batches:
            for p in b["path"]:
                for row in parse(p, p.rsplit("/", 1)[-1]):
                    rows.append(row)
                    if len(rows) >= _CHUNK:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    def read(spark: SparkSession, paths: str | list[str]) -> DataFrame:
        if isinstance(paths, str):
            paths = [paths]
        frame = local_frame(spark, [(p,) for p in paths], "path string")
        return frame.repartition(min(len(paths), 64)).mapInPandas(kernel, schema)

    return read
