"""PRIDE Archive REST client (SURVEY §2.1 S1/S2) — driver-side edge.

Reference: ``/root/reference/src/.../services/ws/PrideArchiveWebService.java``
(``findByAccession`` :44-71, ``findFilesByProjectAccession`` :73-91, retry
policy :36,48-69 — 5 retries × 10 s).  The WS boundary stays on the
driver (it is one HTTP call per project); results land in DataFrames with
the explicit schemas from ``pride_spark.schemas`` and every downstream
step is distributed.

The HTTP transport is injectable (``fetcher``) so tests run hermetically;
the default uses ``urllib`` against the public API base.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pride_spark import schemas
from pride_spark.operators.filters import result_file_filters
from pride_spark.session import local_frame

#: public API base (docs/usage.md in the reference)
DEFAULT_BASE = "https://www.ebi.ac.uk/pride/ws/archive/v2"


class WebServiceError(RuntimeError):
    """All retries exhausted."""


def _default_fetcher(url: str) -> dict | list:
    with urllib.request.urlopen(url, timeout=30) as r:  # pragma: no cover
        return json.load(r)


def fetch_with_retry(
    url: str,
    fetcher: Callable[[str], dict | list] | None = None,
    max_retries: int = 5,
    sleep_s: float = 10.0,
) -> dict | list:
    """S1/S2 retry loop — 5 × 10 s, mirroring the reference policy."""
    fetcher = fetcher or _default_fetcher
    last: Exception | None = None
    for _ in range(max_retries):
        try:
            return fetcher(url)
        except Exception as ex:  # noqa: BLE001 — any transport failure retries
            last = ex
            time.sleep(sleep_s)
    raise WebServiceError(f"failed after {max_retries} retries: {url}") from last


def fetch_project(
    accession: str, fetcher=None, base: str = DEFAULT_BASE, **retry_kw
) -> dict:
    """S1 — GET ``projects/{accession}`` → PrideProject dict."""
    return fetch_with_retry(f"{base}/projects/{accession}", fetcher, **retry_kw)


def fetch_project_files(
    accession: str, fetcher=None, base: str = DEFAULT_BASE, **retry_kw
) -> list[dict]:
    """S2 — GET ``files/byProject?accession=…`` → list of PrideFile dicts."""
    return fetch_with_retry(
        f"{base}/files/byProject?accession={accession}", fetcher, **retry_kw
    )


#: exact field sets the reference DTOs consume — everything else in the
#: live payload is ignored (Jackson @JsonIgnoreProperties semantics).
#: Ref: ws/PrideProject.java:12-66, ws/PrideFile.java:12-68.
PROJECT_FIELDS = (
    "accession", "title", "organisms", "organismParts", "diseases",
    "publicationDate",
)
FILE_FIELDS = (
    "projectAccessions", "accession", "fileName", "publicFileLocations",
    "publicationDate", "fileCategory",
)


def normalize_pride_project(raw: dict) -> dict:
    """Raw ``projects/{accession}`` payload → the consumed field subset.

    Mirrors the reference's Jackson binding (``PrideProject.java:12-66``):
    unknown fields dropped, the six consumed fields kept verbatim.
    Raises ``KeyError`` when a REQUIRED field (accession) is absent —
    schema drift should fail loudly at the edge, not as downstream nulls.
    """
    if "accession" not in raw:
        raise KeyError("projects payload lost 'accession' — PRIDE API drift?")
    return {k: raw.get(k) for k in PROJECT_FIELDS}


def normalize_pride_files(raw_files: list[dict]) -> list[dict]:
    """Raw ``files/byProject`` payload → PROJECT_FILE-shaped dicts.

    Flattens the nested ``fileCategory`` CvParam into the
    (fileCategoryAccession, fileCategoryValue) pair the filter stack
    keys on (the reference reads ``fileCategory.getAccession()`` /
    ``...getName()`` — ``PrideArchiveWebService.java:96-111``), and
    projects ``publicFileLocations`` down to the (accession, name,
    value) triple the FTP-location lookup consumes (``:117``).
    """
    out = []
    for f in raw_files:
        if "fileName" not in f:
            raise KeyError("files payload lost 'fileName' — PRIDE API drift?")
        cat = f.get("fileCategory") or {}
        out.append(
            {
                "accession": f.get("accession"),
                "fileName": f["fileName"],
                "fileCategoryAccession": cat.get("accession"),
                "fileCategoryValue": cat.get("name"),
                "publicFileLocations": [
                    {
                        "accession": loc.get("accession"),
                        "name": loc.get("name"),
                        "value": loc.get("value"),
                    }
                    for loc in (f.get("publicFileLocations") or [])
                ],
                "publicationDate": f.get("publicationDate"),
            }
        )
    return out


def project_files_df(spark: SparkSession, files: list[dict]) -> DataFrame:
    """PrideFile dicts → DataFrame with the explicit PROJECT_FILE schema.

    Accepts either pre-flattened PROJECT_FILE dicts or raw API payloads.
    Detection scans EVERY file, not just the first (a raw list whose
    first file happens to lack ``fileCategory`` must still normalize):
    raw iff any file carries the nested ``fileCategory`` key, or none
    carries the flattened ``fileCategoryAccession`` our own shaping
    always emits."""
    dicts = [f for f in files if isinstance(f, dict)]
    if dicts and (
        any("fileCategory" in f for f in dicts)
        or not any("fileCategoryAccession" in f for f in dicts)
    ):
        files = normalize_pride_files(files)
    names = schemas.PROJECT_FILE.fieldNames()
    rows = [tuple(f.get(n) for n in names) for f in files]
    return local_frame(spark, rows, schemas.PROJECT_FILE)


def result_file_manifest(files: DataFrame, project_accession: str) -> DataFrame:
    """F2/F3 + projection → the result-file manifest table (T5).

    Ref: PrideArchiveWebService.java:113-126 — keep RESULT-category files
    with an FTP public location, excluding regenerated ``pride.mztab`` /
    ``pride.mgf`` artifacts; emit (name, date, accession, ftp).
    """
    kept = result_file_filters(files)
    ftp = F.element_at(
        F.filter(
            F.col("publicFileLocations"), lambda l: l["accession"] == "PRIDE:0000469"
        ),
        1,
    )["value"]
    return kept.select(
        F.col("fileName").alias("name"),
        F.date_format(F.col("publicationDate"), "yyyy-MM-dd").alias("date"),
        F.lit(project_accession).alias("accession"),
        ftp.alias("ftp"),
    )


def related_spectra_manifest(
    spectra_data: DataFrame,
    project_files: DataFrame,
    publication_date,  # Column or literal string
) -> DataFrame:
    """J2 + K4 — the ``get-related-files`` manifest.

    Ref: ``PrideAnalysisAssayService.java:156-176`` (writer; columns
    resultFile/date/referenceFile/fileType/ftpName/ftp) over the J2
    containment relation built at ``:906-924``: each result file's
    SpectraData location basename vs the project file listing, first
    match, FTP location ``PRIDE:0000469``.

    ``spectra_data`` comes from ``sources.mzid.read_mzid_spectra_data``
    (fileName = result file, location = referenced spectra path).
    """
    from pride_spark.operators.joins import contains_first_match
    from pride_spark.sources.dispatch import file_type_by_name

    probe = spectra_data.select(
        F.col("fileName").alias("resultFile"),
        F.element_at(F.split(F.col("location"), "/"), -1).alias("referenceFile"),
    )
    dim = project_files.select(
        F.col("fileName").alias("ftpName"),
        F.element_at(
            F.filter(
                F.col("publicFileLocations"),
                lambda l: l["accession"] == "PRIDE:0000469",
            ),
            1,
        )["value"].alias("ftp"),
    )
    rel = contains_first_match(
        probe,
        dim,
        probe_text="referenceFile",
        dim_text="ftpName",
        probe_keys=["resultFile", "referenceFile"],
        order_cols=["ftpName"],
        how="left",
    )
    date = publication_date if isinstance(publication_date, Column) else F.lit(publication_date)
    return rel.select(
        "resultFile",
        date.alias("date"),
        "referenceFile",
        file_type_by_name("referenceFile").alias("fileType"),
        "ftpName",
        "ftp",
    )
