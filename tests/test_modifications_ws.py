"""X3/X4 modification reshaping and the S1/S2 WS client edge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pride_spark.operators.modifications import (
    RAW_MOD_TYPE,
    distinct_modification_names,
    peptide_mods_to_protein_coords,
    regroup_modifications,
)
from pride_spark.sources import ws


def _psms(spark):
    rows = [
        (
            "psm1",
            "PEPTIDEK",
            [
                (3, "UNIMOD:21", "Phospho"),
                (3, "UNIMOD:21", "Phospho"),   # duplicate accession+position
                (5, "UNIMOD:21", "Phospho"),   # same accession, new position
                (1, "UNIMOD:35", "Oxidation"),
            ],
            [10, 50],
        ),
        ("psm2", "KPEPTIDE", [], [7]),
    ]
    return spark.createDataFrame(
        rows,
        f"psmId string, peptideSequence string, modifications {RAW_MOD_TYPE}, "
        "proteinStartPositions array<int>",
    )


def test_regroup_modifications_merges_positions(spark):
    out = (
        _psms(spark)
        .select("psmId", regroup_modifications("modifications").alias("mods"))
        .collect()
    )
    by_id = {r["psmId"]: r["mods"] for r in out}
    m1 = {m["accession"]: m for m in by_id["psm1"]}
    assert set(m1) == {"UNIMOD:21", "UNIMOD:35"}
    assert m1["UNIMOD:21"]["positions"] == [3, 5]  # deduped + sorted
    assert m1["UNIMOD:21"]["name"] == "Phospho"
    assert m1["UNIMOD:35"]["positions"] == [1]
    assert by_id["psm2"] == []


def test_regroup_flat_agrees_with_in_row(spark):
    from pride_spark.operators.modifications import regroup_modifications_flat

    df = _psms(spark)
    in_row = (
        df.select("psmId", F.explode(regroup_modifications("modifications")).alias("m"))
        .select("psmId", "m.accession", "m.name", "m.positions")
        .collect()
    )
    flat = regroup_modifications_flat(df, ["psmId"]).collect()
    key = lambda r: (r["psmId"], r["accession"])
    assert sorted(map(tuple, in_row)) == sorted(map(tuple, flat))


def test_regroup_flat_merges_rows_with_a_repeated_key(spark):
    """A key repeated across rows gives ONE row per (key, accession), with
    the union of the rows' positions, as a SQL ``GROUP BY`` does; not one
    row per input row."""
    from pride_spark.operators.modifications import regroup_modifications_flat

    df = spark.createDataFrame(
        [
            ("psm1", [(3, "UNIMOD:21", "Phospho"), (1, "UNIMOD:35", "Oxidation")]),
            ("psm1", [(5, "UNIMOD:21", "Phospho"), (3, "UNIMOD:21", "Phospho")]),
            ("psm2", [(2, "UNIMOD:21", "Phospho")]),
        ],
        f"psmId string, modifications {RAW_MOD_TYPE}",
    )
    got = sorted(map(tuple, regroup_modifications_flat(df, ["psmId"]).collect()))
    assert got == [
        ("psm1", "UNIMOD:21", "Phospho", [3, 5]),
        ("psm1", "UNIMOD:35", "Oxidation", [1]),
        ("psm2", "UNIMOD:21", "Phospho", [2]),
    ]


def test_protein_coordinate_mapping(spark):
    out = peptide_mods_to_protein_coords(_psms(spark)).collect()
    # psm1: 2 occurrences × 4 raw mods = 8 rows; psm2: no mods → none
    assert len(out) == 8
    got = {(r["proteinPos"], r["modAccession"]) for r in out}
    # start=10: pos 3 → 12, pos 5 → 14, pos 1 → 10; start=50: 52, 54, 50
    assert (12, "UNIMOD:21") in got and (54, "UNIMOD:21") in got
    assert (10, "UNIMOD:35") in got and (50, "UNIMOD:35") in got


def test_distinct_modification_names(spark):
    names = {r["name"] for r in distinct_modification_names(_psms(spark)).collect()}
    assert names == {"Phospho", "Oxidation"}


# --- WS client -------------------------------------------------------------

FILES_PAYLOAD = [
    {
        "accession": "PXF1",
        "fileName": "run1.mzid",
        "fileCategoryAccession": "PRIDE:1002847",
        "fileCategoryValue": "RESULT",
        "publicFileLocations": [
            {"accession": "PRIDE:0000469", "name": "FTP", "value": "ftp://x/run1.mzid"}
        ],
        "publicationDate": "2020-05-17",
    },
    {   # excluded: regenerated artifact
        "accession": "PXF2",
        "fileName": "gen.pride.mgf",
        "fileCategoryAccession": "PRIDE:1002847",
        "fileCategoryValue": "RESULT",
        "publicFileLocations": [
            {"accession": "PRIDE:0000469", "name": "FTP", "value": "ftp://x/gen.pride.mgf"}
        ],
        "publicationDate": "2020-05-17",
    },
    {   # excluded: not RESULT
        "accession": "PXF3",
        "fileName": "raw1.mzML",
        "fileCategoryAccession": "PRIDE:1002846",
        "fileCategoryValue": "RAW",
        "publicFileLocations": [
            {"accession": "PRIDE:0000469", "name": "FTP", "value": "ftp://x/raw1.mzML"}
        ],
        "publicationDate": "2020-05-17",
    },
]


def test_ws_retry_then_success():
    calls = []

    def flaky(url):
        calls.append(url)
        if len(calls) < 3:
            raise OSError("boom")
        return {"accession": "PXD1"}

    out = ws.fetch_project("PXD1", fetcher=flaky, sleep_s=0)
    assert out == {"accession": "PXD1"} and len(calls) == 3


def test_ws_retries_exhausted():
    def dead(url):
        raise OSError("down")

    with pytest.raises(ws.WebServiceError, match="after 2 retries"):
        ws.fetch_with_retry("http://x", fetcher=dead, max_retries=2, sleep_s=0)


def test_result_file_manifest(spark):
    files = ws.project_files_df(spark, FILES_PAYLOAD)
    man = ws.result_file_manifest(files, "PXD1").collect()
    assert len(man) == 1
    r = man[0]
    assert (r["name"], r["date"], r["accession"], r["ftp"]) == (
        "run1.mzid",
        "2020-05-17",
        "PXD1",
        "ftp://x/run1.mzid",
    )


# ---------------------------------------------------------------------------
# Recorded-fixture DTO contract (r10 verdict task 8): the committed
# project/files JSON pair mirrors the live v2 API shape for PXD000001;
# these tests pin the exact field set the reference DTOs consume
# (PrideProject.java:12-66, PrideFile.java:12-68) so a fixture refresh
# surfaces API drift as a test failure instead of production nulls.
# ---------------------------------------------------------------------------

import json as _json
import os as _os

_FIXDIR = _os.path.join(_os.path.dirname(__file__), "data", "ws_fixtures")


def _fixture_fetcher(path):
    def fetch(url):
        with open(path) as fh:
            return _json.load(fh)

    return fetch


def test_ws_fixture_project_field_contract():
    raw = ws.fetch_project(
        "PXD000001",
        fetcher=_fixture_fetcher(_os.path.join(_FIXDIR, "project_PXD000001.json")),
    )
    # the live payload is a SUPERSET (Jackson ignores extras); every
    # consumed field must be present with the consumed shape
    assert set(ws.PROJECT_FIELDS) <= set(raw)
    proj = ws.normalize_pride_project(raw)
    assert set(proj) == set(ws.PROJECT_FIELDS)
    assert proj["accession"] == "PXD000001"
    assert isinstance(proj["title"], str) and proj["title"]
    for cv_list in (proj["organisms"], proj["organismParts"], proj["diseases"]):
        assert isinstance(cv_list, list) and cv_list
        # CvParam binding: (cvLabel?, accession, name, value)
        assert {"accession", "name"} <= set(cv_list[0])
    # @JsonFormat(pattern="yyyy-MM-dd")
    import re

    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", proj["publicationDate"])
    # drift fails loudly
    with pytest.raises(KeyError, match="drift"):
        ws.normalize_pride_project({"title": "no accession"})


def test_ws_fixture_files_field_contract(spark):
    raw = ws.fetch_project_files(
        "PXD000001",
        fetcher=_fixture_fetcher(
            _os.path.join(_FIXDIR, "files_byProject_PXD000001.json")
        ),
    )
    assert isinstance(raw, list) and len(raw) == 4
    for f in raw:
        assert set(ws.FILE_FIELDS) <= set(f)
        assert {"accession", "name"} <= set(f["fileCategory"])
        for loc in f["publicFileLocations"]:
            assert {"accession", "name", "value"} <= set(loc)
    # raw payload loads straight into the explicit schema (the nested
    # fileCategory is auto-normalized) and the T5 manifest composition
    # keeps exactly the reference's rows: RESULT + FTP location, minus
    # regenerated pride.mztab/pride.mgf artifacts
    files = ws.project_files_df(spark, raw)
    assert files.schema.simpleString() == ws.schemas.PROJECT_FILE.simpleString()
    man = ws.result_file_manifest(files, "PXD000001").collect()
    assert len(man) == 1
    r = man[0]
    assert r["name"] == "F063721.dat-mztab.txt"
    assert r["date"] == "2012-03-07"
    assert r["accession"] == "PXD000001"
    assert r["ftp"].startswith("ftp://ftp.pride.ebi.ac.uk/")
    # drift fails loudly
    with pytest.raises(KeyError, match="drift"):
        ws.normalize_pride_files([{"accession": "X"}])
