"""Replicated-counts regression on REAL instrument data (SURVEY §5 item
3; r11 verdict task #1).

The reference validates against real public data with golden
expectations (``conf/test.config`` BSA profile;
``data/public-submissions.csv`` expected PSM counts).  This suite is the
engine's equivalent: it runs whenever ``tests/data/real_bsa/`` holds the
six real BSA mzML files the reference's test profile uses, fetched and
frozen by ``tools/fetch_real_fixture.py --fetch`` on a networked machine
(this sandbox has none, so the suite skips — the same absent-path seam
as the Pillow decoder leg).

What it pins on real bytes:

- the engine re-reads every file to EXACTLY the spectrum count frozen
  at fetch time (``manifest.json``) — parser drift on real vendor
  output fails here;
- every spectrum carries peaks and a parseable scan id.
"""

from __future__ import annotations

import json
import os

import pytest

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "real_bsa")
MANIFEST = os.path.join(DATA, "manifest.json")

pytestmark = pytest.mark.skipif(
    not os.path.exists(MANIFEST),
    reason="real BSA data not fetched (run tools/fetch_real_fixture.py --fetch "
    "on a networked machine)",
)


def _manifest() -> dict:
    return json.load(open(MANIFEST))


def test_real_mzml_counts_replicate(spark):
    from pride_spark.sources.mzml import read_mzml

    man = _manifest()
    mzml = {k: v for k, v in man["files"].items() if k.endswith(".mzML")}
    assert len(mzml) == 6
    for name, meta in mzml.items():
        df = read_mzml(spark, [os.path.join(DATA, name)])
        assert df.count() == meta["spectra"], name


def test_real_mzml_rows_are_well_formed(spark):
    from pyspark.sql import functions as F

    from pride_spark.sources.mzml import read_mzml

    name = sorted(
        k for k in _manifest()["files"] if k.endswith(".mzML")
    )[0]
    df = read_mzml(spark, [os.path.join(DATA, name)])
    bad = df.filter(
        F.col("spectrumId").isNull()
        | (F.size("masses") == 0)
        | (F.size("masses") != F.size("intensities"))
    ).count()
    assert bad == 0
