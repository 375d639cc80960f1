"""Filter-stack tests (SURVEY §2.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pride_spark.operators.filters import (
    FilterConfig,
    assay_validity_gate,
    delta_mass_validation,
    ms_level_filter,
    peptide_length_filter,
    phospho_artifact_filter,
    psm_qvalue_filter,
    result_file_filters,
    scan_id_validation,
    source_id_filter,
    spectrum_validity,
    spectrum_validity_counts,
)

MODS = "array<struct<position:int,accession:string,name:string,mass:double>>"


def test_source_id_filter(spark):
    df = spark.createDataFrame(
        [("p1", "index=3"), ("p2", "index=null"), ("p3", None)], "psmId string, sourceId string"
    )
    got = {r["psmId"] for r in source_id_filter(df).collect()}
    assert got == {"p1", "p3"}


def test_peptide_length_filter(spark):
    df = spark.createDataFrame([("AAAAAAA",), ("AAA",)], "peptideSequence string")
    assert peptide_length_filter(df).count() == 1


def test_phospho_artifact_filter(spark):
    df = spark.createDataFrame(
        [
            ("keep", "PAPTIDE", [(1, "UNIMOD:21", "Phospho", 79.9)]),   # P at pos 1 → keep
            ("drop", "APPTIDE", [(1, "UNIMOD:21", "Phospho", 79.9)]),   # A at pos 1 → drop
            ("keep2", "APPTIDE", [(1, "UNIMOD:4", "Carbam", 57.0)]),    # not phospho → keep
            ("keep3", "APPTIDE", None),
        ],
        f"psmId string, peptideSequence string, modifications {MODS}",
    )
    got = {r["psmId"] for r in phospho_artifact_filter(df).collect()}
    assert got == {"keep", "keep2", "keep3"}


def test_qvalue_and_mslevel(spark):
    df = spark.createDataFrame([(0.001,), (0.05,)], "qvalue double")
    assert psm_qvalue_filter(df).count() == 1
    df2 = spark.createDataFrame([(1,), (2,), (3,)], "msLevel int")
    assert ms_level_filter(df2).count() == 2


def test_spectrum_validity_filter(spark):
    df = spark.createDataFrame(
        [
            ("ok", [1.0, 2.0], [5.0, 6.0], 500.0, 2),
            ("empty", [], [], 500.0, 2),
            ("mismatch", [1.0], [5.0, 6.0], 500.0, 2),
            ("nullmz", [1.0], [5.0], None, 2),
        ],
        "id string, masses array<double>, intensities array<double>, precursorMz double, precursorCharge int",
    )
    assert {r["id"] for r in df.filter(spectrum_validity()).collect()} == {"ok"}
    # the CLI gates' one-job figures agree with the predicate
    assert spectrum_validity_counts(df) == (4, 1)


def test_delta_mass_validation_buckets(spark):
    from pride_spark.functions.mass import MONOISOTOPIC_MASS, WATER_MONO

    seq = "PEPTIDEK"
    mono = sum(MONOISOTOPIC_MASS[c] for c in seq) + WATER_MONO
    good = (mono + 2 * 1.007276) / 2
    df = spark.createDataFrame(
        [("good", seq, 2, good), ("soft", seq, 2, good + 1.1), ("hard", seq, 2, good + 12.0)],
        "id string, peptideSequence string, charge int, massToCharge double",
    )
    out = delta_mass_validation(df).collect()
    ids = {r["id"]: r["deltaMzSuspect"] for r in out}
    assert set(ids) == {"good", "soft"}  # hard error dropped
    assert ids["good"] is False and ids["soft"] is True


def test_scan_id_validation(spark):
    """r10: full Integer.parseInt contract (the reference validates the
    already-extracted id, PrideAnalysisAssayService.java:556-562) —
    un-normalized tokens and digit-suffixed non-integers are rejected;
    callers run C9 normalization first."""
    df = spark.createDataFrame(
        [
            ("s1", "scan=123"),   # un-normalized: caller must run C9 first
            ("s2", "no-number"),
            ("s3", "777"),
            ("s4", "1.1.1.5"),    # Bruker-style, ends in a digit: rejected
            ("s5", None),
        ],
        "id string, spectrumId string",
    )
    got = {r["id"] for r in scan_id_validation(df).collect()}
    assert got == {"s3"}
    # the C9-normalized form of s1 passes
    from pride_spark.functions.spectrum_id import normalize_spectrum_id

    norm = df.withColumn(
        "spectrumId", normalize_spectrum_id("spectrumId", F.lit("MZML"))
    )
    assert {r["id"] for r in scan_id_validation(norm).collect()} == {"s1", "s3"}


def test_result_file_filters(spark):
    loc = "array<struct<accession:string,name:string,value:string>>"
    rows = [
        ("keep.mzid", None, "RESULT", [("PRIDE:0000469", "FTP", "ftp://x")]),
        ("gen.mzid", "PRIDE:1002848", "RESULT", [("PRIDE:0000469", "FTP", "f")]),   # F1
        ("x.pride.mztab", None, "RESULT", [("PRIDE:0000469", "FTP", "f")]),          # F2
        ("raw.raw", None, "RAW", [("PRIDE:0000469", "FTP", "f")]),                   # F3 category
        ("noftp.mzid", None, "RESULT", [("PRIDE:9999999", "HTTP", "h")]),            # F3 location
        ("zipped.mzid.gz", None, "RESULT", [("PRIDE:0000469", "FTP", "f")]),         # F4
    ]
    df = spark.createDataFrame(
        rows, f"fileName string, fileCategoryAccession string, fileCategoryValue string, publicFileLocations {loc}"
    )
    got = [r["fileName"] for r in result_file_filters(df).collect()]
    assert got == ["keep.mzid"]


def test_assay_validity_gate(spark):
    ok_df = spark.createDataFrame(
        [(i, i % 5 == 0) for i in range(1200)], "id long, isDecoy boolean"
    )
    ok, stats = assay_validity_gate(ok_df)
    assert ok and stats["total"] == 1200
    no_decoys = spark.createDataFrame([(i, False) for i in range(1200)], "id long, isDecoy boolean")
    ok2, _ = assay_validity_gate(no_decoys)
    assert not ok2
    few = spark.createDataFrame([(1, True), (2, False)], "id long, isDecoy boolean")
    ok3, _ = assay_validity_gate(few, FilterConfig(min_psms=1000))
    assert not ok3


def test_score_denoise_flat_matches_inrow(spark):
    """The r13 flat variant must emit exactly explode(score_denoise(arr))
    — incl. empty arrays, NULL arrays, NULL/NaN/zero values and the
    excluded-CV set (the explode_outer + value-not-null composition)."""
    from pride_spark.operators.filters import score_denoise, score_denoise_flat

    sc = "array<struct<accession:string,value:string>>"
    rows = [
        ("a", [("MS:1001153", "1.5"), ("MS:1002355", "2.0")]),  # one excluded
        ("b", [("MS:1001153", "0.0"), ("MS:1001155", None)]),   # zero + null
        ("c", [("MS:1001153", "NaN"), ("MS:1001155", "3.25")]),  # NaN dropped
        ("d", []),                                               # empty array
        ("e", None),                                             # NULL array
    ]
    df = spark.createDataFrame(rows, f"psmId string, scores {sc}")
    want = sorted(
        df.select("psmId", F.explode(score_denoise(F.col("scores"))).alias("s"))
        .select("psmId", "s.accession", "s.value")
        .collect()
    )
    got = sorted(
        score_denoise_flat(df, ["psmId"], "scores")
        .select("psmId", "s.accession", "s.value")
        .collect()
    )
    assert got == want
    assert [r["psmId"] for r in got] == ["a", "c"]
