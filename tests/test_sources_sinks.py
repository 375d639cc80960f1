"""Sources (S4/S5/S11/S12, MGF) and sinks (K1/K3/K4/K5) tests."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pride_spark import schemas
from pride_spark.functions import spectrum_id as sid
from pride_spark.sinks import mgf as mgf_sink
from pride_spark.sinks.manifests import write_result_file_manifest
from pride_spark.sources import dispatch
from pride_spark.sources.jsonlines import read_archive_spectra, write_jsonlines
from pride_spark.sources.mgf import read_mgf
from pride_spark.sources.tabular import (
    DuplicateSpectrumIndexError,
    read_maracluster,
    read_sdrf,
)

MGF_TEXT = """BEGIN IONS
TITLE=id=mzspec:PXD1:run1:index:1,sequence=PEPTIDE/2
PEPMASS=445.12
CHARGE=2+
RTINSECONDS=12.5
100.5\t200.0
101.25\t55.5
END IONS
BEGIN IONS
TITLE=id=mzspec:PXD1:run1:index:2
PEPMASS=512.7
CHARGE=3+
90.1\t10.0
END IONS
"""


def test_mgf_reader(spark, tmp_path):
    p = tmp_path / "run1.mgf"
    p.write_text(MGF_TEXT)
    df = read_mgf(spark, str(p)).orderBy("index")
    rows = df.collect()
    assert [r["index"] for r in rows] == [0, 1]
    assert rows[0]["precursorMz"] == pytest.approx(445.12)
    assert rows[0]["precursorCharge"] == 2
    assert rows[0]["retentionTime"] == pytest.approx(12.5)
    assert rows[0]["masses"] == [100.5, 101.25]
    assert rows[0]["intensities"] == [200.0, 55.5]
    assert rows[0]["numPeaks"] == 2
    assert rows[1]["spectrumId"].startswith("id=mzspec:PXD1:run1:index:2")
    assert rows[1]["numPeaks"] == 1


def test_mgf_write_read_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [
            ("mzspec:P1:f1:index:1", "PEPK/2", 445.5, 2, [100.0, 200.25], [1.5, 2.5]),
            ("mzspec:P1:f1:index:2", None, 300.125, 3, [50.0], [9.0]),
        ],
        "usi string, peptidoform string, precursorMz double, precursorCharge int, "
        "masses array<double>, intensities array<double>",
    )
    out = str(tmp_path / "out_mgf")
    mgf_sink.write_mgf(src, out)
    text = "".join(open(f).read() for f in sorted(glob.glob(os.path.join(out, "part-*"))))
    assert "TITLE=id=mzspec:P1:f1:index:1,sequence=PEPK/2" in text
    assert "CHARGE=2.0+" in text  # Java String.valueOf(double) formatting
    assert "   100.000\t1.500" in text  # %10.3f mass, trimmed intensity
    back = read_mgf(spark, out).orderBy("index").collect()
    assert len(back) == 2
    assert back[0]["masses"] == [100.0, 200.25]
    assert back[0]["precursorMz"] == pytest.approx(445.5)


def test_jsonlines_roundtrip_and_point_lookup(spark, tmp_path):
    rows = [
        {
            "usi": "mzspec:P1:f1:index:1",
            "peptideSequence": "PEPTIDEK",
            "isDecoy": False,
            "msLevel": 2,
            "precursorMz": 445.5,
            "masses": [1.0, 2.0],
            "intensities": [3.0, 4.0],
            "numPeaks": 2,
        },
        {
            "usi": "mzspec:P1:f1:index:2",
            "peptideSequence": "KPEPTIDE",
            "isDecoy": True,
            "msLevel": 2,
            "precursorMz": 512.0,
            "masses": [5.0],
            "intensities": [6.0],
            "numPeaks": 1,
        },
    ]
    df = spark.createDataFrame(rows, schemas.BINARY_ARCHIVE_SPECTRUM)
    path = str(tmp_path / "t1json")
    write_jsonlines(df, path)
    back = read_archive_spectra(spark, path)
    # JSON read resets nullability flags; names+types must match exactly.
    assert back.schema.simpleString() == schemas.BINARY_ARCHIVE_SPECTRUM.simpleString()
    assert back.count() == 2
    hit = back.filter(F.col("usi") == "mzspec:P1:f1:index:2").collect()
    assert len(hit) == 1 and hit[0]["isDecoy"] is True


def test_maracluster_reader_and_dup_check(spark, tmp_path):
    good = tmp_path / "clusters.tsv"
    good.write_text("f1.mgf\t0\t10\nf1.mgf\t1\t10\nf2.mgf\t0\t11\n")
    df = read_maracluster(spark, str(good))
    assert df.count() == 3
    assert df.filter(F.col("clusterId") == 10).count() == 2

    bad = tmp_path / "bad.tsv"
    bad.write_text("f1.mgf\t0\t10\nf1.mgf\t0\t11\n")
    with pytest.raises(DuplicateSpectrumIndexError):
        read_maracluster(spark, str(bad))


def test_sdrf_melt(spark, tmp_path):
    p = tmp_path / "sample.sdrf.tsv"
    p.write_text(
        "source name\tcharacteristics[organism]\tcharacteristics[disease]\tcomment[data file]\n"
        "s1\thuman\tcancer\tf1.raw\n"
        "s2\tmouse\t\tf2.raw\n"
    )
    out = read_sdrf(spark, str(p)).orderBy("dataFile", "name").collect()
    triples = [(r["dataFile"], r["name"], r["value"]) for r in out]
    assert ("f1.raw", "organism", "human") in triples
    assert ("f1.raw", "disease", "cancer") in triples
    assert ("f2.raw", "organism", "mouse") in triples
    assert all(t[2] is not None for t in triples)


_EFO_OBO = """format-version: 1.2
ontology: efo

[Term]
id: EFO:0000001
name: experimental factor

[Term]
id: EFO:0000635
name: organism part

[Term]
id: NCBITaxon:9606
name: organism

[Term]
id: EFO:0000408
name: disease

[Term]
id: EFO:9999999
name: organism
is_obsolete: true

[Typedef]
id: part_of
name: part of
"""


def test_efo_obo_parse(spark, tmp_path):
    from pride_spark.sources.efo import read_efo_obo

    p = tmp_path / "efo.obo"
    p.write_text(_EFO_OBO)
    terms = {r["accession"]: r["name"] for r in read_efo_obo(spark, str(p)).collect()}
    assert terms == {
        "EFO:0000001": "experimental factor",
        "EFO:0000635": "organism part",
        "NCBITaxon:9606": "organism",
        "EFO:0000408": "disease",
    }  # obsolete term dropped, [Typedef] stanza ignored


def test_sdrf_efo_enrichment_end_to_end(spark, tmp_path):
    # the J10 shape: melted SDRF characteristics broadcast-left-joined to
    # the EFO dim; unknown names keep NULL accession like the reference's
    # Param (PrideAnalysisAssayService.java:342-347)
    from pride_spark.sources.efo import enrich_with_efo, read_efo_obo

    sdrf = tmp_path / "sample.sdrf.tsv"
    sdrf.write_text(
        "source name\tcharacteristics[organism]\tcharacteristics[Disease]"
        "\tcharacteristics[strain]\tcomment[data file]\n"
        "s1\thuman\tcancer\tc57\tf1.raw\n"
        "s2\tmouse\t\tbalb\tf2.raw\n"
    )
    obo = tmp_path / "efo.obo"
    obo.write_text(_EFO_OBO)
    out = enrich_with_efo(read_sdrf(spark, str(sdrf)), read_efo_obo(spark, str(obo)))
    rows = {(r["dataFile"], r["name"]): r["accession"] for r in out.collect()}
    assert rows[("f1.raw", "organism")] == "NCBITaxon:9606"
    assert rows[("f1.raw", "Disease")] == "EFO:0000408"  # case-insensitive
    assert rows[("f1.raw", "strain")] is None  # unknown name -> null accession
    assert rows[("f2.raw", "organism")] == "NCBITaxon:9606"
    # the ontology side must broadcast — the fact side is never shuffled
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_efo_tsv_variant(spark, tmp_path):
    from pride_spark.sources.efo import enrich_with_efo, read_efo_tsv
    from pride_spark.sources.tabular import read_sdrf

    tsv = tmp_path / "efo_terms.tsv"
    tsv.write_text("accession\tname\nEFO:0000408\tdisease\n")
    sdrf = tmp_path / "s.sdrf.tsv"
    sdrf.write_text(
        "characteristics[disease]\tcomment[data file]\ncancer\tf1.raw\n"
    )
    out = enrich_with_efo(
        read_sdrf(spark, str(sdrf)), read_efo_tsv(spark, str(tsv))
    ).collect()
    assert len(out) == 1 and out[0]["accession"] == "EFO:0000408"


def test_file_type_dispatch(spark):
    df = spark.createDataFrame(
        [("a.mzid",), ("b.MzML.gz",), ("c.mgf",), ("d.mzTab",), ("e.unknown",)], "name string"
    )
    got = {r["name"]: r["t"] for r in df.select("name", dispatch.file_type_by_name("name").alias("t")).collect()}
    assert got == {"a.mzid": "MZID", "b.MzML.gz": "MZML", "c.mgf": "MGF", "d.mzTab": "MZTAB", "e.unknown": None}
    assert dispatch.sniff_pride_xml("<MzIdentML xmlns=...>") == "MZID"
    assert dispatch.sniff_pride_xml("<ExperimentCollection>") == "PRIDE"


def test_spectrum_id_normalization(spark):
    df = spark.createDataFrame(
        [
            ("query=41", "MASCOT_QUERY"),
            ("index=0", "MULTI_PEAK"),
            ("controllerType=0 controllerNumber=1 scan=5021", "MZML"),
            ("sample=1 period=1 cycle=200 experiment=2", "NATIVE"),
            ("spectrum=9", "NATIVE"),
        ],
        "sourceId string, fmt string",
    )
    out = [
        r["norm"]
        for r in df.select(
            sid.normalize_spectrum_id("sourceId", "fmt").alias("norm")
        ).collect()
    ]
    assert out == [
        "42",  # query= stripped, 0-based → 1-based
        "1",
        "5021",  # scan token extracted
        "sample=1 period=1 cycle=200 experiment=2",  # WIFF untouched
        "spectrum=9",  # no scan token → raw id
    ]


def test_result_manifest_tsv(spark, tmp_path):
    import datetime

    df = spark.createDataFrame(
        [("f1.mzid", datetime.date(2020, 5, 17), "PXD1", "ftp://x/f1.mzid")],
        "name string, date date, accession string, ftp string",
    )
    out = str(tmp_path / "manifest.tsv")
    write_result_file_manifest(df, out)
    # r10: the manifest is ONE flat named file (the reference's writer
    # shape), not a Spark part-file directory
    assert os.path.isfile(out)
    text = open(out).read()
    assert text.startswith("name\tdate\taccession\tftp\n")
    assert "f1.mzid\t2020-05-17\tPXD1\tftp://x/f1.mzid" in text


def test_mgf_peak_format_modes(spark):
    """peak_format='decimal' rounds identically to the reference 'exact'
    formatter on finite non-negative peaks (the physical MGF domain,
    incl. >10-char widths where %10.3f stops padding); the only
    divergence is negatives rounding to zero (-0.000 vs 0.000)."""
    import random

    from pyspark.sql import functions as F

    import pytest as _pytest

    from pride_spark.sinks.mgf import mgf_record

    random.seed(11)
    vals = (
        [(float(q), d / 100.0) for q in range(1, 51) for d in range(0, 11)]
        + [(7.25, 1.0), (0.0, 0.005), (8.3445, 123456789.0625)]
        + [
            (random.uniform(0, 1e6), random.uniform(0, 1))
            for _ in range(5000)
        ]
    )
    dom = spark.createDataFrame(vals, "m double, i double").select(
        F.array("m").alias("masses"), F.array("i").alias("intensities")
    )

    def rec(fmt):
        return mgf_record(
            F.lit("u"), F.lit("P/1"), F.lit(1.0), F.lit(2),
            F.col("masses"), F.col("intensities"), peak_format=fmt,
        )

    assert dom.filter(rec("exact") != rec("decimal")).count() == 0

    # the documented divergence: a negative value rounding to zero
    edge = spark.createDataFrame([(-0.0001, 1.0)], "m double, i double").select(
        F.array("m").alias("masses"), F.array("i").alias("intensities")
    )
    a, b = edge.select(rec("exact").alias("a"), rec("decimal").alias("b")).first()
    assert "-0.000\t" in a and "-0.000" not in b

    with _pytest.raises(ValueError):
        rec("fast")

    # r13: the static-width unroll (n_peaks) must be byte-identical to the
    # generic zip_with fold — same format_string calls, codegen instead of
    # an interpreted HOF.  2-wide arrays cover q33's exact shape.
    two = spark.createDataFrame(
        [(m, i, m * 2 + 0.125, i / 3.0) for m, i in vals[:2000]],
        "m1 double, i1 double, m2 double, i2 double",
    ).select(
        F.array("m1", "m2").alias("masses"), F.array("i1", "i2").alias("intensities")
    )

    def rec2(**kw):
        return mgf_record(
            F.lit("u"), F.lit("P/1"), F.lit(1.0), F.lit(2),
            F.col("masses"), F.col("intensities"), **kw,
        )

    assert two.filter(rec2(n_peaks=2) != rec2()).count() == 0


def test_reference_layout_export(spark, tmp_path):
    """K6/K7 — export_reference_layout lands the exact BackupUtil.java:49-79
    file names, batches partition by usi.split(':')[2], and batch rows
    carry the same fields as the total (no derived batch column)."""
    import json

    from pride_spark.sinks.layout import (
        archive_spectrum_batch_file,
        archive_spectrum_total_file,
        concat_parts,
        export_reference_layout,
        protein_evidence_file,
        psm_summary_file,
    )

    rows = [
        (f"mzspec:PXDL:{src}:scan:{i}", f"PEP{i}", float(i))
        for i, src in enumerate(["a.mgf"] * 3 + ["b 2.mgf"] * 2)
    ]
    # a row with no source-file segment: lands in the Total, gets NO
    # batch file (the reference would NPE on usi.split(':')[2])
    rows.append(("short", "PEPX", 9.0))
    archive = spark.createDataFrame(rows, "usi string, peptideSequence string, score double")
    summary = archive.drop("score")
    proteins = spark.createDataFrame([("P1", 3), ("P2", 2)], "accession string, numPSMs int")

    out = export_reference_layout(
        str(tmp_path), "PXDL", "assayX",
        archive_spectra=archive, summary_spectra=summary, protein_evidence=proteins,
    )
    total = archive_spectrum_total_file(str(tmp_path), "PXDL", "assayX")
    assert out["archive_total"] == total
    assert os.path.exists(total)
    assert os.path.exists(psm_summary_file(str(tmp_path), "PXDL", "assayX"))
    assert os.path.exists(protein_evidence_file(str(tmp_path), "PXDL", "assayX"))

    total_rows = [json.loads(l) for l in open(total)]
    assert len(total_rows) == 6 and {r["usi"] for r in total_rows} == {r[0] for r in rows}
    assert not glob.glob(os.path.join(str(tmp_path), "PXDL", "*HIVE_DEFAULT*"))

    # per-source batches: name carries the RAW source-file name (the %XX
    # partition-dir escaping of the space is undone), rows contain only
    # that file's USIs and exactly the T1 fields
    for src, n in (("a.mgf", 3), ("b 2.mgf", 2)):
        f = archive_spectrum_batch_file(str(tmp_path), "PXDL", src)
        assert os.path.exists(f), f
        brows = [json.loads(l) for l in open(f)]
        assert len(brows) == n
        assert all(r["usi"].split(":")[2] == src for r in brows)
        assert set(brows[0]) == {"usi", "peptideSequence", "score"}

    # concat_parts is atomic: no .tmp- residue anywhere under the project dir
    residue = [p for p in os.listdir(os.path.join(str(tmp_path), "PXDL")) if ".tmp-" in p]
    assert residue == []

    # K6 standalone: concatenating a directory table reproduces the total
    d = str(tmp_path / "scratch")
    write_jsonlines(archive, d)
    dest = str(tmp_path / "flat.json")
    concat_parts(d, dest)
    assert sorted(open(dest).read().splitlines()) == sorted(open(total).read().splitlines())


def test_reference_layout_export_shared_scratch(spark, tmp_path):
    """r9 — scratch_dir: the export stages under a caller-supplied
    (cluster-shared) directory, cleans up its OWN unique subdir, and
    never deletes the caller's root (two exports can share it)."""
    from pride_spark.sinks.layout import export_reference_layout

    archive = spark.createDataFrame(
        [("mzspec:PXDS:a.mgf:scan:1", "PEPA")], "usi string, peptideSequence string"
    )
    shared = tmp_path / "shared_scratch"
    shared.mkdir()
    sentinel = shared / "keep.txt"
    sentinel.write_text("other job's data")

    out = export_reference_layout(
        str(tmp_path / "out"), "PXDS", "assayY",
        archive_spectra=archive, scratch_dir=str(shared),
    )
    assert os.path.exists(out["archive_total"])
    assert os.path.exists(out["archive_batch:a.mgf"])
    # caller's root survives with its contents; the unique subdir is gone
    assert sentinel.read_text() == "other job's data"
    assert [p for p in os.listdir(shared) if p.startswith("pride_layout_")] == []


def test_archive_spectrum_export_golden_bytes(spark, tmp_path):
    """r11 verdict task #7 — byte-level golden for the reference-layout
    JSON-lines export, hand-written from the Jackson conventions of
    BackupUtil.java:27-47 (``objectMapper.writeValueAsString`` + println):
    one compact JSON object per line (no spaces), fields in bean/schema
    declaration order, Java double formatting ("10.0", not "10"), LF
    line terminator.

    One documented divergence (PARITY_AUDIT "JSON-lines writer"): fields
    that are NULL are OMITTED from the line, where default Jackson would
    write ``"field":null``.  Read-compatible either way — the
    reference's own reader (``getObjectsFromFile`` → Jackson
    ``readValue``) leaves absent properties null, and the engine's
    schema'd read does the same — so the golden pins the omission
    explicitly (row 2 has no reanalysisAccession/retentionTime keys)."""
    from pride_spark import schemas
    from pride_spark.sinks.layout import (
        archive_spectrum_total_file,
        export_reference_layout,
    )

    rows = [
        ("mzspec:PXD9:run1:scan:7:PEPA/2", "mzspec:PXD9:run1:scan:7", "PXD9",
         "RPXD9", "A1", "PEPA", "PEPA/2", False, True, 12.5, 2, 2, 445.12,
         [100.25, 200.5], [10.0, 20.0], 2, 0, None, ["P001", "P002"],
         ("MS", "MS:1002257", "score", "0.9"),
         [("MS", "MS:1002257", "score", "0.9")], None, None, None),
        ("mzspec:PXD9:run1:scan:8:PEPB/3", "mzspec:PXD9:run1:scan:8", "PXD9",
         None, "A1", "PEPB", "PEPB/3", True, False, None, 2, 3, 512.9,
         [300.75], [30.5], 1, 1, None, [], None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schemas.BINARY_ARCHIVE_SPECTRUM).coalesce(1)
    export_reference_layout(
        str(tmp_path), "PXD9", "A1", archive_spectra=df, batch_files=False
    )
    got = open(archive_spectrum_total_file(str(tmp_path), "PXD9", "A1"), "rb").read()

    expected = (
        b'{"usi":"mzspec:PXD9:run1:scan:7:PEPA/2"'
        b',"spectraUsi":"mzspec:PXD9:run1:scan:7"'
        b',"projectAccession":"PXD9"'
        b',"reanalysisAccession":"RPXD9"'
        b',"assayAccession":"A1"'
        b',"peptideSequence":"PEPA"'
        b',"peptidoform":"PEPA/2"'
        b',"isDecoy":false'
        b',"isValid":true'
        b',"retentionTime":12.5'
        b',"msLevel":2'
        b',"precursorCharge":2'
        b',"precursorMz":445.12'
        b',"masses":[100.25,200.5]'
        b',"intensities":[10.0,20.0]'
        b',"numPeaks":2'
        b',"missedCleavages":0'
        b',"proteinAccessions":["P001","P002"]'
        b',"bestSearchEngineScore":{"cvLabel":"MS","accession":"MS:1002257"'
        b',"name":"score","value":"0.9"}'
        b',"scores":[{"cvLabel":"MS","accession":"MS:1002257"'
        b',"name":"score","value":"0.9"}]}\n'
        b'{"usi":"mzspec:PXD9:run1:scan:8:PEPB/3"'
        b',"spectraUsi":"mzspec:PXD9:run1:scan:8"'
        b',"projectAccession":"PXD9"'
        b',"assayAccession":"A1"'
        b',"peptideSequence":"PEPB"'
        b',"peptidoform":"PEPB/3"'
        b',"isDecoy":true'
        b',"isValid":false'
        b',"msLevel":2'
        b',"precursorCharge":3'
        b',"precursorMz":512.9'
        b',"masses":[300.75]'
        b',"intensities":[30.5]'
        b',"numPeaks":1'
        b',"missedCleavages":1'
        b',"proteinAccessions":[]}\n'
    )
    assert got == expected


def test_efo_enrichment_deterministic_on_shared_names(spark, tmp_path):
    """r11 review: two ontology terms sharing a case-folded name must
    resolve to the SAME accession on every run (min), and repeated ids
    across OBO shards collapse deterministically — dropDuplicates picked
    an arbitrary row per key."""
    from pride_spark.sources.efo import enrich_with_efo, read_efo_obo

    terms = spark.createDataFrame(
        [("EFO:0002", "Age"), ("EFO:0001", "age"), ("EFO:0009", "organism")],
        "accession string, name string",
    )
    chars = spark.createDataFrame(
        [("f1", "AGE", "42"), ("f1", "organism", "human")],
        "dataFile string, name string, value string",
    )
    got = {r["name"]: r["accession"] for r in enrich_with_efo(chars, terms).collect()}
    assert got == {"AGE": "EFO:0001", "organism": "EFO:0009"}  # min, not arbitrary

    import textwrap
    obo = textwrap.dedent("""\
        format-version: 1.2

        [Term]
        id: EFO:0005
        name: zzz-name

        [Term]
        id: EFO:0005
        name: aaa-name
    """)
    p = tmp_path / "efo_dup.obo"
    p.write_text(obo)
    rows = read_efo_obo(spark, str(p)).collect()
    assert len(rows) == 1 and rows[0]["name"] == "aaa-name"


def test_sdrf_quoted_names_dup_headers_and_missing_file_col(spark, tmp_path):
    """r11 review: an apostrophe inside characteristics[...] broke the
    stack() SQL literal; duplicate characteristic headers (legit SDRF)
    both melt; a missing comment[data file] column names itself instead
    of raising a bare StopIteration."""
    import pytest

    from pride_spark.sources.tabular import read_sdrf

    p = tmp_path / "s.sdrf.tsv"
    p.write_text(
        "comment[data file]\tcharacteristics[patient's age]"
        "\tcharacteristics[organism part]\tcharacteristics[organism part]\n"
        "f1.raw\t42\tliver\tkidney\n"
    )
    rows = sorted((r["name"], r["value"]) for r in read_sdrf(spark, str(p)).collect())
    assert rows == [
        ("organism part", "kidney"),
        ("organism part", "liver"),
        ("patient's age", "42"),
    ]

    bad = tmp_path / "nofile.sdrf.tsv"
    bad.write_text("characteristics[organism]\nhuman\n")
    with pytest.raises(ValueError, match="comment\\[data file\\]"):
        read_sdrf(spark, str(bad))


def test_sdrf_backslash_names_survive_both_parser_modes(spark, tmp_path):
    """r11 advice: characteristic names reached stack() as interpolated
    SQL literal text, so a backslash ("characteristics[a\\b]") was
    mangled by escape processing and a trailing backslash ate the
    closing quote; \\' also depended on the parser mode.  Names now ride
    in as F.lit columns — exact round-trip regardless of
    spark.sql.parser.escapedStringLiterals."""
    from pride_spark.sources.tabular import read_sdrf

    p = tmp_path / "b.sdrf.tsv"
    p.write_text(
        "comment[data file]\tcharacteristics[a\\b]"
        "\tcharacteristics[trail\\]\tcharacteristics[it's \\ mixed]\n"
        "f1.raw\tv1\tv2\tv3\n"
    )
    want = [("a\\b", "v1"), ("it's \\ mixed", "v3"), ("trail\\", "v2")]
    old = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
            rows = sorted(
                (r["name"], r["value"]) for r in read_sdrf(spark, str(p)).collect()
            )
            assert rows == want, mode
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", old)
