"""CLI end-to-end: the reference's six commands, offline.

Ref command list: ``ArchiveMoleculesIndexer.java:28-30``; each subcommand
is a thin composition over the package (see ``pride_spark/cli.py``).
"""

from __future__ import annotations

import json

import pytest

from pride_spark.cli import main
from tests.test_ingest_to_index import _mgf, _mzid

FILES_PAYLOAD = [
    {
        "accession": "PXF1",
        "fileName": "result.mzid",
        "fileCategoryAccession": "PRIDE:1002847",
        "fileCategoryValue": "RESULT",
        "publicFileLocations": [
            {"accession": "PRIDE:0000469", "name": "FTP", "value": "ftp://x/result.mzid"}
        ],
        "publicationDate": "2020-05-17",
    },
    {
        "accession": "PXF2",
        "fileName": "run1.mgf",
        "fileCategoryAccession": "PRIDE:1002846",
        "fileCategoryValue": "RAW",
        "publicFileLocations": [
            {"accession": "PRIDE:0000469", "name": "FTP", "value": "ftp://x/run1.mgf"}
        ],
        "publicationDate": "2020-05-17",
    },
]


@pytest.fixture()
def project_dir(tmp_path):
    (tmp_path / "a.mzid").write_text(_mzid())
    (tmp_path / "run1.mgf").write_text(_mgf())
    (tmp_path / "files.json").write_text(json.dumps(FILES_PAYLOAD))
    return tmp_path


def _read_tsv(out):
    # r10: manifests are single named files (the reference writer shape)
    assert out.is_file()
    return out.read_text().splitlines()


def test_get_result_files(spark, project_dir):
    out = project_dir / "manifest"
    rc = main(
        [
            "get-result-files",
            "--project", "PXD777",
            "--output", str(out),
            "--files-json", str(project_dir / "files.json"),
        ]
    )
    assert rc == 0
    lines = _read_tsv(out)
    assert lines[0].split("\t") == ["name", "date", "accession", "ftp"]
    assert any("result.mzid" in l and "ftp://x/result.mzid" in l for l in lines[1:])


def test_get_related_files(spark, project_dir):
    out = project_dir / "related"
    rc = main(
        [
            "get-related-files",
            "--project", "PXD777",
            "--result-files", str(project_dir / "a.mzid"),
            "--output", str(out),
            "--files-json", str(project_dir / "files.json"),
            "--publication-date", "2020-05-17",
        ]
    )
    assert rc == 0
    lines = _read_tsv(out)
    assert lines[0].split("\t") == [
        "resultFile", "date", "referenceFile", "fileType", "ftpName", "ftp",
    ]
    # the fixture mzid's SpectraData points at run1.mgf (J2 match)
    row = next(l for l in lines[1:] if "run1.mgf" in l)
    assert "MGF" in row and "ftp://x/run1.mgf" in row


def test_index_inference_mgf_check_pipeline(spark, project_dir, tmp_path):
    outdir = tmp_path / "out"
    rc = main(
        [
            "generate-index-files",
            "--project", "PXD777",
            "--result-files", str(project_dir / "a.mzid"),
            "--spectra-files", str(project_dir / "run1.mgf"),
            "--output-dir", str(outdir),
            "--qvalue-threshold", "0.1",
            "--min-psms", "5",
            "--score-better", "lower",
        ]
    )
    assert rc == 0
    archive_glob = str(outdir / "archive_spectra")

    # spectra-json-check on the produced archive (F12 gate, all valid)
    assert main(["spectra-json-check", "--archive-json", archive_glob]) == 0

    # MGF re-export round-trip (K5)
    mgf_out = tmp_path / "export_mgf"
    assert main(
        ["generate-mgf-files", "--archive-json", archive_glob, "--output", str(mgf_out)]
    ) == 0
    text = "".join(
        p.read_text() for p in mgf_out.iterdir() if p.name.startswith("part-")
    )
    assert "BEGIN IONS" in text and "mzspec:PXD777:run1" in text

    # perform-inference with the NATIVE clustering path (no MaraCluster TSV)
    inf_out = tmp_path / "inference"
    assert main(
        [
            "perform-inference",
            "--archive-json", archive_glob,
            "--output-dir", str(inf_out),
        ]
    ) == 0
    best = [
        json.loads(l)
        for p in (inf_out / "cluster_best").iterdir()
        if p.name.startswith("part-")
        for l in p.read_text().splitlines()
    ]
    assert best and all("usi" in r for r in best)


def _read_jsonl(outdir):
    return [
        json.loads(l)
        for p in outdir.iterdir()
        if p.name.startswith("part-")
        for l in p.read_text().splitlines()
    ]


def test_run_pipeline_single_app(spark, project_dir, tmp_path):
    # §3.3: the chained DAG in ONE command must produce the same artifact
    # set as the four staged commands above
    outdir = tmp_path / "pipe"
    rc = main(
        [
            "run-pipeline",
            "--project", "PXD777",
            "--result-files", str(project_dir / "a.mzid"),
            "--spectra-files", str(project_dir / "run1.mgf"),
            "--output-dir", str(outdir),
            "--qvalue-threshold", "0.1",
            "--min-psms", "5",
            "--score-better", "lower",
            "--reference-layout",
            "--assay-accession", "abc123",
        ]
    )
    assert rc == 0
    archive = _read_jsonl(outdir / "archive_spectra")
    assert archive and all("usi" in r for r in archive)
    # --reference-layout materializes BackupUtil.java:49-79 file names
    proj = outdir / "PXD777"
    total = proj / "PXD777_abc123_ArchiveSpectrum_Total.json"
    assert total.exists()
    assert (proj / "PXD777_abc123_SummaryArchiveSpectrum.json").exists()
    assert (proj / "PXD777_abc123_ArchiveProteinEvidence.json").exists()
    batch = proj / "PXD777_run1_ArchiveSpectrum.json"
    assert batch.exists()
    # total == union of batches == the directory table's rows
    assert len(total.read_text().splitlines()) == len(archive)
    assert len(batch.read_text().splitlines()) == len(archive)
    text = "".join(
        p.read_text()
        for p in (outdir / "export.mgf").iterdir()
        if p.name.startswith("part-")
    )
    assert "BEGIN IONS" in text and "mzspec:PXD777:run1" in text
    best = _read_jsonl(outdir / "cluster_best")
    assert best and all("usi" in r for r in best)
    assert (outdir / "protein_evidence_final").exists()


def test_run_reanalysis_folder_glob(spark, tmp_path):
    """reanalysis.nf parity (reanalysis.nf:76-92): identification files
    discovered by folder glob, outputs stamped with the reanalysis
    accession — published usi carries the REANALYSIS accession while
    spectraUsi keeps the original project's
    (PrideAnalysisAssayService.java:563-571) — and SDRF characteristics
    land in sampleProperties (J6).  Two result files group PSM sets, and
    their provenance table is written as in generate-index-files."""
    folder = tmp_path / "reanalysis"
    folder.mkdir()
    (folder / "a.mzid").write_text(_mzid())
    (folder / "b.mzid").write_text(_mzid())
    (folder / "run1.mgf").write_text(_mgf())
    # SDRF names the RAW acquisition file (the realistic case) — the join
    # must match it to the run1.mgf archive rows via the extension-
    # stripped lower-cased key the reference's sample map uses
    (folder / "samples.sdrf.tsv").write_text(
        "comment[data file]\tcharacteristics[organism]\tcharacteristics[disease]\n"
        "Run1.raw\tHomo sapiens\tnone\n"
    )
    # bundled ontology dump: 'organism' resolves, 'disease' stays null —
    # the reference's per-characteristic EFO lookup
    # (PrideAnalysisAssayService.java:342-346)
    (folder / "efo.obo").write_text(
        "[Term]\nid: OBI:0100026\nname: organism\n\n"
        "[Term]\nid: EFO:0000001\nname: experimental factor\n"
    )
    outdir = tmp_path / "re_out"
    rc = main(
        [
            "run-reanalysis",
            "--project", "PXD777",
            "--reanalysis-accession", "RPXD000042",
            "--reanalysis-folder", str(folder),
            "--output-dir", str(outdir),
            "--qvalue-threshold", "0.1",
            "--min-psms", "5",
            "--score-better", "lower",
        ]
    )
    assert rc == 0
    archive = _read_jsonl(outdir / "archive_spectra")
    assert archive
    for r in archive:
        assert r["usi"].startswith("mzspec:RPXD000042:run1:")
        assert r["spectraUsi"].startswith("mzspec:PXD777:run1:")
        assert r["reanalysisAccession"] == "RPXD000042"
        names = {p["name"]: p["value"] for p in r["sampleProperties"]}
        assert names == {"organism": "Homo sapiens", "disease": "none"}
        # JSON-lines drops null fields, so use .get for the unmapped row
        terms = {
            p["name"]: (p.get("cvLabel"), p.get("accession"))
            for p in r["sampleProperties"]
        }
        assert terms["organism"] == ("OBI", "OBI:0100026")  # J10 enriched
        assert terms["disease"] == (None, None)  # unknown name: null Param
    # summary + protein outputs exist with rows
    assert _read_jsonl(outdir / "summary_spectra")
    assert _read_jsonl(outdir / "protein_evidence")
    prov = _read_jsonl(outdir / "psm_set_provenance")
    assert {r["usi"] for r in prov} == {r["usi"] for r in archive}
    assert all(r["setSize"] == 2 for r in prov)


def test_run_reanalysis_missing_inputs(tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    rc = main(
        [
            "run-reanalysis",
            "--project", "PXD777",
            "--reanalysis-accession", "RPXD000042",
            "--reanalysis-folder", str(empty),
            "--output-dir", str(tmp_path / "never"),
        ]
    )
    assert rc == 1


def _pridexml_submission(n=40):
    """Self-contained legacy PRIDE XML: mzData spectra + GelFree
    identifications whose PeptideItems reference them — the same
    score/decoy profile as the `_mzid` fixture so the FDR gates behave
    identically."""
    import base64
    import struct

    def b64(vals):
        return base64.b64encode(b"".join(struct.pack("<d", v) for v in vals)).decode()

    spectra, idents = [], []
    for i in range(n):
        spectra.append(f"""<spectrum id="{i}">
 <spectrumDesc><spectrumSettings><spectrumInstrument msLevel="2"/></spectrumSettings>
  <precursorList count="1"><precursor msLevel="1" spectrumRef="0"><ionSelection>
   <cvParam cvLabel="PSI" accession="PSI:1000040" name="MassToChargeRatio" value="{400.0 + i}"/>
   <cvParam cvLabel="PSI" accession="PSI:1000041" name="ChargeState" value="2"/>
  </ionSelection></precursor></precursorList></spectrumDesc>
 <mzArrayBinary><data precision="64" endian="little" length="2">{b64([100.0 + i, 200.0 + i])}</data></mzArrayBinary>
 <intenArrayBinary><data precision="64" endian="little" length="2">{b64([10.0, 20.0])}</data></intenArrayBinary>
</spectrum>""")
        decoy = i % 4 == 3
        acc = f"{'DECOY_' if decoy else ''}PROT{i % 5}"
        score = 0.95 if decoy else 0.9 - 0.02 * i
        idents.append(f"""<GelFreeIdentification>
 <Accession>{acc}</Accession>
 <Database>UniProt</Database>
 <PeptideItem>
  <Sequence>PEPTIDEK{chr(65 + i % 3)}</Sequence>
  <SpectrumReference>{i}</SpectrumReference>
  <additional><cvParam cvLabel="PRIDE" accession="PRIDE:0000069" name="Mascot score" value="{max(score, 0.0001)}"/></additional>
 </PeptideItem>
</GelFreeIdentification>""")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n<ExperimentCollection version="2.1">\n <Experiment>\n'
        f'  <mzData version="1.05"><spectrumList count="{n}">{"".join(spectra)}</spectrumList></mzData>\n'
        f'{"".join(idents)}\n </Experiment>\n</ExperimentCollection>'
    )


def test_run_pipeline_pride_xml_submission(spark, tmp_path):
    """r8 (verdict task 3): a legacy PRIDE XML submission — the last
    reference input format with no engine path — runs end-to-end through
    run-pipeline, serving as BOTH result and spectra file (the format is
    self-contained)."""
    p = tmp_path / "legacy.xml"
    p.write_text(_pridexml_submission())
    outdir = tmp_path / "pride_pipe"
    rc = main(
        [
            "run-pipeline",
            "--project", "PXD777",
            "--result-files", str(p),
            "--spectra-files", str(p),
            "--output-dir", str(outdir),
            "--qvalue-threshold", "0.1",
            "--min-psms", "5",
            "--score-better", "lower",
        ]
    )
    assert rc == 0
    archive = _read_jsonl(outdir / "archive_spectra")
    assert archive
    for r in archive:
        assert r["usi"].startswith("mzspec:PXD777:legacy:")
        assert r["peptideSequence"].startswith("PEPTIDEK")
    # decoys never reach the archive output
    assert all(not any(a.startswith("DECOY_") for a in r.get("proteinAccessions", [])) for r in archive)
    assert _read_jsonl(outdir / "protein_evidence")


def test_run_pipeline_merged_psm_sets(spark, project_dir, tmp_path):
    """PIA createPSMSets parity (PIAModelerService.java:111-114): a
    two-result-file submission over the same spectra auto-enables set
    grouping ('--psm-sets auto' = on iff multiple result files); the
    archive rows carry set provenance and the row count matches the
    single-file run (each identification counted once)."""
    (project_dir / "b.mzid").write_text(_mzid())  # second engine, same IDs

    single = tmp_path / "single"
    rc = main(
        [
            "run-pipeline",
            "--project", "PXD777",
            "--result-files", str(project_dir / "a.mzid"),
            "--spectra-files", str(project_dir / "run1.mgf"),
            "--output-dir", str(single),
            "--qvalue-threshold", "0.1", "--min-psms", "5",
            "--score-better", "lower",
        ]
    )
    assert rc == 0
    merged = tmp_path / "merged"
    rc = main(
        [
            "run-pipeline",
            "--project", "PXD777",
            "--result-files", str(project_dir / "a.mzid"), str(project_dir / "b.mzid"),
            "--spectra-files", str(project_dir / "run1.mgf"),
            "--output-dir", str(merged),
            "--qvalue-threshold", "0.1", "--min-psms", "5",
            "--score-better", "lower",
        ]
    )
    assert rc == 0
    rows_1 = _read_jsonl(single / "archive_spectra")
    rows_2 = _read_jsonl(merged / "archive_spectra")
    # identical identifications from the two files group into one set per
    # spectrum — same spectra survive as the single-file run
    assert {r["usi"] for r in rows_2} == {r["usi"] for r in rows_1}
    # r9 review: set provenance is its OWN output table — T1/T2 keep
    # field-name parity with the reference's records in BOTH modes
    assert "setSize" not in rows_2[0] and "setMembers" not in rows_2[0]
    prov = {r["usi"]: r for r in _read_jsonl(merged / "psm_set_provenance")}
    assert set(prov) == {r["usi"] for r in rows_2}
    assert all(r["setSize"] == 2 for r in prov.values())
    assert all(
        sorted(m["fileName"] for m in r["setMembers"]) == ["a.mzid", "b.mzid"]
        for r in prov.values()
    )
    assert all(r["engineSet"] == "MS:1002257" for r in prov.values())
    # single-file runs carry no set columns (createPSMSets=false path)
    assert "setSize" not in rows_1[0]
    import os as _os

    assert not _os.path.exists(single / "psm_set_provenance")


def test_generate_index_files_zipped_result_file(spark, tmp_path):
    """r9 (self-review): result .zip archives are staged ONCE in
    _index_outputs and the staged paths feed both the PSM reader and the
    author-protein reader — a zipped mzTab must land on the same outputs
    as the plain file, authorProperties included."""
    import os as _os
    import zipfile

    data = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), "data", "bsa_fixture")
    zpath = tmp_path / "bsa.mztab.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(_os.path.join(data, "bsa.mztab"), arcname="bsa.mztab")

    out = tmp_path / "zipped"
    rc = main([
        "generate-index-files",
        "--project", "PXBSA000",
        "--result-files", str(zpath),
        "--spectra-files", _os.path.join(data, "BSA1_F1.mzML"),
        "--output-dir", str(out),
        "--min-psms", "10",
    ])
    assert rc == 0
    rows = _read_jsonl(out / "protein_evidence")
    assert rows
    for r in rows:
        props = {p["name"]: p["value"] for p in r["authorProperties"]}
        assert props["species"] == "Bos taurus"
