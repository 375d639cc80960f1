"""S3 format readers: mzTab (text-native) and mzIdentML (executor XML)."""

from __future__ import annotations

import textwrap

from pride_spark.sources.mzid import read_mzid_psms, read_mzid_spectra_data
from pride_spark.sources.mztab import read_mztab_psms

MZTAB = (
    "MTD\tmzTab-version\t1.0.0\n"
    "MTD\tms_run[1]-location\tfile:///data/run1.mzML\n"
    "MTD\tms_run[2]-location\tfile:///data/run2.mgf\n"
    "PSH\tsequence\tPSM_ID\taccession\tunique\tsearch_engine_score[1]\t"
    "modifications\tspectra_ref\tretention_time\tcharge\texp_mass_to_charge\n"
    "PSM\tPEPTIDEK\t1\tP12345\t1\t0.001\t3-UNIMOD:21\tms_run[1]:scan=42\t55.2\t2\t445.12\n"
    "PSM\tLNGVK\t2\tQ99999\t0\tnull\tnull\tms_run[2]:index=7\tnull\t3\t512.9\n"
    "PRH\taccession\tdescription\ttaxid\tspecies\tdatabase\tdatabase_version\t"
    "best_search_engine_score[1]\tambiguity_members\tmodifications\t"
    "protein_coverage\topt_global_cv_PRIDE:0000303_decoy_hit\n"
    "PRT\tP12345\tAlbumin\t9606\tHomo sapiens\tUniProt\t2020_01\t0.002\t"
    "P12345-2,Q11111\t3-UNIMOD:21\t0.45\t0\n"
    "PRT\tDECOY_Q99999\tshuffled\tnull\tnull\tUniProt\t2020_01\tnull\tnull\t"
    "null\tnull\t1\n"
    "PEH\tsequence\taccession\tunique\tbest_search_engine_score[1]\t"
    "modifications\tretention_time\tcharge\tmass_to_charge\tspectra_ref\n"
    "PEP\tPEPTIDEK\tP12345\t1\t0.001\t3-UNIMOD:21\t55.2\t2\t445.12\tms_run[1]:scan=42\n"
    "PEP\tLNGVK\tQ99999\t0\tnull\tnull\tnull\t3\t512.9\tms_run[2]:index=7\n"
)

MZID = textwrap.dedent("""\
    <?xml version="1.0" encoding="UTF-8"?>
    <MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1">
      <SequenceCollection>
        <DBSequence id="DBSeq_1" accession="P12345"/>
        <DBSequence id="DBSeq_2" accession="DECOY_P12345"/>
        <Peptide id="Pep_1">
          <PeptideSequence>PEPTIDEK</PeptideSequence>
          <Modification location="3" monoisotopicMassDelta="79.96633">
            <cvParam accession="UNIMOD:21" name="Phospho" cvRef="UNIMOD"/>
          </Modification>
        </Peptide>
        <PeptideEvidence id="PE_1" peptide_ref="Pep_1" dBSequence_ref="DBSeq_1" isDecoy="false"/>
        <PeptideEvidence id="PE_2" peptide_ref="Pep_1" dBSequence_ref="DBSeq_2" isDecoy="true"/>
      </SequenceCollection>
      <DataCollection>
        <Inputs>
          <SpectraData id="SD_1" location="file:///data/run1.mzML">
            <SpectrumIDFormat><cvParam accession="MS:1000768" name="Thermo nativeID format"/></SpectrumIDFormat>
          </SpectraData>
        </Inputs>
        <AnalysisData>
          <SpectrumIdentificationList id="SIL_1">
            <SpectrumIdentificationResult id="SIR_1" spectrumID="controllerType=0 controllerNumber=1 scan=42" spectraData_ref="SD_1">
              <SpectrumIdentificationItem id="SII_1" rank="1" chargeState="2"
                  experimentalMassToCharge="445.12" peptide_ref="Pep_1" passThreshold="true">
                <PeptideEvidenceRef peptideEvidence_ref="PE_1"/>
                <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.001"/>
              </SpectrumIdentificationItem>
              <SpectrumIdentificationItem id="SII_2" rank="2" chargeState="2"
                  experimentalMassToCharge="445.12" peptide_ref="Pep_1" passThreshold="false">
                <PeptideEvidenceRef peptideEvidence_ref="PE_2"/>
                <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.9"/>
              </SpectrumIdentificationItem>
            </SpectrumIdentificationResult>
          </SpectrumIdentificationList>
        </AnalysisData>
      </DataCollection>
    </MzIdentML>
""")


def test_mztab_psms(spark, tmp_path):
    p = tmp_path / "a.mztab"
    p.write_text(MZTAB)
    rows = {r["psmId"]: r for r in read_mztab_psms(spark, str(p)).collect()}
    assert rows["1"]["peptideSequence"] == "PEPTIDEK"
    assert rows["1"]["proteinAccession"] == "P12345"
    assert rows["1"]["score"] == 0.001
    assert rows["1"]["msRun"] == 1 and rows["1"]["sourceId"] == "scan=42"
    assert rows["1"]["retentionTime"] == 55.2 and rows["1"]["precursorCharge"] == 2
    assert rows["2"]["score"] is None and rows["2"]["retentionTime"] is None
    assert rows["2"]["sourceId"] == "index=7" and rows["2"]["msRun"] == 2


def test_mzid_psms_and_spectra_data(spark, tmp_path):
    p = tmp_path / "a.mzid"
    p.write_text(MZID)
    psms = {r["psmId"]: r for r in read_mzid_psms(spark, [str(p)]).collect()}
    assert len(psms) == 2
    target = psms["SII_1"]
    assert target["peptideSequence"] == "PEPTIDEK"
    assert target["sourceId"].endswith("scan=42")
    assert target["proteinAccessions"] == ["P12345"]
    assert target["isDecoy"] is False and target["score"] == 0.001
    assert target["modifications"][0]["position"] == 3
    assert target["modifications"][0]["accession"] == "UNIMOD:21"
    decoy = psms["SII_2"]
    assert decoy["isDecoy"] is True
    assert decoy["proteinAccessions"] == ["DECOY_P12345"]

    sd = read_mzid_spectra_data(spark, [str(p)]).collect()
    assert len(sd) == 1
    assert sd[0]["id"] == "SD_1"
    assert sd[0]["idFormatAccession"] == "MS:1000768"


# ---------------------------------------------------------------------------
# S6 raw-spectra formats: mzML / mzXML / PKL
# ---------------------------------------------------------------------------

def _b64(arr, dtype, *, compress=False, big_endian=False):
    import base64 as b64
    import zlib

    import numpy as np

    raw = np.asarray(arr, dtype=dtype)
    if big_endian:
        raw = raw.astype(raw.dtype.newbyteorder(">"))
    buf = raw.tobytes()
    if compress:
        buf = zlib.compress(buf)
    return b64.b64encode(buf).decode()


def _mzml_fixture():
    """(xml, mz, inten) — two-spectrum mzML with empty + compressed arrays."""
    import numpy as np

    mz = [100.25, 200.5, 300.75]
    inten = [10.0, 20.0, 30.0]
    xml = f"""<?xml version="1.0" encoding="UTF-8"?>
<mzML xmlns="http://psi.hupo.org/ms/mzml">
 <run><spectrumList count="2">
  <spectrum index="0" id="scan=1" defaultArrayLength="0">
   <cvParam accession="MS:1000511" name="ms level" value="1"/>
   <scanList><scan>
     <cvParam accession="MS:1000016" name="scan start time" value="0.5" unitName="minute"/>
   </scan></scanList>
   <binaryDataArrayList count="2">
    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000576"/>
     <cvParam accession="MS:1000514" name="m/z array"/><binary></binary></binaryDataArray>
    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000576"/>
     <cvParam accession="MS:1000515" name="intensity array"/><binary></binary></binaryDataArray>
   </binaryDataArrayList>
  </spectrum>
  <spectrum index="1" id="scan=2" defaultArrayLength="3">
   <cvParam accession="MS:1000511" name="ms level" value="2"/>
   <scanList><scan>
     <cvParam accession="MS:1000016" name="scan start time" value="75.0" unitName="second"/>
   </scan></scanList>
   <precursorList><precursor><selectedIonList><selectedIon>
     <cvParam accession="MS:1000744" name="selected ion m/z" value="445.12"/>
     <cvParam accession="MS:1000041" name="charge state" value="2"/>
   </selectedIon></selectedIonList></precursor></precursorList>
   <binaryDataArrayList count="2">
    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000576"/>
     <cvParam accession="MS:1000514"/><binary>{_b64(mz, np.float64)}</binary></binaryDataArray>
    <binaryDataArray><cvParam accession="MS:1000521"/><cvParam accession="MS:1000574"/>
     <cvParam accession="MS:1000515"/><binary>{_b64(inten, np.float32, compress=True)}</binary></binaryDataArray>
   </binaryDataArrayList>
  </spectrum>
 </spectrumList></run>
</mzML>"""
    return xml, mz, inten


def test_mzml_reader(spark, tmp_path):
    from pride_spark.sources.mzml import read_mzml

    xml, mz, inten = _mzml_fixture()
    p = tmp_path / "run1.mzML"
    p.write_text(xml)
    rows = {r["spectrumId"]: r for r in read_mzml(spark, [str(p)]).collect()}
    assert len(rows) == 2
    ms1, ms2 = rows["scan=1"], rows["scan=2"]
    assert ms1["msLevel"] == 1 and ms1["numPeaks"] == 0
    assert ms1["retentionTime"] == 30.0  # 0.5 min → seconds
    assert ms1["index"] == 0 and ms2["index"] == 1
    assert ms2["msLevel"] == 2 and ms2["precursorMz"] == 445.12
    assert ms2["precursorCharge"] == 2 and ms2["retentionTime"] == 75.0
    assert ms2["masses"] == mz
    assert [round(v, 3) for v in ms2["intensities"]] == inten


def test_mzxml_reader(spark, tmp_path):
    import numpy as np

    from pride_spark.sources.mzml import read_mzxml

    pairs = [100.25, 10.0, 200.5, 20.0]  # interleaved (mz, intensity)
    xml = f"""<?xml version="1.0" encoding="UTF-8"?>
<mzXML xmlns="http://sashimi.sourceforge.net/schema_revision/mzXML_3.2">
 <msRun>
  <scan num="7" msLevel="2" retentionTime="PT90.5S" peaksCount="2">
   <precursorMz precursorCharge="3">512.9</precursorMz>
   <peaks precision="64" byteOrder="network">{_b64(pairs, np.float64, big_endian=True)}</peaks>
  </scan>
 </msRun>
</mzXML>"""
    p = tmp_path / "run1.mzXML"
    p.write_text(xml)
    rows = read_mzxml(spark, [str(p)]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["spectrumId"] == "7" and r["msLevel"] == 2
    assert r["precursorMz"] == 512.9 and r["precursorCharge"] == 3
    assert r["retentionTime"] == 90.5
    assert r["masses"] == [100.25, 200.5] and r["intensities"] == [10.0, 20.0]


def test_pkl_reader(spark, tmp_path):
    from pride_spark.sources.mzml import read_pkl

    p = tmp_path / "run1.pkl"
    p.write_text(
        "445.12 1000.0 2\n100.25 10.0\n200.5 20.0\n"
        "\n"
        "512.9 500.0 3\n300.75 30.0\n"
    )
    rows = {r["index"]: r for r in read_pkl(spark, str(p)).collect()}
    assert len(rows) == 2
    assert rows[0]["precursorMz"] == 445.12 and rows[0]["precursorCharge"] == 2
    assert rows[0]["masses"] == [100.25, 200.5]
    assert rows[0]["intensities"] == [10.0, 20.0]
    assert rows[1]["precursorMz"] == 512.9 and rows[1]["numPeaks"] == 1
    assert rows[0]["msLevel"] == 2 and rows[0]["spectrumId"] == "0"

def _pridexml_fixture():
    import numpy as np

    mz = [100.25, 200.5, 300.75]
    inten = [10.0, 20.0, 30.0]
    xml = f"""<?xml version="1.0" encoding="UTF-8"?>
<ExperimentCollection version="2.1">
 <Experiment>
  <Title>legacy submission</Title>
  <mzData version="1.05" accessionNumber="12345">
   <spectrumList count="2">
    <spectrum id="1">
     <spectrumDesc><spectrumSettings>
      <spectrumInstrument msLevel="1" mzRangeStart="100" mzRangeStop="1000"/>
     </spectrumSettings></spectrumDesc>
     <mzArrayBinary><data precision="64" endian="little" length="0"></data></mzArrayBinary>
     <intenArrayBinary><data precision="64" endian="little" length="0"></data></intenArrayBinary>
    </spectrum>
    <spectrum id="2">
     <spectrumDesc>
      <spectrumSettings>
       <spectrumInstrument msLevel="2">
        <cvParam cvLabel="PSI" accession="PSI:1000038" name="TimeInMinutes" value="1.5"/>
       </spectrumInstrument>
      </spectrumSettings>
      <precursorList count="1"><precursor msLevel="1" spectrumRef="1">
       <ionSelection>
        <cvParam cvLabel="PSI" accession="PSI:1000040" name="MassToChargeRatio" value="445.12"/>
        <cvParam cvLabel="PSI" accession="PSI:1000041" name="ChargeState" value="2"/>
       </ionSelection>
      </precursor></precursorList>
     </spectrumDesc>
     <mzArrayBinary><data precision="64" endian="little" length="3">{_b64(mz, np.float64)}</data></mzArrayBinary>
     <intenArrayBinary><data precision="32" endian="big" length="3">{_b64(inten, np.float32, big_endian=True)}</data></intenArrayBinary>
    </spectrum>
   </spectrumList>
  </mzData>
 </Experiment>
</ExperimentCollection>"""
    return xml, mz, inten


def test_pridexml_reader(spark, tmp_path):
    from pride_spark.sources.mzml import read_pridexml

    xml, mz, inten = _pridexml_fixture()
    p = tmp_path / "PRD000001.xml"
    p.write_text(xml)
    rows = {r["spectrumId"]: r for r in read_pridexml(spark, [str(p)]).collect()}
    assert len(rows) == 2
    ms1, ms2 = rows["1"], rows["2"]
    assert ms1["msLevel"] == 1 and ms1["numPeaks"] == 0
    assert ms1["index"] == 0 and ms2["index"] == 1
    assert ms1["precursorMz"] is None and ms1["retentionTime"] is None
    assert ms2["msLevel"] == 2 and ms2["precursorMz"] == 445.12
    assert ms2["precursorCharge"] == 2
    assert ms2["retentionTime"] == 90.0  # 1.5 min → seconds
    assert ms2["masses"] == mz
    assert [round(v, 3) for v in ms2["intensities"]] == inten
    assert ms2["fileName"] == "PRD000001.xml"


def test_read_spectra_any_dispatches_and_sniffs_xml(spark, tmp_path):
    from pride_spark.plans.ingest import read_spectra_any

    pride = tmp_path / "legacy.xml"
    pride.write_text(
        '<?xml version="1.0"?><ExperimentCollection><Experiment><mzData>'
        '<spectrumList count="1"><spectrum id="9"><spectrumDesc><spectrumSettings>'
        '<spectrumInstrument msLevel="2"/></spectrumSettings></spectrumDesc>'
        "</spectrum></spectrumList></mzData></Experiment></ExperimentCollection>"
    )
    rows = read_spectra_any(spark, [str(pride)]).collect()
    assert [r["spectrumId"] for r in rows] == ["9"]

    mzid = tmp_path / "result.xml"
    mzid.write_text('<?xml version="1.0"?><MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1"/>')
    import pytest

    with pytest.raises(ValueError, match="mzIdentML"):
        read_spectra_any(spark, [str(mzid)])


# ---------------------------------------------------------------------------
# S3 mzIdentML streaming parse (sources/mzid.py)
# ---------------------------------------------------------------------------

#: adversarial mzid: namespace prefix, single-quoted attrs, XML entities,
#: multi-evidence items, empty evidence lists, dangling refs, two SIRs
MZID_NASTY = textwrap.dedent("""\
    <?xml version="1.0" encoding="UTF-8"?>
    <m:MzIdentML xmlns:m="http://psidev.info/psi/pi/mzIdentML/1.1">
      <m:SequenceCollection>
        <m:DBSequence id='DBSeq_1' accession='P1&amp;2'/>
        <m:DBSequence id="DBSeq_2" accession="DECOY_P12"/>
        <m:DBSequence id="DBSeq_empty" accession=""/>
        <m:Peptide id="Pep_1">
          <m:PeptideSequence>PEPTIDEK</m:PeptideSequence>
          <m:Modification location="3" monoisotopicMassDelta="79.96633">
            <m:cvParam accession="UNIMOD:21" name="Phospho" cvRef="UNIMOD"/>
          </m:Modification>
          <m:Modification location="5">
            <m:cvParam accession="UNIMOD:4" name="Carbamidomethyl" cvRef="UNIMOD"/>
          </m:Modification>
        </m:Peptide>
        <m:Peptide id='Pep_2'><m:PeptideSequence>LNGVK</m:PeptideSequence></m:Peptide>
        <m:PeptideEvidence id="PE_1" peptide_ref="Pep_1" dBSequence_ref="DBSeq_1" isDecoy="false"/>
        <m:PeptideEvidence id="PE_2" peptide_ref="Pep_1" dBSequence_ref="DBSeq_2" isDecoy="true"/>
        <m:PeptideEvidence id="PE_3" peptide_ref="Pep_2" dBSequence_ref="DBSeq_missing"/>
        <m:PeptideEvidence id="PE_4" peptide_ref="Pep_2" dBSequence_ref="DBSeq_empty" isDecoy="false"/>
      </m:SequenceCollection>
      <m:DataCollection>
        <m:Inputs>
          <m:SpectraData id="SD_1" location="file:///data/a&amp;b.mgf">
            <m:SpectrumIDFormat><m:cvParam accession="MS:1000774" name="multiple peak list nativeID format"/></m:SpectrumIDFormat>
          </m:SpectraData>
        </m:Inputs>
        <m:AnalysisData>
          <m:SpectrumIdentificationList id="SIL_1">
            <m:SpectrumIdentificationResult id="SIR_1" spectrumID="index=0" spectraData_ref="SD_1">
              <m:SpectrumIdentificationItem id="SII_1" rank="1" chargeState="2"
                  experimentalMassToCharge="445.12" peptide_ref="Pep_1">
                <m:PeptideEvidenceRef peptideEvidence_ref="PE_2"/>
                <m:PeptideEvidenceRef peptideEvidence_ref="PE_1"/>
                <m:cvParam accession="MS:1002257" name="Comet:expectation value" value="0.001"/>
              </m:SpectrumIdentificationItem>
              <m:SpectrumIdentificationItem id="SII_2" rank="2" peptide_ref="Pep_2">
                <m:PeptideEvidenceRef peptideEvidence_ref="PE_3"/>
                <m:PeptideEvidenceRef peptideEvidence_ref="PE_4"/>
              </m:SpectrumIdentificationItem>
            </m:SpectrumIdentificationResult>
            <m:SpectrumIdentificationResult id="SIR_2" spectrumID="index=1" spectraData_ref="SD_1">
              <m:SpectrumIdentificationItem id="SII_3" rank="1" peptide_ref="Pep_missing">
              </m:SpectrumIdentificationItem>
            </m:SpectrumIdentificationResult>
          </m:SpectrumIdentificationList>
        </m:AnalysisData>
      </m:DataCollection>
    </m:MzIdentML>
""")


def _canon_psms(df):
    rows = [r.asDict(recursive=True) for r in df.collect()]
    for r in rows:
        r["modifications"] = tuple(tuple(m.values()) for m in r["modifications"])
        r["proteinAccessions"] = tuple(r["proteinAccessions"])
    return sorted(rows, key=lambda r: (r["fileName"], r["psmId"]))


def test_mzid_adversarial_fixture_rows(spark, tmp_path):
    """Entities, quote styles, namespace prefixes, evidence order,
    dangling refs and empty-evidence items, across two files."""
    pa, pb = tmp_path / "a.mzid", tmp_path / "b.mzid"
    pa.write_text(MZID)
    pb.write_text(MZID_NASTY)
    paths = [str(pa), str(pb)]
    rows = _canon_psms(read_mzid_psms(spark, paths))
    assert len(rows) == 5

    by_id = {r["psmId"]: r for r in rows if r["fileName"] == "b.mzid"}
    # accessions keep the item's evidence order (PE_2 first); decoy is the OR
    assert by_id["SII_1"]["proteinAccessions"] == ("DECOY_P12", "P1&2")
    assert by_id["SII_1"]["isDecoy"] is True
    assert [m[0] for m in by_id["SII_1"]["modifications"]] == [3, 5]
    # dangling dbseq ref + empty accession: dropped from accs, decoy=False
    assert by_id["SII_2"]["proteinAccessions"] == ()
    assert by_id["SII_2"]["isDecoy"] is False
    # dangling peptide ref: empty sequence, no mods
    assert by_id["SII_3"]["peptideSequence"] == ""
    assert by_id["SII_3"]["modifications"] == ()

    sd = sorted(map(tuple, read_mzid_spectra_data(spark, paths).collect()))
    assert ("b.mzid", "SD_1", "file:///data/a&b.mgf", "MS:1000774") in sd
    assert len(sd) == 2


_SEQUENCES = MZID_NASTY[
    MZID_NASTY.index("  <m:SequenceCollection>"):MZID_NASTY.index("  <m:DataCollection>")
]
#: MZID_NASTY with its SequenceCollection after the DataCollection, so
#: every peptide and evidence ref points forward in the document
MZID_DATA_FIRST = MZID_NASTY.replace(_SEQUENCES, "").replace(
    "  </m:DataCollection>\n", "  </m:DataCollection>\n" + _SEQUENCES
)


def test_mzid_sequence_collection_after_data_collection(spark, tmp_path):
    """Refs resolve once the file ends, so section order does not matter:
    the rows equal those of a whole-document parse."""
    p = tmp_path / "data_first.mzid"
    p.write_text(MZID_DATA_FIRST)
    assert MZID_DATA_FIRST.index("<m:DataCollection>") < MZID_DATA_FIRST.index(
        "<m:SequenceCollection>"
    )
    rows = {
        r["psmId"]: (
            r["peptideSequence"],
            r["modifications"],
            r["proteinAccessions"],
            r["isDecoy"],
        )
        for r in _canon_psms(read_mzid_psms(spark, [str(p)]))
    }
    assert rows == {
        "SII_1": (
            "PEPTIDEK",
            ((3, "UNIMOD:21", "Phospho"), (5, "UNIMOD:4", "Carbamidomethyl")),
            ("DECOY_P12", "P1&2"),
            True,
        ),
        "SII_2": ("LNGVK", (), (), False),
        "SII_3": ("", (), (), False),
    }
    sd = [tuple(r) for r in read_mzid_spectra_data(spark, [str(p)]).collect()]
    assert sd == [("data_first.mzid", "SD_1", "file:///data/a&b.mgf", "MS:1000774")]


def test_mzml_reader_gzipped(spark, tmp_path):
    """The Python XML kernels decompress .gz inputs themselves (the
    codec layer only covers JVM text reads)."""
    import gzip

    from pride_spark.sources.mzml import read_mzml

    xml, mz, _inten = _mzml_fixture()
    p = tmp_path / "run1.mzML.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(xml)
    rows = {r["spectrumId"]: r for r in read_mzml(spark, [str(p)]).collect()}
    assert len(rows) == 2 and rows["scan=2"]["masses"] == mz


def test_mzid_reader_gzipped(spark, tmp_path):
    import gzip

    p = tmp_path / "a.mzid.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(MZID)
    psms = {r["psmId"]: r for r in read_mzid_psms(spark, [str(p)]).collect()}
    assert len(psms) == 2 and psms["SII_1"]["peptideSequence"] == "PEPTIDEK"


def _mzxml_nested(n_ms1: int, peaks_per_scan: int = 4) -> str:
    """Synthetic mzXML with ms2 scans NESTED inside each ms1 parent and a
    trailing scan-offset <index> (the element the bounded parser must not
    retain)."""
    import numpy as np

    scans, num, offsets = [], 0, []
    for _ in range(n_ms1):
        num += 1
        ms1 = num
        pairs1 = [float(v) for p in range(peaks_per_scan) for v in (100.0 + ms1 + p, 10.0 * (p + 1))]
        num += 1
        ms2 = num
        pairs2 = [float(v) for p in range(peaks_per_scan) for v in (200.0 + ms2 + p, 5.0 * (p + 1))]
        scans.append(
            f'<scan num="{ms1}" msLevel="1" retentionTime="PT{ms1}.0S" peaksCount="{peaks_per_scan}">\n'
            f'<peaks precision="64" byteOrder="network">{_b64(pairs1, "float64", big_endian=True)}</peaks>\n'
            f'<scan num="{ms2}" msLevel="2" retentionTime="PT{ms2}.0S" peaksCount="{peaks_per_scan}">\n'
            f'<precursorMz precursorCharge="2">{400.0 + ms2}</precursorMz>\n'
            f'<peaks precision="64" byteOrder="network">{_b64(pairs2, "float64", big_endian=True)}</peaks>\n'
            f"</scan>\n</scan>"
        )
        offsets.append(f'<offset id="{ms1}">123456</offset>')
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<mzXML xmlns="http://sashimi.sourceforge.net/schema_revision/mzXML_3.2">\n'
        "<msRun>\n" + "\n".join(scans) + "\n</msRun>\n"
        '<index name="scan">\n' + "\n".join(offsets) + "\n</index>\n"
        "</mzXML>"
    )


def test_mzxml_nested_scans_rows(spark, tmp_path):
    """Nested ms2 scans yield their own rows; the ms1 parent's peaks are
    NOT contaminated by the nested child's payload."""
    from pride_spark.sources.mzml import read_mzxml

    p = tmp_path / "nested.mzXML"
    p.write_text(_mzxml_nested(3))
    rows = {r["spectrumId"]: r for r in read_mzxml(spark, [str(p)]).collect()}
    assert len(rows) == 6
    ms1, ms2 = rows["1"], rows["2"]
    # end-event order: the nested ms2 closes before its ms1 parent
    assert ms2["index"] == 0 and ms1["index"] == 1
    assert ms1["msLevel"] == 1 and ms1["precursorMz"] is None
    assert ms1["masses"][0] == 101.0  # ms1's OWN peaks, not the child's
    assert ms2["msLevel"] == 2 and ms2["precursorMz"] == 402.0
    assert ms2["masses"][0] == 202.0


def test_mzxml_iterparse_memory_bounded(tmp_path):
    """RSS stays flat on a large file: the parser's retained Python-object
    memory must be a small constant multiple of ONE scan, not of the
    file.  (Round-4 ceiling: cleared-scan husks and the trailing <index>
    accumulated under msRun/root for the whole parse.)"""
    import tracemalloc

    from pride_spark.sources.mzml import _mzxml_spectra

    big = tmp_path / "big.mzXML"
    n_ms1 = 400
    big.write_text(_mzxml_nested(n_ms1, peaks_per_scan=64))
    file_bytes = big.stat().st_size

    tracemalloc.start()
    n = 0
    base = 0
    for row in _mzxml_spectra(str(big), "big.mzXML"):
        n += 1
        if n == 5:
            base = tracemalloc.get_traced_memory()[0]
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert n == 2 * n_ms1
    # peak retained memory well under the file size (whole-DOM would be
    # >= file_bytes); allow generous slack for parser internals
    assert peak < base + file_bytes / 4, (peak, base, file_bytes)


def test_mztab_proteins_and_peptides(spark, tmp_path):
    """PRT/PEP pass-through fidelity (PIAModelerService.java:162-189
    consumes full mzTab, author protein/peptide rows included)."""
    from pride_spark.sources.mztab import read_mztab_peptides, read_mztab_proteins

    p = tmp_path / "a.mztab"
    p.write_text(MZTAB)

    prots = {r["accession"]: r for r in read_mztab_proteins(spark, str(p)).collect()}
    assert set(prots) == {"P12345", "DECOY_Q99999"}
    alb = prots["P12345"]
    assert alb["description"] == "Albumin" and alb["taxid"] == 9606
    assert alb["species"] == "Homo sapiens"
    assert alb["database"] == "UniProt" and alb["databaseVersion"] == "2020_01"
    assert alb["bestSearchEngineScore"] == 0.002
    assert alb["ambiguityMembers"] == ["P12345-2", "Q11111"]
    assert alb["proteinCoverage"] == 0.45 and alb["isDecoy"] is False
    dec = prots["DECOY_Q99999"]
    assert dec["isDecoy"] is True and dec["taxid"] is None
    assert dec["bestSearchEngineScore"] is None and dec["ambiguityMembers"] == []

    peps = {r["peptideSequence"]: r for r in read_mztab_peptides(spark, str(p)).collect()}
    assert set(peps) == {"PEPTIDEK", "LNGVK"}
    pk = peps["PEPTIDEK"]
    assert pk["proteinAccession"] == "P12345" and pk["unique"] is True
    assert pk["bestSearchEngineScore"] == 0.001 and pk["retentionTime"] == 55.2
    assert pk["precursorCharge"] == 2 and pk["massToCharge"] == 445.12
    assert pk["msRun"] == 1 and pk["sourceId"] == "scan=42"
    lv = peps["LNGVK"]
    assert lv["unique"] is False and lv["retentionTime"] is None
    assert lv["msRun"] == 2 and lv["sourceId"] == "index=7"


def test_apl_reader_mgf_parity(spark, tmp_path):
    """S6/S8 — APL (Andromeda peak list) parity with MGF on a converted
    fixture: same spectra written in both formats must produce identical
    canonical rows (modulo spectrumId text and APL's absent retention
    time).  Closes the reference's own gap: dispatch recognizes APL
    (SubmissionPipelineUtils.java:130-147, MS:1002996) but
    JmzReaderSpectrumService.java:40-55 ships no reader for it."""
    from pride_spark.sources.apl import read_apl
    from pride_spark.sources.mgf import read_mgf

    spectra = [
        (445.12, 2, [100.25, 200.5, 300.75], [10.0, 20.0, 30.0]),
        (512.9, 3, [150.1, 250.2], [5.5, 7.75]),
    ]
    mgf_lines, apl_lines = [], []
    for i, (pmz, z, mz, inten) in enumerate(spectra):
        peaks = "".join(f"{m}\t{x}\n" for m, x in zip(mz, inten))
        mgf_lines.append(
            f"BEGIN IONS\nTITLE=spec{i}\nPEPMASS={pmz}\nCHARGE={z}+\n{peaks}END IONS\n"
        )
        apl_lines.append(
            f"peaklist start\nmz={pmz}\nfragmentation=HCD\ncharge={z}\n"
            f"header=RawFile: run1 Index: {i}\n{peaks}peaklist end\n\n"
        )
    (tmp_path / "run1.mgf").write_text("".join(mgf_lines))
    (tmp_path / "run1.apl").write_text("".join(apl_lines))

    mgf = read_mgf(spark, str(tmp_path / "run1.mgf")).orderBy("index").collect()
    apl = read_apl(spark, str(tmp_path / "run1.apl")).orderBy("index").collect()
    assert [r.asDict() for r in mgf] and len(mgf) == len(apl) == 2
    assert read_mgf(spark, str(tmp_path / "run1.mgf")).columns == read_apl(
        spark, str(tmp_path / "run1.apl")
    ).columns
    for m, a in zip(mgf, apl):
        assert a["index"] == m["index"] and a["msLevel"] == m["msLevel"] == 2
        assert a["precursorMz"] == m["precursorMz"]
        assert a["precursorCharge"] == m["precursorCharge"]
        assert a["masses"] == m["masses"] and a["intensities"] == m["intensities"]
        assert a["numPeaks"] == m["numPeaks"]
        assert a["spectrumId"] == f"RawFile: run1 Index: {a['index']}"
        assert a["retentionTime"] is None


def test_apl_through_read_spectra_any(spark, tmp_path):
    from pride_spark.plans.ingest import read_spectra_any

    (tmp_path / "x.apl").write_text(
        "peaklist start\nmz=445.12\ncharge=2\nheader=RawFile: r Index: 0\n"
        "100.25\t10.0\npeaklist end\n"
    )
    rows = read_spectra_any(spark, [str(tmp_path / "x.apl")]).collect()
    assert len(rows) == 1 and rows[0]["fileName"] == "x.apl"
    assert rows[0]["masses"] == [100.25]


def test_mztab_mod_with_cv_param_position(spark, tmp_path):
    """r8 (ADVICE): mzTab mod positions may carry a bracketed CV-param
    qualifier ("3[MS,MS:1001876,probability,0.8]-UNIMOD:21", also on each
    arm of an ambiguous list) — the accession must still be extracted."""
    from pride_spark.plans.ingest import read_psms_any

    tab = (
        "MTD\tmzTab-version\t1.0.0\n"
        "MTD\tms_run[1]-location\tfile:///data/run1.mzML\n"
        "PSH\tsequence\tPSM_ID\taccession\tunique\tsearch_engine_score[1]\t"
        "modifications\tspectra_ref\tretention_time\tcharge\texp_mass_to_charge\n"
        "PSM\tPEPTIDEK\t1\tP12345\t1\t0.001\t"
        "3[MS,MS:1001876,probability,0.8]-UNIMOD:21\tms_run[1]:scan=42\t55.2\t2\t445.12\n"
        "PSM\tLNGVK\t2\tQ99999\t0\t0.2\t"
        "2[MS,MS:1001876,probability,0.6]|4[MS,MS:1001876,probability,0.4]-UNIMOD:35,"
        "1-UNIMOD:4\tms_run[1]:scan=43\t12.0\t3\t512.9\n"
    )
    p = tmp_path / "cvmod.mztab"
    p.write_text(tab)
    rows = {r["psmId"]: r for r in read_psms_any(spark, [str(p)]).collect()}
    m1 = rows["1"]["modifications"]
    assert [(m["position"], m["accession"]) for m in m1] == [(3, "UNIMOD:21")]
    m2 = rows["2"]["modifications"]
    assert [(m["position"], m["accession"]) for m in m2] == [
        (2, "UNIMOD:35"),
        (1, "UNIMOD:4"),
    ]


def _pridexml_with_idents():
    """The spectra fixture + GelFree/TwoDimensional identifications —
    PeptideItems reference mzData spectrum 2 (the MS2 scan)."""
    xml, mz, inten = _pridexml_fixture()
    idents = """  <GelFreeIdentification>
   <Accession>P12345</Accession>
   <Database>UniProt</Database>
   <PeptideItem>
    <Sequence>PEPTIDEK</Sequence>
    <Start>5</Start>
    <End>12</End>
    <SpectrumReference>2</SpectrumReference>
    <ModificationItem>
     <ModLocation>3</ModLocation>
     <ModAccession>MOD:00696</ModAccession>
     <ModDatabase>MOD</ModDatabase>
     <additional>
      <cvParam cvLabel="MOD" accession="MOD:00696" name="phosphorylated residue" value=""/>
     </additional>
    </ModificationItem>
    <additional>
     <cvParam cvLabel="PRIDE" accession="PRIDE:0000069" name="Mascot score" value="55.2"/>
    </additional>
   </PeptideItem>
   <Score>123.0</Score>
   <SearchEngine>Mascot</SearchEngine>
  </GelFreeIdentification>
  <TwoDimensionalIdentification>
   <Accession>DECOY_Q99999</Accession>
   <Database>UniProt</Database>
   <PeptideItem>
    <Sequence>LNGVK</Sequence>
    <SpectrumReference>1</SpectrumReference>
   </PeptideItem>
   <Score>7.5</Score>
  </TwoDimensionalIdentification>
 </Experiment>"""
    return xml.replace(" </Experiment>", idents)


def test_pridexml_psms_reader(spark, tmp_path):
    """S3 (r8): legacy PRIDE XML identifications land on the SAME
    canonical psms frame as mzid/mzTab — precursor mz/charge resolved
    from the referenced embedded mzData spectrum, Mascot-score cvParam
    preferred over the identification Score, PRIDE decoy conventions."""
    from pride_spark.sources.pridexml import read_pridexml_psms

    p = tmp_path / "legacy.xml"
    p.write_text(_pridexml_with_idents())
    rows = {r["sourceId"]: r for r in read_pridexml_psms(spark, [str(p)]).collect()}
    assert set(rows) == {"1", "2"}

    r2 = rows["2"]  # GelFree PeptideItem -> MS2 spectrum with precursor
    assert r2["peptideSequence"] == "PEPTIDEK"
    assert r2["proteinAccessions"] == ["P12345"]
    assert r2["precursorCharge"] == 2 and r2["massToCharge"] == 445.12
    assert r2["score"] == 55.2 and r2["scoreAccession"] == "PRIDE:0000069"
    assert r2["isDecoy"] is False and r2["rank"] == 1
    assert [(m["position"], m["accession"], m["name"]) for m in r2["modifications"]] == [
        (3, "MOD:00696", "phosphorylated residue")
    ]

    r1 = rows["1"]  # TwoDimensional item: no cvParam score -> ident Score
    assert r1["peptideSequence"] == "LNGVK"
    assert r1["isDecoy"] is True  # DECOY_ accession prefix
    assert r1["score"] == 7.5 and r1["scoreAccession"] is None
    assert r1["precursorCharge"] is None  # MS1 spectrum has no precursor


def test_pridexml_through_read_psms_any(spark, tmp_path):
    """Dispatch parity: a bare .xml RESULT file is content-sniffed
    (SubmissionPipelineUtils.java:403-421) and a PRIDE document routes
    to the PRIDE XML reader; schema identical to the mzid frame."""
    from pride_spark.plans.ingest import read_psms_any
    from pride_spark.sources.mzid import MZID_PSM_SCHEMA

    p = tmp_path / "legacy.pride.xml"
    p.write_text(_pridexml_with_idents())
    out = read_psms_any(spark, [str(p)])
    assert out.schema == MZID_PSM_SCHEMA
    assert out.count() == 2


def test_pridexml_psms_document_order(spark, tmp_path):
    """A 40-identification file: psmIds number the PeptideItems in
    document order, and every item's precursor resolves from the mzData
    spectrum it references."""
    from pride_spark.sources.pridexml import read_pridexml_psms
    from tests.test_cli import _pridexml_submission

    p = tmp_path / "big_legacy.xml"
    p.write_text(_pridexml_submission(40))
    rows = {r["psmId"]: r for r in read_pridexml_psms(spark, [str(p)]).collect()}
    assert sorted(rows) == sorted(f"PSM_{i + 1}" for i in range(40))
    for i in range(40):
        r = rows[f"PSM_{i + 1}"]
        assert r["sourceId"] == str(i)
        assert (r["massToCharge"], r["precursorCharge"]) == (400.0 + i, 2)


def test_read_psms_any_mixed_formats(spark, tmp_path):
    """One submission mixing all three result formats (mzid + mzTab +
    PRIDE XML) must union onto the single canonical frame — the
    format-blind contract everything downstream relies on."""
    from pride_spark.plans.ingest import read_psms_any
    from pride_spark.sources.mzid import MZID_PSM_SCHEMA

    (tmp_path / "a.mzid").write_text(MZID)
    (tmp_path / "b.mztab").write_text(MZTAB)
    (tmp_path / "c.xml").write_text(_pridexml_with_idents())
    out = read_psms_any(
        spark,
        [str(tmp_path / "a.mzid"), str(tmp_path / "b.mztab"), str(tmp_path / "c.xml")],
    )
    assert out.schema == MZID_PSM_SCHEMA
    by_file = {
        r["fileName"]: r["n"]
        for r in out.groupBy("fileName").count().withColumnRenamed("count", "n").collect()
    }
    assert by_file == {"a.mzid": 2, "b.mztab": 2, "c.xml": 2}


def test_mzidentml_extension_alias(spark, tmp_path):
    """'.mzidentml' routes as MZID (SubmissionPipelineUtils.java:107)."""
    from pride_spark.plans.ingest import read_psms_any

    (tmp_path / "a.mzidentml").write_text(MZID)
    assert read_psms_any(spark, [str(tmp_path / "a.mzidentml")]).count() == 2


def test_read_psms_any_gzipped_xml_sniffs_through_gzip(spark, tmp_path):
    """r9 (ADVICE): _ext strips .gz, so a gzipped result file named
    ident.xml.gz reaches the content sniff — the sniff must read
    DECOMPRESSED bytes (via xmlstream.open_xml), else gzip garbage
    misroutes an mzIdentML to the PRIDE XML reader (silent zero PSMs)."""
    import gzip

    from pride_spark.plans.ingest import read_psms_any

    mz = tmp_path / "ident.xml.gz"
    with gzip.open(mz, "wt") as fh:
        fh.write(MZID)
    px = tmp_path / "legacy.xml.gz"
    with gzip.open(px, "wt") as fh:
        fh.write(_pridexml_with_idents())
    out = read_psms_any(spark, [str(mz), str(px)])
    by_file = {
        r["fileName"]: r["n"]
        for r in out.groupBy("fileName").count().withColumnRenamed("count", "n").collect()
    }
    # each routes to its own reader and parses its 2 identifications
    assert by_file == {"ident.xml.gz": 2, "legacy.xml.gz": 2}


def test_read_spectra_any_gzipped_xml_sniffs_through_gzip(spark, tmp_path):
    """r9 (ADVICE): same gzip-aware sniff on the spectra-side guard — a
    gzipped PRIDE XML spectra file passes, a gzipped mzIdentML-in-.xml
    is rejected as a result file (not silently parsed as spectra)."""
    import gzip

    import pytest as _pytest

    from pride_spark.plans.ingest import read_spectra_any

    xml, _, _ = _pridexml_fixture()
    px = tmp_path / "spectra.xml.gz"
    with gzip.open(px, "wt") as fh:
        fh.write(xml)
    assert read_spectra_any(spark, [str(px)]).count() == 2

    mz = tmp_path / "notspectra.xml.gz"
    with gzip.open(mz, "wt") as fh:
        fh.write(MZID)
    with _pytest.raises(ValueError, match="result file"):
        read_spectra_any(spark, [str(mz)])


def test_pridexml_decoy_any_of_cv_lists(spark, tmp_path):
    """r9 (ADVICE): a peptide-level PRIDE:0000303 decoy param with value
    '0' must not short-circuit past an identification-level affirmative
    decoy param — the lists are any-of."""
    from pride_spark.sources.pridexml import read_pridexml_psms

    xml, _, _ = _pridexml_fixture()
    ident = """  <GelFreeIdentification>
   <Accession>P77777</Accession>
   <PeptideItem>
    <Sequence>DECOYPEP</Sequence>
    <SpectrumReference>2</SpectrumReference>
    <ModificationItem>
     <ModLocation> not-a-number </ModLocation>
     <ModAccession>MOD:00696</ModAccession>
    </ModificationItem>
    <additional>
     <cvParam cvLabel="PRIDE" accession="PRIDE:0000303" name="Decoy hit" value="0"/>
    </additional>
   </PeptideItem>
   <Score>9.9</Score>
   <additional>
    <cvParam cvLabel="PRIDE" accession="PRIDE:0000303" name="Decoy hit" value="1"/>
   </additional>
  </GelFreeIdentification>
 </Experiment>"""
    p = tmp_path / "decoy.xml"
    p.write_text(xml.replace(" </Experiment>", ident))
    rows = read_pridexml_psms(spark, [str(p)]).collect()
    assert len(rows) == 1
    assert rows[0]["isDecoy"] is True  # identification-level param wins
    # r9 (ADVICE): malformed ModLocation text degrades to a null position
    # instead of aborting the file's parse task
    assert [(m["position"], m["accession"]) for m in rows[0]["modifications"]] == [
        (None, "MOD:00696")
    ]


def test_mgf_third_peak_column_and_global_headers(spark, tmp_path):
    """r9 review + r10 advice: Mascot-MGF features — an optional third
    (charge) peak column must not silently drop every peak; CHARGE before
    the first BEGIN IONS is a file-wide default that LOCAL values
    override; TITLE/PEPMASS/RTINSECONDS are per-query-only keys, so a
    stray preamble line must NOT propagate to blocks lacking them."""
    from pride_spark.sources.mgf import read_mgf

    p = tmp_path / "mascot.mgf"
    p.write_text(
        "CHARGE=2+ and 3+\n"            # global default (spec-sanctioned)
        "RTINSECONDS=7.5\n"             # stray: RT is per-query only
        "BEGIN IONS\n"
        "TITLE=s0\nPEPMASS=445.12\nCHARGE=3+\nRTINSECONDS=12.5\n"
        "100.25 10.0 1+\n"              # 3-column peak line
        "200.5 20.0\n"
        "END IONS\n"
        "BEGIN IONS\n"
        "TITLE=s1\nPEPMASS=512.9\n"     # no local CHARGE → global applies
        "300.75 30.0 2\n"
        "END IONS\n"
    )
    rows = {r["index"]: r for r in read_mgf(spark, str(p)).collect()}
    assert rows[0]["masses"] == [100.25, 200.5]
    assert rows[0]["intensities"] == [10.0, 20.0]
    assert rows[0]["precursorCharge"] == 3      # local beats global
    assert rows[0]["retentionTime"] == 12.5     # local value
    assert rows[1]["masses"] == [300.75]
    assert rows[1]["precursorCharge"] == 2      # global default (CHARGE only)
    assert rows[1]["retentionTime"] is None     # stray preamble RT ignored


def test_pkl_reader_crlf(spark, tmp_path):
    """r9 review: CRLF PKL files (legacy Micromass/Windows) must split
    into blocks — lineSep '\\n\\n' alone never fires on \\r\\n\\r\\n."""
    from pride_spark.sources.mzml import read_pkl

    p = tmp_path / "crlf.pkl"
    p.write_bytes(
        b"445.12 1000.0 2\r\n100.25 10.0\r\n200.5 20.0\r\n"
        b"\r\n"
        b"512.9 500.0 3\r\n300.75 30.0\r\n"
    )
    rows = {r["index"]: r for r in read_pkl(spark, str(p)).collect()}
    assert len(rows) == 2
    assert rows[0]["precursorMz"] == 445.12 and rows[0]["masses"] == [100.25, 200.5]
    assert rows[1]["precursorMz"] == 512.9 and rows[1]["numPeaks"] == 1


def test_open_xml_uppercase_gz(spark, tmp_path):
    """r9 review: .GZ routes through gzip like the dispatcher's
    case-insensitive extension routing (it was parsed as raw bytes)."""
    import gzip as _gzip

    from pride_spark.sources.xmlstream import open_xml

    p = tmp_path / "TINY.XML.GZ"
    p.write_bytes(_gzip.compress(b"<root><a>1</a></root>"))
    with open_xml(str(p)) as fh:
        assert b"<root>" in fh.read()


def test_mzml_empty_selected_ion_and_multi_codec_refused(spark, tmp_path):
    """r9 review: value-less selectedIon cvParams are skipped; r11: an
    array declaring TWO numpress codecs is ambiguous and refused."""
    import base64
    import struct

    import pytest as _pytest

    from pride_spark.sources.mzml import read_mzml

    peaks = base64.b64encode(struct.pack("<2d", 100.25, 200.5)).decode()
    inten = base64.b64encode(struct.pack("<2d", 10.0, 20.0)).decode()

    def spectrum(extra_cv: str) -> str:
        return f"""<spectrum index="0" id="s0" defaultArrayLength="2">
  <cvParam accession="MS:1000511" value="2"/>
  <precursorList count="1"><precursor><selectedIonList count="1"><selectedIon>
    <cvParam accession="MS:1000744" value=""/>
    <cvParam accession="MS:1000041" value="2"/>
  </selectedIon></selectedIonList></precursor></precursorList>
  <binaryDataArrayList count="2">
    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000514"/>{extra_cv}
      <binary>{peaks}</binary></binaryDataArray>
    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000515"/>
      <binary>{inten}</binary></binaryDataArray>
  </binaryDataArrayList>
</spectrum>"""

    def mzml(body: str) -> str:
        return (
            '<?xml version="1.0"?><mzML><run><spectrumList count="1">'
            + body
            + "</spectrumList></run></mzML>"
        )

    ok = tmp_path / "ok.mzml"
    ok.write_text(mzml(spectrum("")))
    rows = read_mzml(spark, str(ok)).collect()
    assert len(rows) == 1
    assert rows[0]["precursorMz"] is None          # empty value skipped
    assert rows[0]["precursorCharge"] == 2
    assert rows[0]["masses"] == [100.25, 200.5]

    bad = tmp_path / "twocodec.mzml"
    bad.write_text(mzml(spectrum(
        '<cvParam accession="MS:1002312"/><cvParam accession="MS:1002314"/>'
    )))
    with _pytest.raises(Exception, match="multiple numpress codecs"):
        read_mzml(spark, str(bad)).collect()


def test_numpress_codec_roundtrips():
    """r11 verdict task #1 — the three MS-Numpress codecs round-trip
    within their published tolerances, including edge shapes."""
    import numpy as np
    import pytest as _pytest

    from pride_spark.sources import numpress as npz

    rng = np.random.default_rng(11)
    mz = np.sort(rng.uniform(100, 2000, 4000))
    enc = npz.encode_linear(mz)
    fp = npz.optimal_linear_fixed_point(mz)
    dec = npz.decode_linear(enc)
    assert dec.shape == mz.shape
    # linear is lossy only by fixed-point rounding: |err| <= 0.5/fp
    assert np.abs(dec - mz).max() <= 0.5 / fp + 1e-12
    # ~3.5 bytes/value vs 8 raw — the point of the codec
    assert len(enc) < mz.size * 5

    # edge shapes: empty / one / two values, constant run (all-zero diffs)
    for arr in ([], [500.0], [500.0, 500.1], [100.0] * 5):
        a = np.asarray(arr, dtype=np.float64)
        d = npz.decode_linear(npz.encode_linear(a))
        assert d.shape == a.shape
        if a.size:
            assert np.abs(d - a).max() < 1e-3

    # pic: exact for integral counts, incl. full-width 8-nibble values
    counts = np.array([0.0, 1.0, 2**31 - 1.0, 0.0, 2**30, 7.0])
    assert np.array_equal(npz.decode_pic(npz.encode_pic(counts)), counts)
    assert npz.decode_pic(npz.encode_pic([])).size == 0

    # slof: relative tolerance from the unsigned-short log grid
    inten = rng.exponential(1e5, 4000)
    rel = np.abs(npz.decode_slof(npz.encode_slof(inten)) - inten) / (inten + 1)
    assert rel.max() < 1e-3
    assert npz.decode_slof(npz.encode_slof([])).size == 0

    # corrupt payloads fail loudly, never silently mis-decode
    with _pytest.raises(npz.NumpressError):
        npz.decode_linear(npz.encode_linear(mz)[:10])       # torn header
    with _pytest.raises(npz.NumpressError):
        npz.decode_slof(npz.encode_slof(inten)[:11])        # odd body
    with _pytest.raises(npz.NumpressError):
        npz.decode_pic(bytes([0x0F]))                        # short int body


def test_mzml_numpress_twin_parity(spark, tmp_path):
    """r11 verdict task #1 done-criterion: a numpress-compressed twin of
    the mzML fixture reads with array-level parity to its uncompressed
    twin, for all three codecs AND the three numpress+zlib combined
    accessions."""
    import base64
    import zlib as _zlib

    import numpy as np

    from pride_spark.sources import numpress as npz
    from pride_spark.sources.mzml import read_mzml

    rng = np.random.default_rng(3)
    mz = np.sort(rng.uniform(100, 2000, 500))
    inten = rng.exponential(1e4, 500)

    def b64(raw: bytes, deflate: bool) -> str:
        return base64.b64encode(_zlib.compress(raw) if deflate else raw).decode()

    def spectrum(idx, sid, mz_cv, mz_payload, in_cv, in_payload):
        return f"""<spectrum index="{idx}" id="{sid}" defaultArrayLength="{mz.size}">
  <cvParam accession="MS:1000511" value="2"/>
  <binaryDataArrayList count="2">
    <binaryDataArray><cvParam accession="{mz_cv}"/><cvParam accession="MS:1000514"/>
      <binary>{mz_payload}</binary></binaryDataArray>
    <binaryDataArray><cvParam accession="{in_cv}"/><cvParam accession="MS:1000515"/>
      <binary>{in_payload}</binary></binaryDataArray>
  </binaryDataArrayList>
</spectrum>"""

    lin, pic, slof = npz.encode_linear(mz), npz.encode_pic(inten), npz.encode_slof(inten)
    plain_mz = base64.b64encode(mz.astype("<f8").tobytes()).decode()
    plain_in = base64.b64encode(inten.astype("<f8").tobytes()).decode()
    spectra = [
        spectrum(0, "plain", "MS:1000523", plain_mz, "MS:1000523", plain_in),
        spectrum(1, "np", "MS:1002312", b64(lin, False), "MS:1002313", b64(pic, False)),
        spectrum(2, "np_slof", "MS:1000523", plain_mz, "MS:1002314", b64(slof, False)),
        spectrum(3, "npz", "MS:1002746", b64(lin, True), "MS:1002747", b64(pic, True)),
        spectrum(4, "npz_slof", "MS:1000523", plain_mz, "MS:1002748", b64(slof, True)),
    ]
    xml = (
        '<?xml version="1.0"?><mzML><run><spectrumList count="5">'
        + "".join(spectra)
        + "</spectrumList></run></mzML>"
    )
    p = tmp_path / "numpress.mzML"
    p.write_text(xml)

    rows = {r["spectrumId"]: r for r in read_mzml(spark, str(p)).collect()}
    assert len(rows) == 5
    ref_mz = np.asarray(rows["plain"]["masses"])
    ref_in = np.asarray(rows["plain"]["intensities"])
    fp = npz.optimal_linear_fixed_point(mz)
    for sid in ("np", "npz"):
        got = rows[sid]
        assert got["numPeaks"] == mz.size
        # linear m/z: parity within the fixed-point grid
        assert np.abs(np.asarray(got["masses"]) - ref_mz).max() <= 0.5 / fp + 1e-12
        # pic intensities: exact integer rounding of the plain twin
        assert np.array_equal(
            np.asarray(got["intensities"]), np.round(ref_in)
        ), sid
    for sid in ("np_slof", "npz_slof"):
        got_in = np.asarray(rows[sid]["intensities"])
        rel = np.abs(got_in - ref_in) / (ref_in + 1)
        assert rel.max() < 1e-3, sid
        assert rows[sid]["masses"] == rows["plain"]["masses"]
