"""Seeded raw-file inputs for the ``index_pipeline`` workload.

Writes one mzIdentML result file and one MGF spectra file shaped like a
small PRIDE submission:

* target peptides, each measured as several replicate spectra (so the
  spectral-clustering stage sees real cluster sizes, not singletons);
* a decoy share of PSMs (reversed sequences on ``DECOY_`` proteins) with
  a worse e-value distribution, plus target PSMs that are wrong matches
  and score like decoys, so the target-decoy FDR has work to do;
* 50-150 peaks per spectrum: a per-peptide base peak list, jittered in
  m/z and intensity per replicate, thinned, and padded with noise peaks;
* a few peptides shorter than 7 residues, which the length filter drops.

Everything derives from ``numpy.random.default_rng(seed)``: the same
seed gives byte-identical files.  :func:`generate` also returns
the PSM table it wrote, so the output checks compute their expectations
from the inputs rather than from the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

#: residue masses (monoisotopic) for the precursor m/z of each peptide
_AA = {
    "A": 71.03711, "C": 103.00919, "D": 115.02694, "E": 129.04259,
    "F": 147.06841, "G": 57.02146, "H": 137.05891, "I": 113.08406,
    "K": 128.09496, "L": 113.08406, "M": 131.04049, "N": 114.04293,
    "P": 97.05276, "Q": 128.05858, "R": 156.10111, "S": 87.03203,
    "T": 101.04768, "V": 99.06841, "W": 186.07931, "Y": 163.06333,
}
_RESIDUES = np.array(sorted(set(_AA) - {"K", "R"}))
_WATER, _PROTON = 18.01056, 1.00728


# input shape of one generated submission (see perfbench/README.md)
N_SPECTRA = 2000            # = PSMs: one rank-1 PSM per spectrum
DECOY_SHARE = 0.25          # PSMs on decoy proteins
WRONG_TARGET_SHARE = 0.15   # target PSMs scoring like decoys
REPLICATES = (1, 6)         # replicate spectra per peptide
PEAKS = (50, 150)           # peaks per spectrum
MZ_JITTER = 0.004           # Da, per-replicate peak m/z noise (sd)
SHORT_PEPTIDE_SHARE = 0.03  # sequences under 7 residues
PEPTIDES_PER_PROTEIN = 6


@dataclass
class PipelineInputs:
    mzid: str
    mgf: str
    psms: pd.DataFrame  # one row per PSM: what the mzid says
    input_bytes: int


def _sequence(rng: np.random.Generator, length: int) -> str:
    body = "".join(rng.choice(_RESIDUES, size=length - 1))
    return body + ("K" if rng.random() < 0.6 else "R")


def _mz(seq: str, charge: int) -> float:
    mass = sum(_AA[a] for a in seq) + _WATER
    return (mass + charge * _PROTON) / charge


def _peptides(rng: np.random.Generator, n_target_spectra: int):
    """Distinct target peptides with replicate counts summing to
    ``n_target_spectra``."""
    seqs: list[str] = []
    reps: list[int] = []
    seen: set[str] = set()
    total = 0
    while total < n_target_spectra:
        short = rng.random() < SHORT_PEPTIDE_SHARE
        length = int(rng.integers(5, 7) if short else rng.integers(7, 21))
        s = _sequence(rng, length)
        if s in seen or s[:-1][::-1] + s[-1] in seen:
            continue
        seen.add(s)
        r = int(min(rng.integers(REPLICATES[0], REPLICATES[1] + 1),
                    n_target_spectra - total))
        seqs.append(s)
        reps.append(r)
        total += r
    return seqs, reps


def _base_peaks(rng: np.random.Generator, n: int):
    mz = np.sort(rng.uniform(100.0, 1800.0, size=n))
    inten = rng.lognormal(mean=8.0, sigma=1.0, size=n)
    return mz, inten


def _replicate(rng, base_mz, base_int):
    keep = rng.random(base_mz.size) < 0.9
    mz = base_mz[keep] + rng.normal(0.0, MZ_JITTER, size=int(keep.sum()))
    inten = base_int[keep] * rng.lognormal(0.0, 0.2, size=int(keep.sum()))
    target = int(rng.integers(PEAKS[0], PEAKS[1] + 1))
    n_noise = max(target - mz.size, 0)
    mz = np.concatenate([mz, rng.uniform(100.0, 1800.0, size=n_noise)])
    inten = np.concatenate([inten, rng.lognormal(5.0, 1.0, size=n_noise)])
    order = np.argsort(mz)
    return mz[order][: PEAKS[1]], inten[order][: PEAKS[1]]


def generate(out_dir: str, seed: int) -> PipelineInputs:
    """Write ``submission.mzid`` and ``run01.mgf`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_decoy = int(round(N_SPECTRA * DECOY_SHARE))
    seqs, reps = _peptides(rng, N_SPECTRA - n_decoy)
    n_prot = max(len(seqs) // PEPTIDES_PER_PROTEIN, 2)
    prot_of = rng.integers(0, n_prot, size=len(seqs))
    # ~15% of peptides are shared with a second protein
    shared = np.where(rng.random(len(seqs)) < 0.15, rng.integers(0, n_prot, size=len(seqs)), -1)
    charge_of = rng.choice([2, 3], size=len(seqs), p=[0.7, 0.3])

    # one entry per spectrum: (peptide, is_decoy, charge, precursor m/z,
    # masses, intensities); a decoy hit reverses its peptide's sequence
    spectra = []
    for p, (s, r) in enumerate(zip(seqs, reps)):
        bmz, bint = _base_peaks(rng, int(rng.integers(40, 120)))
        pmz = _mz(s, int(charge_of[p]))
        for _ in range(r):
            m, i = _replicate(rng, bmz, bint)
            spectra.append((p, False, int(charge_of[p]), pmz + rng.normal(0, 0.001), m, i))
    for _ in range(n_decoy):
        p = int(rng.integers(0, len(seqs)))
        bmz, bint = _base_peaks(rng, int(rng.integers(40, 120)))
        m, i = _replicate(rng, bmz, bint)
        z = int(rng.choice([2, 3]))
        spectra.append((p, True, z, rng.uniform(350.0, 1400.0), m, i))
    order = rng.permutation(len(spectra))
    spectra = [spectra[k] for k in order]

    # scores: e-values, lower is better
    n = len(spectra)
    wrong = rng.random(n) < WRONG_TARGET_SHARE
    good_ev = 10.0 ** rng.normal(-5.0, 1.8, size=n)
    bad_ev = 10.0 ** rng.normal(-0.7, 0.9, size=n)
    rows = []
    for k, (p, decoy, z, pmz, _m, _i) in enumerate(spectra):
        seq = seqs[p]
        if decoy:
            seq = seq[:-1][::-1] + seq[-1]
            prots = [f"DECOY_PROT{int(prot_of[p]):05d}"]
            ev = bad_ev[k]
        else:
            prots = [f"PROT{int(prot_of[p]):05d}"]
            if shared[p] >= 0 and shared[p] != prot_of[p]:
                prots.append(f"PROT{int(shared[p]):05d}")
            ev = bad_ev[k] if wrong[k] else good_ev[k]
        rows.append((f"SII_{k}", k, seq, bool(decoy), float(f"{ev:.6g}"), z,
                     round(pmz, 5), prots))
    psms = pd.DataFrame(rows, columns=["psmId", "spectrumIndex", "peptideSequence",
                                       "isDecoy", "score", "charge", "mz", "proteins"])

    mzid = os.path.join(out_dir, "submission.mzid")
    mgf = os.path.join(out_dir, "run01.mgf")
    _write_mzid(mzid, psms)
    _write_mgf(mgf, spectra, rng)
    return PipelineInputs(mzid, mgf, psms, os.path.getsize(mzid) + os.path.getsize(mgf))


def _write_mzid(path: str, psms: pd.DataFrame) -> None:
    peps = {s: f"Pep_{i}" for i, s in enumerate(dict.fromkeys(psms.peptideSequence))}
    prots = {a: f"DBSeq_{i}" for i, a in
             enumerate(dict.fromkeys(a for ps in psms.proteins for a in ps))}
    evid: dict[tuple[str, str], str] = {}
    for seq, ps in zip(psms.peptideSequence, psms.proteins):
        for a in ps:
            evid.setdefault((seq, a), f"PE_{len(evid)}")
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n'
           '<MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1" version="1.1.0">\n'
           ' <SequenceCollection>\n']
    out += [f'  <DBSequence id="{d}" accession="{a}" searchDatabase_ref="SDB_1"/>\n'
            for a, d in prots.items()]
    out += [f'  <Peptide id="{p}"><PeptideSequence>{s}</PeptideSequence></Peptide>\n'
            for s, p in peps.items()]
    out += [f'  <PeptideEvidence id="{e}" peptide_ref="{peps[s]}" dBSequence_ref="{prots[a]}" '
            f'isDecoy="{"true" if a.startswith("DECOY_") else "false"}"/>\n'
            for (s, a), e in evid.items()]
    out.append(' </SequenceCollection>\n <DataCollection>\n  <Inputs>\n'
               '   <SearchDatabase id="SDB_1" location="file:///data/target_decoy.fasta"/>\n'
               '   <SpectraData id="SD_1" location="file:///data/run01.mgf">\n'
               '    <SpectrumIDFormat><cvParam cvRef="PSI-MS" accession="MS:1000774" '
               'name="multiple peak list nativeID format"/></SpectrumIDFormat>\n'
               '   </SpectraData>\n  </Inputs>\n  <AnalysisData>\n'
               '   <SpectrumIdentificationList id="SIL_1">\n')
    for r in psms.itertuples(index=False):
        refs = "".join(f'<PeptideEvidenceRef peptideEvidence_ref="{evid[(r.peptideSequence, a)]}"/>'
                       for a in r.proteins)
        out.append(
            f'    <SpectrumIdentificationResult id="SIR_{r.spectrumIndex}" '
            f'spectrumID="index={r.spectrumIndex}" spectraData_ref="SD_1">'
            f'<SpectrumIdentificationItem id="{r.psmId}" rank="1" chargeState="{r.charge}" '
            f'experimentalMassToCharge="{r.mz}" peptide_ref="{peps[r.peptideSequence]}" '
            f'passThreshold="true">{refs}'
            f'<cvParam cvRef="PSI-MS" accession="MS:1002257" name="Comet:expectation value" '
            f'value="{r.score!r}"/></SpectrumIdentificationItem>'
            f'</SpectrumIdentificationResult>\n')
    out.append('   </SpectrumIdentificationList>\n  </AnalysisData>\n'
               ' </DataCollection>\n</MzIdentML>\n')
    with open(path, "w") as fh:
        fh.write("".join(out))


def _write_mgf(path: str, spectra, rng: np.random.Generator) -> None:
    rts = np.sort(rng.uniform(60.0, 5400.0, size=len(spectra)))
    with open(path, "w") as fh:
        for k, (_p, _d, z, pmz, m, i) in enumerate(spectra):
            peaks = "\n".join(f"{a:.4f} {b:.1f}" for a, b in zip(m, i))
            fh.write(f"BEGIN IONS\nTITLE=run01.{k}.{k}.{z}\nPEPMASS={pmz:.5f}\n"
                     f"CHARGE={z}+\nRTINSECONDS={rts[k]:.2f}\n{peaks}\nEND IONS\n")
