"""PARITY_AUDIT.md and COVERAGE.md stay honest: every engine site they
cite must exist.

Parses the audit for `pride_spark`-relative ``*.py`` citations (with
optional ``:line`` anchors) and asserts the file exists and is long
enough; also asserts the specific function names the audit leans on are
still defined where it says they are.  Pure-python, no Spark session.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
AUDIT = REPO / "PARITY_AUDIT.md"

# `dir/file.py:123` or `dir/file.py:12-34` or bare `dir/file.py`
CITE = re.compile(r"`((?:functions|operators|plans|sinks|sources|streaming)/\w+\.py|cli\.py|schemas\.py)(?::(\d+))?")


def test_cited_engine_sites_exist():
    text = AUDIT.read_text()
    cites = CITE.findall(text)
    assert len(cites) >= 40, "audit unexpectedly sparse — regex drift?"
    for rel, line in cites:
        p = REPO / "pride_spark" / rel
        assert p.exists(), f"PARITY_AUDIT cites missing file {rel}"
        if line:
            n_lines = p.read_text().count("\n") + 1
            assert int(line) <= n_lines, (
                f"PARITY_AUDIT cites {rel}:{line} but file has {n_lines} lines"
            )


COVERAGE = REPO / "COVERAGE.md"
# `pride_spark/x/y.py`, `x/y.py` (package-relative), `tests/test_x.py`,
# `test_x.py` and `test_x.py::test_name`
PKG_CITE = re.compile(r"(?<![\w/])(?:pride_spark/)?((?:functions|operators|plans|sinks|sources|streaming)/\w+\.py)")
TEST_CITE = re.compile(r"(?<![\w/])(?:tests/)?(test_\w+\.py)(?:::(test_\w+))?")


def test_coverage_cites_existing_code_and_tests():
    """COVERAGE.md stays honest: every package file, test file and test
    function it names exists."""
    text = COVERAGE.read_text()
    files = set(PKG_CITE.findall(text))
    tests = TEST_CITE.findall(text)
    assert len(files) >= 30 and len(tests) >= 30, "coverage unexpectedly sparse — regex drift?"
    for rel in sorted(files):
        assert (REPO / "pride_spark" / rel).exists(), f"COVERAGE cites missing file {rel}"
    for fname, func in tests:
        path = REPO / "tests" / fname
        assert path.exists(), f"COVERAGE cites missing test file {fname}"
        if func:
            assert re.search(rf"^def {func}\(", path.read_text(), re.M), (
                f"COVERAGE cites missing test {fname}::{func}"
            )


def test_named_symbols_still_defined():
    expectations = {
        "sinks/layout.py": [
            "def export_reference_layout",
            "def concat_parts",
            "def archive_spectrum_batch_file",
        ],
        "operators/fdr.py": ["def group_psm_sets", "def top_n_per_spectrum"],
        "operators/cluster.py": ["def best_psm_per_cluster"],
        "operators/inference.py": ["def peptide_protein_sets"],
        "functions/strings.py": ["def make_isobaric"],
        "functions/spectrum_id.py": ["def is_wiff_id"],
        "functions/misc.py": ["def random_token", "def sha1_checksum"],
    }
    for rel, symbols in expectations.items():
        src = (REPO / "pride_spark" / rel).read_text()
        for sym in symbols:
            assert sym in src, f"{rel} no longer defines `{sym}` cited by PARITY_AUDIT"


def test_dead_reference_methods_really_dead():
    """The audit claims three reference methods have zero call sites —
    re-verify against the reference tree so the claim can't go stale."""
    ref = Path("/root/reference")
    if not ref.exists():  # audit claim is only checkable with the tree present
        return
    for name in ("buildInternalPath", "convertSentenceStyle", "equalsDatePartOnly"):
        callers = [
            p
            for p in ref.rglob("*.java")
            if name in p.read_text(errors="replace")
            and p.name not in ("SubmissionPipelineUtils.java", "StringUtils.java", "DateUtils.java")
        ]
        assert callers == [], f"{name} has callers now: {callers}"
