"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_pipeline  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402
import checks  # noqa: E402

def test_pipeline_inputs_same_seed_same_bytes(tmp_path):
    a = gen_pipeline.generate(str(tmp_path / "a"), 7)
    b = gen_pipeline.generate(str(tmp_path / "b"), 7)
    c = gen_pipeline.generate(str(tmp_path / "c"), 8)
    assert filecmp.cmp(a.mzid, b.mzid, shallow=False)
    assert filecmp.cmp(a.mgf, b.mgf, shallow=False)
    assert not filecmp.cmp(a.mgf, c.mgf, shallow=False)
    assert a.psms.equals(b.psms)


def test_pipeline_inputs_shape(tmp_path):
    inp = gen_pipeline.generate(str(tmp_path), 3)
    psms = inp.psms
    assert len(psms) == gen_pipeline.N_SPECTRA
    assert psms.isDecoy.mean() == pytest.approx(gen_pipeline.DECOY_SHARE, abs=0.01)
    # replicate spectra: target peptides measured more than once
    reps = psms[~psms.isDecoy].peptideSequence.value_counts()
    assert reps.max() > 1 and reps.min() >= 1
    with open(inp.mgf) as fh:
        blocks = fh.read().split("BEGIN IONS\n")[1:]
    assert len(blocks) == gen_pipeline.N_SPECTRA
    n_peaks = [sum(1 for line in b.splitlines() if line[:1].isdigit()) for b in blocks]
    assert min(n_peaks) >= gen_pipeline.PEAKS[0] and max(n_peaks) <= gen_pipeline.PEAKS[1]
    # targets beat decoys on the e-value, so the FDR filter keeps a share
    exp = checks.pipeline_expectations(psms, 0.01)
    assert 0 < len(exp["indices"]) < len(psms)


def test_registry_tables_same_seed_same_bytes(tmp_path):
    gen_tables.generate(str(tmp_path / "a"), 5)
    gen_tables.generate(str(tmp_path / "b"), 5)
    # the tables the oracle gate reads, no more, no fewer
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in checks.check_oracle.TABLES)
    for t in checks.check_oracle.TABLES:
        assert filecmp.cmp(tmp_path / "a" / f"{t}.parquet", tmp_path / "b" / f"{t}.parquet",
                           shallow=False), t
    t6 = gen_tables.tables(6)["lineitem"]
    assert not t6.equals(gen_tables.tables(5)["lineitem"])


_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names_and_units():
    for name, unit in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
        assert _NAME.fullmatch(name), name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)
    assert len(metrics.PER_LAYER) <= 128


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    for m in bench["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in metrics.HIGHER_IS_BETTER else "lower")
    assert {w["name"] for w in bench["workloads"]} == {"index_pipeline", "registry"}


def test_tree_cpu_counts_exited_children():
    import subprocess

    import run

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    assert run.tree_cpu_s() - before >= 0.25


def test_child_spans_never_exceed_parent():
    tr = spans.Tracer()  # timing only
    with tr.span("cli"):
        with tr.span("index"):
            with tr.span("index.stage1_fdr"):
                time.sleep(0.01)
            time.sleep(0.005)
        with tr.span("sinks.mgf"):
            time.sleep(0.01)
    (root,) = tr.roots
    for s in root.walk():
        assert sum(c.wall_s for c in s.children) <= s.wall_s
        assert s.self_s >= 0
    layers = metrics.pipeline_layers(root)
    parts = layers["index.wall_s"] + layers["sinks.mgf.wall_s"] + layers["cli.self_s"]
    assert parts == pytest.approx(layers["cli.wall_s"])
    assert layers["index.self_s"] == pytest.approx(
        layers["index.wall_s"] - layers["index.stage1_fdr.wall_s"])


def test_patched_restores_and_names_sink_spans(tmp_path):
    import types

    mod = types.ModuleType("perfbench_fake_sink")
    calls = []
    mod.write_jsonlines = lambda df, path: calls.append(path)
    sys.modules[mod.__name__] = mod
    orig = mod.write_jsonlines
    tr = spans.Tracer()
    try:
        namer = metrics.pipeline_targets()[("pride_spark.sources.jsonlines", "write_jsonlines")]
        with spans.patched(tr, {(mod.__name__, "write_jsonlines"): namer}):
            mod.write_jsonlines(None, str(tmp_path / "archive_spectra"))
            mod.write_jsonlines(None, str(tmp_path / "cluster_best"))
        assert mod.write_jsonlines is orig
    finally:
        del sys.modules[mod.__name__]
    assert [s.name for s in tr.roots] == ["sinks.jsonlines.archive", "sinks.jsonlines.inference"]
    assert len(calls) == 2


def test_oracle_compare_on_arrow_tables():
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1::BIGINT, 0.5::DOUBLE), (2, 0.25)) t(k, v)"
    assert checks.compare_result("qx", pa.table({"v": [0.25, 0.5], "k": [2, 1]}), con, sql) == []
    assert checks.compare_result("qx", pa.table({"k": [1, 2], "v": [0.5, 0.3]}), con, sql)
    assert checks.compare_result("qx", pa.table({"k": [1, 2, 2], "v": [0.5, 0.25, 0.25]}), con, sql)
    # equal values, float keys: only the strict dtype check catches it
    assert checks.compare_result("qx", pa.table({"k": [1.0, 2.0], "v": [0.5, 0.25]}), con, sql)
