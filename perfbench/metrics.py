"""Metric catalogue: names, units, and how spans turn into layer metrics.

BENCHMARK.json lists exactly these names (a test pins that).  Every run
prints every metric of its kind; a layer that a workload never enters
reports 0 there (the pipeline spans in a registry run and vice versa).
"""

from __future__ import annotations

#: end-to-end metrics, measured with tracing off (name -> unit)
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_nojit_s.min": "s",
    "peak_rss_mb": "MB",
}

#: registry queries measured by the ``registry`` workload.  The first
#: seven spend most of their time building the plan (py4j round trips and
#: eager jobs); the last two are execution-bound representatives of the
#: similarity and dedup layers (the pipeline covers rollup).
DRIVER_QUERIES = ("q03", "q26", "q31", "q43", "q52")
EXEC_QUERIES = ("q22", "q35")
REGISTRY_QUERIES = DRIVER_QUERIES + EXEC_QUERIES

_INGEST = {"read_psms_any": "ingest.read_psms", "read_spectra_any": "ingest.read_spectra",
           "prepare_psms": "ingest.prepare"}
_INDEX = {"stage1_filter_and_fdr": "index.stage1_fdr", "validity_gate": "index.validity_gate",
          "stage2_spectrum_join": "index.stage2_join",
          "stage3_protein_rollup": "index.stage3_rollup"}
#: output directory name -> JSON-lines sink span
_JSONL = {"archive_spectra": "archive", "summary_spectra": "summary",
          "protein_evidence": "proteins"}  # everything else: the inference outputs


def _jsonl_span(args, kwargs):
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    kind = _JSONL.get(path.rstrip("/").rsplit("/", 1)[-1], "inference")
    return f"sinks.jsonlines.{kind}", path


def _mgf_span(args, kwargs):
    return "sinks.mgf", kwargs.get("path", args[1] if len(args) > 1 else None)


def pipeline_targets() -> dict:
    """(module, function) -> span name, for :func:`spans.patched`."""
    t = {("pride_spark.plans.ingest", f): n for f, n in _INGEST.items()}
    t[("pride_spark.plans.generate_index_files", "generate_index_files")] = "index"
    t.update({("pride_spark.plans.generate_index_files", f): n for f, n in _INDEX.items()})
    t[("pride_spark.sources.jsonlines", "write_jsonlines")] = _jsonl_span
    t[("pride_spark.sinks.mgf", "write_mgf")] = _mgf_span
    t[("pride_spark.operators.spectral_cluster", "cluster_spectra")] = "spectral_cluster.cluster"
    t[("pride_spark.plans.perform_inference", "perform_inference")] = "inference.perform"
    return t


def _per_layer() -> dict[str, str]:
    out: dict[str, str] = {}
    for n in (*_INGEST.values(), *_INDEX.values(), "spectral_cluster.cluster"):
        out.update({f"{n}.wall_s": "s", f"{n}.jobs": "count", f"{n}.py4j_calls": "count"})
    out.update({"index.wall_s": "s", "index.self_s": "s"})
    for kind in ("archive", "summary", "proteins", "inference"):
        n = f"sinks.jsonlines.{kind}"
        out.update({f"{n}.wall_s": "s", f"{n}.jobs": "count", f"{n}.out_mb": "MB"})
    out.update({"sinks.mgf.wall_s": "s", "sinks.mgf.out_mb": "MB",
                "inference.perform.wall_s": "s", "inference.perform.jobs": "count",
                "cli.wall_s": "s", "cli.self_s": "s", "cli.psm_per_s": "1/s",
                "cli.out_bytes_per_in_byte": "ratio"})
    for q in DRIVER_QUERIES:
        out.update({f"registry.{q}.build_s": "s", f"registry.{q}.build_jobs": "count",
                    f"registry.{q}.py4j_calls": "count", f"registry.{q}.exec_s": "s"})
    for q in EXEC_QUERIES:
        out.update({f"registry.{q}.build_s": "s", f"registry.{q}.exec_s": "s",
                    f"registry.{q}.shuffle_mb": "MB"})
    out["jvm.jit_cpu_s"] = "s"
    out["trace.overhead_s"] = "s"
    return out


#: per-layer metrics, from the traced run (name -> unit)
PER_LAYER = _per_layer()

#: per-layer metrics where a larger value is the better one
HIGHER_IS_BETTER = {"cli.psm_per_s"}


def pipeline_layers(root) -> dict[str, float]:
    """Metrics from the traced pipeline pass; ``root`` is the ``cli`` span.

    Spans of one name add up (the inference outputs are three sink
    calls).  ``*.self_s`` is a span's wall time minus its children's."""
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0.0) + v

    for s in root.walk():
        if s is root:
            continue
        add(f"{s.name}.wall_s", s.wall_s)
        add(f"{s.name}.jobs", len(s.all_jobs()))
        add(f"{s.name}.py4j_calls", s.py4j_calls)
        add(f"{s.name}.out_mb", s.out_bytes / 1e6)
        if s.name == "index":
            add("index.self_s", s.self_s)
    out["cli.wall_s"] = root.wall_s
    out["cli.self_s"] = root.self_s
    return {k: v for k, v in out.items() if k in PER_LAYER}


def registry_layers(roots) -> dict[str, float]:
    """Metrics from the traced registry pass: one ``registry.<q>`` span per
    query with a ``build`` and an ``exec`` child."""
    out: dict[str, float] = {}
    for r in roots:
        build, exe = r.children
        out[f"{r.name}.build_s"] = build.wall_s
        out[f"{r.name}.build_jobs"] = len(build.all_jobs())
        out[f"{r.name}.py4j_calls"] = build.py4j_calls
        out[f"{r.name}.exec_s"] = exe.wall_s
        out[f"{r.name}.shuffle_mb"] = r.all_shuffle_bytes() / 1e6
    return {k: v for k, v in out.items() if k in PER_LAYER}
