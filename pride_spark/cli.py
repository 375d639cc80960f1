"""CLI — the reference's six commands as thin Spark entry points.

Ref: ``ArchiveMoleculesIndexer.java:28-30`` (options list) and the
per-command blocks at ``:64`` (get-result-files), ``:82``
(get-related-files), ``:107`` (generate-index-files), ``:211``
(perform-inference), ``:263`` (generate-mgf-files), ``:277``
(spectra-json-check).  Each subcommand only parses arguments and
composes package functions — no logic lives here.

Usage::

    python -m pride_spark <command> [options]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys

from pyspark import StorageLevel
from pyspark.sql import functions as F


def _spark(app: str):
    from pride_spark.session import get_spark

    return get_spark(app)


# ---------------------------------------------------------------------------


def cmd_get_result_files(args) -> int:
    from pride_spark.sinks.manifests import write_result_file_manifest
    from pride_spark.sources import ws

    spark = _spark("get-result-files")
    if args.files_json:  # offline input (tests / air-gapped runs)
        files = json.load(open(args.files_json))
    else:
        files = ws.fetch_project_files(args.project)
    df = ws.result_file_manifest(ws.project_files_df(spark, files), args.project)
    write_result_file_manifest(df, args.output)
    print(f"wrote {df.count()} result-file rows to {args.output}")
    return 0


def cmd_get_related_files(args) -> int:
    from pride_spark.sinks.manifests import write_related_spectra_manifest
    from pride_spark.sources import ws
    from pride_spark.sources.mzid import read_mzid_spectra_data

    spark = _spark("get-related-files")
    if args.files_json:
        files = json.load(open(args.files_json))
    else:
        files = ws.fetch_project_files(args.project)
    if args.publication_date:
        date = args.publication_date
    else:
        # normalize_pride_project is the drift guard: a payload that lost
        # a consumed field raises HERE instead of flowing empty dates
        # into the manifests
        date = ws.normalize_pride_project(ws.fetch_project(args.project))[
            "publicationDate"
        ]
        if not date:
            print(
                f"ABORT: projects/{args.project} returned no publicationDate "
                "(PRIDE API drift?) — pass --publication-date explicitly",
                file=sys.stderr,
            )
            return 1
    sd = read_mzid_spectra_data(spark, args.result_files)
    rel = ws.related_spectra_manifest(sd, ws.project_files_df(spark, files), date)
    write_related_spectra_manifest(rel, args.output)
    print(f"wrote related-files manifest to {args.output}")
    return 0


def _index_outputs(spark, args):
    """§3.1 composition shared by generate-index-files, run-pipeline and
    run-reanalysis."""
    from pride_spark.plans.generate_index_files import IndexConfig, generate_index_files
    from pride_spark.plans.ingest import (
        keyed_spectra,
        prepare_psms,
        read_author_proteins,
        read_psms_any,
        read_spectra_any,
        stage_compressed,
    )

    sample_props = None
    sample_files = getattr(args, "sample_files", None)
    if sample_files:
        from pride_spark.sources.tabular import read_sdrf

        from pride_spark.functions.strings import file_name_no_extension

        chars = read_sdrf(spark, sample_files)
        # J10: every characteristic key is looked up in the EFO ontology
        # and the resolved term rides on the Param — the reference does
        # this per characteristic via its OBO mapper
        # (PrideAnalysisAssayService.java:342-346, mapper built at :99);
        # unknown names keep a null accession, exactly like the
        # reference's Param fallback.  Broadcast dim join, never per-row.
        efo_path = getattr(args, "efo_terms", None)
        if efo_path:
            from pride_spark.sources.efo import (
                enrich_with_efo,
                read_efo_obo,
                read_efo_tsv,
            )

            reader = read_efo_tsv if str(efo_path).endswith(".tsv") else read_efo_obo
            chars = enrich_with_efo(chars, reader(spark, efo_path))
        else:
            chars = chars.withColumn("accession", F.lit(None).cast("string"))

        # (__skey, array<Param>) — one broadcastable row per data file;
        # keyed by the lower-cased EXTENSION-STRIPPED name, the same key
        # the reference's sample map uses (PrideAnalysisAssayService
        # initGlobalSampleMetadata / :574-579): real SDRFs list raw files
        # (.raw) while archive rows carry spectra file names (.mzML/.mgf),
        # so a full-fileName equi-join silently matches nothing.
        # array_sort pins a deterministic param order regardless of the
        # melt's partitioning
        sample_props = (
            chars.groupBy(
                F.lower(file_name_no_extension(F.col("dataFile"))).alias("__skey")
            )
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            # ontology label = the accession's prefix
                            # ("EFO:0000408" → "EFO"), null when unmapped
                            F.when(
                                F.col("accession").isNotNull(),
                                F.split(F.col("accession"), "[:_]")[0],
                            ).alias("cvLabel"),
                            F.col("accession"),
                            F.col("name"),
                            F.col("value"),
                        )
                    )
                ).alias("sampleProperties")
            )
        )

    # the parsed-PSM frame feeds two independent action chains (the F11
    # validity gate's decoy aggregate and the FDR two-pass) — persist so
    # the raw-file parse subtree executes once per app, not per action;
    # canonical PSM rows are narrow (no peak arrays), MEMORY_AND_DISK
    # spills rather than OOMs on huge submissions
    # stage .zip archives ONCE: both the PSM reader and the author-protein
    # reader would otherwise each extract the same archive to their own
    # temp dir (staging is a pass-through for non-zip paths)
    result_paths = stage_compressed(args.result_files)
    psms = read_psms_any(spark, result_paths).persist(StorageLevel.MEMORY_AND_DISK)
    spectra = read_spectra_any(spark, args.spectra_files)
    # PIA createPSMSets parity: the reference's merged path is exactly its
    # multi-file entry point (PIAModelerService.java:111-114 vs the
    # single-file :64), so 'auto' groups sets iff >1 result file.  The
    # result-file provenance is preserved as `resultFile` BEFORE
    # prepare_psms overwrites fileName with the spectra file.
    psm_sets_mode = getattr(args, "psm_sets", "auto") or "auto"
    # count STAGED paths, not raw args: one .zip fanning out to N result
    # files is exactly the merged multi-file shape sets exist for
    create_psm_sets = (
        len(result_paths) > 1 if psm_sets_mode == "auto" else psm_sets_mode == "on"
    )
    if create_psm_sets:
        psms = psms.withColumn("resultFile", F.col("fileName"))
    if len(args.spectra_files) > 1:
        # multi-spectra-file submissions need PER-PSM routing (each PSM's
        # SpectraData ref names its spectra file); stamping file0 on all
        # PSMs silently joined run2's identifications to run1's peaks
        # (r10 review).  Routing needs the SpectraData dimension — only
        # mzIdentML carries one — and a uniform id format across files.
        from pride_spark.plans.ingest import _ext as _sext

        exts = {_sext(p) for p in args.spectra_files}
        if len(exts) > 1:
            print(
                "ABORT: multiple spectra files with MIXED formats "
                f"({sorted(exts)}) — split the run per format",
                file=sys.stderr,
            )
            raise SystemExit(1)
        non_mzid = [p for p in result_paths if _sext(p) != "mzid"]
        if non_mzid:
            print(
                "ABORT: multiple spectra files but result files without a "
                f"SpectraData section to route by ({[os.path.basename(p) for p in non_mzid]}) "
                "— run one spectra file per invocation",
                file=sys.stderr,
            )
            raise SystemExit(1)
        from pride_spark.plans.ingest import route_psms_to_spectra
        from pride_spark.sources.mzid import read_mzid_spectra_data

        sd = read_mzid_spectra_data(spark, result_paths)
        psms = route_psms_to_spectra(psms, sd, args.spectra_files)
        prepared = prepare_psms(psms, args.spectra_files[0], file_col="__specFile")
    else:
        prepared = prepare_psms(psms, args.spectra_files[0])
    # MULTI_PEAK formats join on the per-file index; XML formats on the
    # C9-NORMALIZED id — both sides through the same normalization
    spectra_keyed = keyed_spectra(spectra, args.spectra_files[0])
    cfg = IndexConfig(
        q_value_threshold=args.qvalue_threshold,
        peptide_length=args.peptide_length,
        min_psms=args.min_psms,
        score_better=args.score_better,
        create_psm_sets=create_psm_sets,
        consider_modifications=getattr(args, "consider_modifications", False),
    )
    from pride_spark.plans.ingest import _ext as _spec_ext

    return generate_index_files(
        prepared,
        spectra_keyed,
        args.project,
        cfg,
        enforce_gates=not args.no_gates,
        reanalysis=getattr(args, "reanalysis_accession", None),
        sample_props=sample_props,
        # mzTab PRH/PRT author rows (None for mzid/PRIDE-XML submissions)
        # merge into the T3 protein-evidence output as authorProperties
        author_proteins=read_author_proteins(spark, result_paths),
        # reference buildUsi scan-type: SCAN for mzML spectra files, INDEX
        # otherwise (SubmissionPipelineUtils.java:290-293)
        id_kind="scan" if _spec_ext(args.spectra_files[0]) == "mzml" else "index",
    )


def _layout_assay(args) -> str:
    """Assay accession for reference-layout file names: explicit flag, or
    the reference's random-token scheme (``HashUtils.getRandomToken``,
    used as ``hashAssay`` at ``InferenceService.java:146``)."""
    if getattr(args, "assay_accession", None):
        return args.assay_accession
    import hashlib
    import uuid

    return hashlib.sha1(uuid.uuid4().bytes).hexdigest()


@contextlib.contextmanager
def _written_index_outputs(spark, args):
    """Run the §3.1 composition and write its tables (archive, summary,
    protein evidence and, on the merged multi-file path, PSM-set
    provenance) under ``args.output_dir``; yields the output frames.

    Every table (and any later stage reading the archive) derives from
    one upstream frame — persist it so the parse + FDR + J5 subtree
    executes once per app, not once per sink.  On the merged path the
    common ancestor is the PRE-drop ``_merged_archive`` frame: persisting
    it serves BOTH the post-drop archive and the provenance projection
    from the cache (Spark's CacheManager substitutes the cached
    subplan).  Unpersisted when the block exits."""
    from pride_spark.sources.jsonlines import write_jsonlines

    out = _index_outputs(spark, args)
    base = out.get("_merged_archive", out["archive_spectra"]).persist()
    try:
        for name in (
            "archive_spectra", "summary_spectra", "protein_evidence", "psm_set_provenance"
        ):
            if name in out:
                write_jsonlines(out[name], f"{args.output_dir}/{name}")
        yield out
    finally:
        base.unpersist()


def cmd_generate_index_files(args) -> int:
    spark = _spark("generate-index-files")
    with _written_index_outputs(spark, args) as out:
        if getattr(args, "reference_layout", False):
            from pride_spark.sinks.layout import export_reference_layout

            written = export_reference_layout(
                args.output_dir,
                args.project,
                _layout_assay(args),
                archive_spectra=out["archive_spectra"],
                summary_spectra=out["summary_spectra"],
                protein_evidence=out["protein_evidence"],
                scratch_dir=getattr(args, "layout_scratch", None),
            )
            print(f"reference layout: {len(written)} files under {args.output_dir}/{args.project}")
    print(f"wrote archive/summary/protein tables under {args.output_dir}")
    return 0


def _inference_outputs(spark, archive, clusters_tsv: str | None):
    """§3.2 composition shared by perform-inference and run-pipeline."""
    from pride_spark.plans.perform_inference import perform_inference
    from pride_spark.sources.tabular import read_maracluster

    # the archive frame feeds the clustering pass plus every inference
    # output's join chain — persist so the JSON-lines (re-)read and
    # record decode run once per app
    archive = archive.persist(StorageLevel.MEMORY_AND_DISK)
    if clusters_tsv:
        clusters = read_maracluster(spark, clusters_tsv)
        clusters_by = "index"
    else:  # §2.14b — native in-engine clustering instead of MaraCluster
        from pride_spark.operators.spectral_cluster import cluster_spectra

        clusters = cluster_spectra(archive, "usi").select(
            F.col("key").alias("usi"), F.col("clusterId")
        )
        clusters_by = "usi"
    # the reference re-parses bestSearchEngineScore.value as the PSM score
    # (InferenceService.java:102)
    return perform_inference(
        archive.withColumn(
            "score", F.col("bestSearchEngineScore")["value"].cast("double")
        ).withColumn(
            "modificationNames",
            F.transform("modifications", lambda m: m["modification"]["name"]),
        ),
        clusters,
        clusters_by=clusters_by,
    )


def cmd_perform_inference(args) -> int:
    from pride_spark.sources.jsonlines import read_archive_spectra, write_jsonlines

    spark = _spark("perform-inference")
    archive = read_archive_spectra(spark, args.archive_json)
    out = _inference_outputs(spark, archive, args.clusters_tsv)
    write_jsonlines(out["cluster_best"], f"{args.output_dir}/cluster_best")
    write_jsonlines(out["winner_spectra"], f"{args.output_dir}/winner_spectra")
    write_jsonlines(out["protein_evidence"], f"{args.output_dir}/protein_evidence")
    print(f"wrote inference tables under {args.output_dir}")
    return 0


def cmd_run_pipeline(args) -> int:
    """§3.3 — the post-download submissions.nf DAG as ONE Spark app.

    Ref: ``submissions.nf:190-303`` — generate_json_index_files →
    json_check_validator → convert_to_mgf → clustering →
    final_inference_after_clustering.  Every reference arrow is a
    process boundary (separate JVM, files as intermediate
    representation); here the whole chain is one Spark application: the
    F12 gate and MGF export reuse the in-memory archive frame, and the
    §3.2 stage consumes the written T1 artifact — its schema contract —
    through the same session.
    """
    from pride_spark.operators.filters import spectrum_validity_counts
    from pride_spark.sinks.mgf import write_mgf
    from pride_spark.sources.jsonlines import read_archive_spectra, write_jsonlines

    spark = _spark("run-pipeline")
    # §3.1 generate_json_index_files; the persisted archive feeds four
    # downstream stages
    with _written_index_outputs(spark, args) as out:
        archive = out["archive_spectra"]

        # json_check_validator (F12) — same abort-the-pipeline contract
        total, valid = spectrum_validity_counts(archive)
        if valid != total:
            print(f"ABORT: {total - valid}/{total} archive spectra invalid", file=sys.stderr)
            return 1

        # convert_to_mgf (K5) — usi-ordered: the export feeds MaraCluster,
        # whose spectrumIndex assign_clusters zips back by the same order
        write_mgf(archive, f"{args.output_dir}/export.mgf", order_by="usi")

        # clustering + final_inference_after_clustering (§3.2) — reads the T1
        # artifact written above: inference's input contract is the archive
        # JSON schema, not the wider in-memory frame
        inf = _inference_outputs(
            spark,
            read_archive_spectra(spark, f"{args.output_dir}/archive_spectra"),
            args.clusters_tsv,
        )
        write_jsonlines(inf["cluster_best"], f"{args.output_dir}/cluster_best")
        write_jsonlines(inf["winner_spectra"], f"{args.output_dir}/winner_spectra")
        write_jsonlines(inf["protein_evidence"], f"{args.output_dir}/protein_evidence_final")
        if getattr(args, "reference_layout", False):
            from pride_spark.sinks.layout import export_reference_layout

            written = export_reference_layout(
                args.output_dir,
                args.project,
                _layout_assay(args),
                archive_spectra=archive,
                summary_spectra=out["summary_spectra"],
                protein_evidence=inf["protein_evidence"],
                scratch_dir=getattr(args, "layout_scratch", None),
            )
            print(f"reference layout: {len(written)} files under {args.output_dir}/{args.project}")
    print(f"pipeline complete: {valid} spectra indexed, outputs under {args.output_dir}")
    return 0


def cmd_run_reanalysis(args) -> int:
    """The reference's SECOND pipeline DAG, reanalysis.nf, as one command.

    Ref: ``/root/reference/reanalysis.nf:76-92`` — identification files
    are discovered by folder glob (``*.mztab`` concat ``*.mzid``, the
    channel-concat at :81), spectra are the folder's ``*.mzML``, the
    sample table its ``*.sdrf.tsv``, and the whole set feeds ONE
    generate_json_index_files process stamped with the reanalysis
    accession (the jar's ``--app.reanalysis-accession``).  Engine
    extension: any spectra format `read_spectra_any` dispatches (MGF,
    mzXML, PKL) is also globbed — the reference is mzML-only.
    """
    import glob as _glob

    folder = args.reanalysis_folder.rstrip("/")
    result_files = sorted(_glob.glob(f"{folder}/*.mztab")) + sorted(
        _glob.glob(f"{folder}/*.mzid")
    )
    # dict.fromkeys: on a case-insensitive mount the mzML/mzml (or
    # mgf/MGF) patterns both match the same file — dedupe while keeping
    # the discovery order (a duplicated path would double-ingest spectra)
    spectra_files = list(
        dict.fromkeys(
            p
            for ext in ("mzML", "mzml", "mgf", "MGF", "mzXML", "pkl")
            for p in sorted(_glob.glob(f"{folder}/*.{ext}"))
        )
    )
    sample_files = sorted(_glob.glob(f"{folder}/*.sdrf.tsv"))
    if not result_files:
        print(f"no *.mztab / *.mzid files under {folder}", file=sys.stderr)
        return 1
    if not spectra_files:
        print(f"no spectra files under {folder}", file=sys.stderr)
        return 1

    args.result_files = result_files
    args.spectra_files = spectra_files
    args.sample_files = sample_files or None
    if not getattr(args, "efo_terms", None):
        # reanalysis folders may bundle the ontology dump the SDRF terms
        # should be resolved against (the reference always has its OBO
        # mapper in scope; here the dump is an explicit input)
        obo = sorted(_glob.glob(f"{folder}/*.obo"))
        args.efo_terms = obo[0] if obo else None
    spark = _spark("run-reanalysis")
    with _written_index_outputs(spark, args):
        print(
            f"reanalysis {args.reanalysis_accession} of {args.project}: "
            f"{len(result_files)} id files, {len(spectra_files)} spectra files "
            f"-> {args.output_dir}"
        )
    return 0


def cmd_generate_mgf_files(args) -> int:
    from pride_spark.sinks.mgf import write_mgf
    from pride_spark.sources.jsonlines import read_archive_spectra

    spark = _spark("generate-mgf-files")
    archive = read_archive_spectra(spark, args.archive_json)
    # usi-ordered: the reference contract for this export is positional
    # (MaraCluster indexes it); see write_mgf/assign_clusters docstrings
    write_mgf(archive, args.output, order_by="usi")
    print(f"wrote MGF export to {args.output}")
    return 0


def cmd_curate_corpus(args) -> int:
    from pride_spark.plans.curate_corpus import CurateConfig, curate_corpus

    # validate the split spec BEFORE starting Spark: a malformed segment
    # should be a clear usage error, not a float() traceback mid-run
    splits = {}
    for part in args.split.split(","):
        name, eq, w = part.partition("=")
        name = name.strip()
        try:
            weight = float(w)
        except ValueError:
            weight = -1.0
        if not name or not eq or weight <= 0:
            print(
                f"--split: bad segment {part!r} (expected name=weight with "
                "a positive weight, e.g. train=0.9,valid=0.05,test=0.05)",
                file=sys.stderr,
            )
            return 2
        if name in splits:
            print(f"--split: duplicate split name {name!r}", file=sys.stderr)
            return 2
        splits[name] = weight

    spark = _spark("curate-corpus")
    docs = spark.read.parquet(args.documents)
    cfg = CurateConfig(
        text_col=args.text_col,
        id_col=args.id_col,
        languages=args.languages.split(",") if args.languages else None,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        near_dup_threshold=args.near_dup_threshold,
        max_bucket=args.max_bucket,
        splits=splits,
        split_seed=args.split_seed,
    )
    _, report = curate_corpus(spark, docs, cfg, output_dir=args.output_dir)
    report_path = os.path.join(args.output_dir, "_curation_report.json")
    with open(report_path, "w") as fh:
        json.dump(report, fh, indent=2, sort_keys=True)
    kept = sum(report["splits"].values())
    print(
        f"curated {kept}/{report['input_rows']} docs -> {args.output_dir} "
        f"(gates: {sum(report['gate_drops'].values())}, "
        f"exact dups: {report['exact_dup_drops']}, "
        f"near dups: {report['near_dup_drops']}); report: {report_path}"
    )
    return 0


def cmd_spectra_json_check(args) -> int:
    from pride_spark.operators.filters import spectrum_validity_counts
    from pride_spark.sources.jsonlines import read_archive_spectra

    spark = _spark("spectra-json-check")
    archive = read_archive_spectra(spark, args.archive_json)
    total, valid = spectrum_validity_counts(archive)
    print(f"{valid}/{total} spectra valid")
    return 0 if valid == total else 1


# ---------------------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pride_spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    def _add_layout_flags(p):
        p.add_argument(
            "--reference-layout", action="store_true",
            help="additionally materialize the reference's backup-file "
            "layout ({project}_{assay}_*.json single files plus per-source "
            "batches, BackupUtil.java:49-79) under {output-dir}/{project}",
        )
        p.add_argument(
            "--assay-accession",
            help="assay accession for --reference-layout file names; "
            "defaults to the reference's random-token scheme "
            "(HashUtils.getRandomToken)",
        )
        p.add_argument(
            "--layout-scratch",
            help="scratch directory for the layout export's distributed "
            "writes; must be on driver+executor-shared storage when not "
            "running local mode (default: driver-local temp)",
        )

    def _add_index_flags(p, reanalysis=False):
        # run-reanalysis globs its SDRF files from the folder, so it has no
        # --sample-files, and its --efo-terms falls back to a bundled *.obo
        p.add_argument("--qvalue-threshold", type=float, default=0.01)
        p.add_argument("--peptide-length", type=int, default=7)
        p.add_argument("--min-psms", type=int, default=1000)
        p.add_argument("--score-better", choices=("higher", "lower"), default="higher")
        p.add_argument("--no-gates", action="store_true", help="skip the F11 validity gate")
        if not reanalysis:
            p.add_argument(
                "--sample-files", nargs="+",
                help="SDRF file(s); characteristics become per-file sampleProperties (S12/J6)",
            )
        p.add_argument(
            "--efo-terms",
            help="EFO ontology dump (.obo or accession/name .tsv) to resolve SDRF "
            "characteristic names against (J10)"
            + ("; defaults to a *.obo bundled in the reanalysis folder" if reanalysis else ""),
        )
        p.add_argument(
            "--psm-sets", choices=("auto", "on", "off"), default="auto",
            help="group identical (spectrum, peptidoform, charge) identifications "
            "from different result files into PSM sets before FDR (PIA "
            "createPSMSets, PIAModelerService.java:111-114); auto = on iff "
            "multiple result files",
        )
        p.add_argument(
            "--consider-modifications", action="store_true",
            help="key PSM sets on the peptidoform instead of the plain "
            "sequence (PIA considerModifications; the reference's merged "
            "path runs false, PIAModelerService.java:124). Only meaningful "
            "with --psm-sets",
        )

    g = sub.add_parser("get-result-files", help="project result-file manifest (S1/S2+K4)")
    g.add_argument("--project", required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--files-json", help="local JSON file list instead of the PRIDE WS")
    g.set_defaults(fn=cmd_get_result_files)

    g = sub.add_parser("get-related-files", help="result↔spectra relation manifest (J1/J2+K4)")
    g.add_argument("--project", required=True)
    g.add_argument("--result-files", nargs="+", required=True, help="local mzIdentML files")
    g.add_argument("--output", required=True)
    g.add_argument("--files-json", help="local JSON file list instead of the PRIDE WS")
    g.add_argument("--publication-date", help="yyyy-MM-dd; skips the project WS call")
    g.set_defaults(fn=cmd_get_related_files)

    g = sub.add_parser("generate-index-files", help="the main indexing query (§3.1)")
    g.add_argument("--project", required=True)
    g.add_argument("--result-files", nargs="+", required=True)
    g.add_argument("--spectra-files", nargs="+", required=True)
    g.add_argument("--output-dir", required=True)
    _add_index_flags(g)
    _add_layout_flags(g)
    g.set_defaults(fn=cmd_generate_index_files)

    g = sub.add_parser("perform-inference", help="cluster-consensus rescoring (§3.2)")
    g.add_argument("--archive-json", required=True)
    g.add_argument("--clusters-tsv", help="MaraCluster TSV; omit for native clustering")
    g.add_argument("--output-dir", required=True)
    g.set_defaults(fn=cmd_perform_inference)

    g = sub.add_parser(
        "run-pipeline", help="§3.3 post-download DAG in one Spark app (index→check→MGF→inference)"
    )
    g.add_argument("--project", required=True)
    g.add_argument("--result-files", nargs="+", required=True)
    g.add_argument("--spectra-files", nargs="+", required=True)
    g.add_argument("--output-dir", required=True)
    g.add_argument("--clusters-tsv", help="MaraCluster TSV; omit for native clustering")
    _add_index_flags(g)
    _add_layout_flags(g)
    g.set_defaults(fn=cmd_run_pipeline)

    g = sub.add_parser(
        "run-reanalysis",
        help="reanalysis.nf DAG: folder-glob mztab+mzid -> index files "
        "stamped with the reanalysis accession",
    )
    g.add_argument("--project", required=True)
    g.add_argument("--reanalysis-accession", required=True)
    g.add_argument("--reanalysis-folder", required=True)
    g.add_argument("--output-dir", required=True)
    _add_index_flags(g, reanalysis=True)
    g.set_defaults(fn=cmd_run_reanalysis)

    g = sub.add_parser("generate-mgf-files", help="MGF export of archive spectra (K5)")
    g.add_argument("--archive-json", required=True)
    g.add_argument("--output", required=True)
    g.set_defaults(fn=cmd_generate_mgf_files)

    g = sub.add_parser(
        "curate-corpus",
        help="training-corpus curation: quality/language gates, exact + "
        "near dedup (LSH, keep lowest id per component), deterministic "
        "split; writes parquet partitioned by split + a drop-accounting "
        "report (plans/curate_corpus.py)",
    )
    g.add_argument("--documents", required=True, help="input documents parquet")
    g.add_argument("--output-dir", required=True)
    g.add_argument("--text-col", default="text")
    g.add_argument("--id-col", default="doc_id")
    g.add_argument("--languages", help="comma-separated allow-list (detected language)")
    g.add_argument("--min-quality", type=float, default=0.0)
    g.add_argument("--min-tokens", type=int, default=0)
    g.add_argument("--max-tokens", type=int)
    g.add_argument("--near-dup-threshold", type=float, default=0.8)
    g.add_argument(
        "--max-bucket", type=int,
        help="LSH bucket cap for adversarial skew (drops accounted, not silent)",
    )
    g.add_argument("--split", default="train=0.9,valid=0.05,test=0.05")
    g.add_argument("--split-seed", default="split")
    g.set_defaults(fn=cmd_curate_corpus)

    g = sub.add_parser("spectra-json-check", help="F12 validity check of archive spectra")
    g.add_argument("--archive-json", required=True)
    g.set_defaults(fn=cmd_spectra_json_check)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
