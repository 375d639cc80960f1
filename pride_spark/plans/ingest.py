"""File-level ingestion glue: raw result/spectra files → plan-ready frames.

Promotes the wiring the reference does inside
``PrideAnalysisAssayService.java:242-304`` (open ident files, resolve the
spectra file each PSM points at, normalize spectrum ids, derive the
peptidoform) into two reusable driver-side dispatch functions.  All the
actual parsing stays in the distributed readers (``sources/``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pride_spark.functions.proforma import encode_peptidoform
from pride_spark.functions.spectrum_id import normalize_spectrum_id
from pride_spark.session import local_frame
from pride_spark.sources.apl import read_apl
from pride_spark.sources.mgf import read_mgf
from pride_spark.sources.mzid import read_mzid_psms
from pride_spark.sources.dispatch import sniff_pride_xml
from pride_spark.sources.mzml import read_mzml, read_mzxml, read_pkl, read_pridexml
from pride_spark.sources.mztab import read_mztab_psms


def _ext(path: str) -> str:
    base = path.lower()
    for c in (".gz", ".zip"):
        if base.endswith(c):
            base = base[: -len(c)]
    return os.path.splitext(base)[1].lstrip(".")


def _sniff_xml(path: str) -> str:
    """Content-sniff a ``.xml`` (possibly ``.xml.gz``) file.  ``_ext``
    strips the ``.gz`` suffix, so a gzipped file reaches the sniff too —
    read through :func:`xmlstream.open_xml`, which decompresses, instead
    of raw bytes (raw gzip bytes decode to garbage and every gzipped
    mzIdentML-in-``.xml`` would misroute to the PRIDE XML reader).

    Window = the first 20 LINES, the reference's exact contract
    (``SubmissionPipelineUtils.java:403-421`` reads 20 readLine()s) —
    a fixed 2048-byte read missed root tags behind a long prolog or
    comment block (r10 review).  Each line is capped at 64 KiB so a
    pathological single-line file stays bounded; the substring match
    itself (an 'mzidentml' mention anywhere in the window wins) is
    reference parity, shared false-positive surface included."""
    from pride_spark.sources.xmlstream import open_xml

    lines = []
    with open_xml(path) as fh:
        for _ in range(20):
            line = fh.readline(65536)
            if not line:
                break
            lines.append(line)
    return sniff_pride_xml(b"".join(lines).decode("utf-8", errors="replace"))


#: spectra extension → (reader, id-format tag fed to C9, join key column)
_SPECTRA_READERS = {
    "apl": (read_apl, "MULTI_PEAK", "index"),
    "mgf": (read_mgf, "MULTI_PEAK", "index"),
    "mzml": (read_mzml, "MZML", "spectrumId"),
    "mzxml": (read_mzxml, "NATIVE", "spectrumId"),
    "pkl": (read_pkl, "MULTI_PEAK", "index"),
    "xml": (read_pridexml, "NATIVE", "spectrumId"),
}


def stage_compressed(paths: list[str], stage_dir: str | None = None) -> list[str]:
    """S14 — make every input path Spark-readable.

    ``.gz`` passes through untouched (Spark's codec layer decompresses
    natively).  ``.zip`` has no Spark read path, so each archive's file
    members are streamed out to ``stage_dir`` (a temp dir when omitted)
    and the extracted paths replace the archive — the Spark analogue of
    the reference's decompress-to-internal-copy step
    (``SubmissionPipelineUtils.java:385-395``; zip recognized at
    ``:39-41,151-152``).  Multi-member archives fan out to one path per
    member.

    Scale note: a zip is not splittable, so per-archive streaming is the
    parallelism ceiling regardless of engine; on a cluster this staging
    belongs in the fetch/localize task that already copies remote
    payloads (sources/dispatch.fetch_remote), keeping executors reading
    only decompressed, splittable files.
    """
    import shutil
    import tempfile
    import zipfile

    out = []
    for k, p in enumerate(paths):
        if not p.lower().endswith(".zip"):
            out.append(p)
            continue
        if stage_dir is None:
            stage_dir = tempfile.mkdtemp(prefix="pride_unzip_")
        # one subdirectory per archive, member paths preserved beneath
        # it: members keep their basenames (downstream name joins rely
        # on them) and equal basenames — within one archive's subdirs or
        # across archives — can never overwrite each other.  A repeated
        # IDENTICAL member path (legal in the zip format, e.g. an
        # appended update) is disambiguated with a numeric suffix so
        # both payloads survive.
        arch_dir = os.path.normpath(
            os.path.join(stage_dir, f"{os.path.splitext(os.path.basename(p))[0]}-{k}")
        )
        with zipfile.ZipFile(p.removeprefix("file:")) as zf:
            # open by ZipInfo, not name: name lookup resolves a repeated
            # member path to its LAST entry, which would extract one
            # payload twice instead of both
            members = [m for m in zf.infolist() if not m.filename.endswith("/")]
            if not members:
                raise ValueError(f"empty zip archive: {p}")
            taken: set[str] = set()
            for member in members:
                name = member.filename
                target = os.path.normpath(os.path.join(arch_dir, name))
                if not target.startswith(arch_dir + os.sep):
                    raise ValueError(f"unsafe member path {name!r} in {p}")
                if target in taken:
                    root, ext = os.path.splitext(target)
                    i = 1
                    while f"{root}-{i}{ext}" in taken:
                        i += 1
                    target = f"{root}-{i}{ext}"
                taken.add(target)
                os.makedirs(os.path.dirname(target), exist_ok=True)
                with zf.open(member) as src, open(target, "wb") as dst:
                    shutil.copyfileobj(src, dst)
                out.append(target)
    return out


def read_spectra_any(
    spark: SparkSession, paths: list[str], *, stage_dir: str | None = None
) -> DataFrame:
    """S5+S6 — dispatch each file to its format reader, union the canonical
    frames.  Grouped per format so each reader scans its whole file set in
    one distributed pass.  Zip archives are expanded first
    (:func:`stage_compressed`, S14).  ``.xml`` runs the S4 content sniff
    first (one tiny driver-side read per file,
    SubmissionPipelineUtils.java:403-421): an mzIdentML file is a RESULT
    file and is rejected here."""
    paths = stage_compressed(paths, stage_dir)
    by_fmt: dict[str, list[str]] = {}
    for p in paths:
        e = _ext(p)
        if e not in _SPECTRA_READERS:
            raise ValueError(f"unsupported spectra format: {p}")
        if e == "xml":
            if _sniff_xml(p) != "PRIDE":
                raise ValueError(f"{p} is mzIdentML (a result file), not PRIDE XML spectra")
        by_fmt.setdefault(e, []).append(p)
    out = None
    for e, group in by_fmt.items():
        df = _SPECTRA_READERS[e][0](spark, group)
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError("no spectra files given")
    return out


def read_psms_any(
    spark: SparkSession, paths: list[str], *, stage_dir: str | None = None
) -> DataFrame:
    """S3 — mzIdentML / mzTab / legacy PRIDE XML dispatch to one
    canonical psms frame.  Zipped result files are expanded first (S14 —
    the reference accepts .zip result files too,
    ``SubmissionPipelineUtils.java:175``)."""
    paths = stage_compressed(paths, stage_dir)
    # '.mzidentml' is an accepted alias for '.mzid'
    # (SubmissionPipelineUtils.java:107 routes both to MZID)
    mzids = [p for p in paths if _ext(p) in ("mzid", "mzidentml")]
    mztabs = [p for p in paths if _ext(p) == "mztab"]
    # the reference routes a bare '.xml' RESULT file through the S4
    # content sniff: mzIdentML inside → MZID, otherwise legacy PRIDE XML
    # (SubmissionPipelineUtils.java:106-128, :403-421 — PIA accepts both)
    pridexmls = []
    for p in paths:
        if _ext(p) != "xml":
            continue
        if _sniff_xml(p) == "MZID":
            mzids.append(p)
        else:
            pridexmls.append(p)
    unknown = set(paths) - set(mzids) - set(mztabs) - set(pridexmls)
    if unknown:
        raise ValueError(f"unsupported result format(s): {sorted(unknown)}")
    frames = []
    if mzids:
        frames.append(read_mzid_psms(spark, mzids))
    if pridexmls:
        from pride_spark.sources.pridexml import read_pridexml_psms

        frames.append(read_pridexml_psms(spark, pridexmls))
    for p in mztabs:  # mzTab carries per-file ms_run context → one scan each
        frames.append(_mztab_as_canonical(spark, p))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def read_author_proteins(
    spark: SparkSession, paths: list[str], *, stage_dir: str | None = None
) -> DataFrame | None:
    """Author-supplied protein rows (mzTab PRH/PRT sections) from the
    submission's result files — the pass-through fidelity surface: the
    reference consumes the FULL mzTab through the PIA compiler, so
    author-reported protein evidence survives into its model
    (``PIAModelerService.java:162-189``); here the same rows are exposed
    as one frame (with a ``fileName`` column for multi-file merges) for
    callers to join as properties into the protein-evidence output (T3)
    or publish alongside it.

    Returns ``None`` when no result file carries a PRT section — mzid
    and PRIDE XML submissions have no author-protein table."""
    from pride_spark.sources.mztab import read_mztab_proteins

    paths = stage_compressed(paths, stage_dir)
    frames = []
    for p in paths:
        if _ext(p) != "mztab":
            continue
        try:
            df = read_mztab_proteins(spark, p)
        except ValueError:  # no PRH header in this file
            continue
        frames.append(
            df.select(
                F.element_at(F.split(F.lit(p), "/"), -1).alias("fileName"), "*"
            )
        )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _mztab_as_canonical(spark: SparkSession, path: str) -> DataFrame:
    psms = read_mztab_psms(spark, path)
    # mzTab PSM `modifications` is a comma list of `{pos}-{accession}`
    # entries ("3-UNIMOD:21", ambiguous "3|4-UNIMOD:21", "null"/"" for
    # none) — parse into the canonical mod struct the mzid reader
    # produces (ambiguity resolves to the FIRST listed position, the
    # same first-wins the reference's PIA intermediate applies).  mzTab
    # carries no mod NAME inline, so `name` is the accession text —
    # keeps modificationNames/peptidoform non-null downstream.
    mod_t = "array<struct<position:int,accession:string,name:string>>"
    if "modificationsRaw" in psms.columns:
        # split only on commas OUTSIDE a bracketed CV-param block — the
        # qualifier itself contains commas ("3[MS,MS:1001876,...]-...")
        entries = F.filter(
            F.split(F.col("modificationsRaw"), r",(?![^\[]*\])"),
            lambda s: s.rlike(r"^[0-9]"),  # drops 'null' / '' markers
        )
        # each position may carry a bracketed CV-param qualifier, e.g.
        # "3[MS,MS:1001876,probability,0.8]-UNIMOD:21" (also on each arm
        # of an ambiguous "3[..]|4[..]" list) — skip them, keep the acc
        acc = lambda s: F.regexp_extract(  # noqa: E731
            s, r"^\d+(?:\[[^\]]*\])?(?:\|\d+(?:\[[^\]]*\])?)*-(.*)$", 1
        )
        mods = F.transform(
            entries,
            lambda s: F.struct(
                F.regexp_extract(s, r"^(\d+)", 1).cast("int").alias("position"),
                acc(s).alias("accession"),
                acc(s).alias("name"),
            ),
        ).cast(mod_t)
    else:
        mods = F.lit(None).cast(mod_t)
    return psms.select(
        F.element_at(F.split(F.lit(path), "/"), -1).alias("fileName"),
        F.col("psmId"),
        F.col("sourceId"),
        F.concat(F.lit("ms_run["), F.col("msRun"), F.lit("]")).alias("spectraDataRef"),
        F.col("peptideSequence"),
        mods.alias("modifications"),
        F.col("precursorCharge"),
        F.col("massToCharge"),
        F.col("score"),
        F.col("isDecoy"),
        F.array(F.col("proteinAccession")).alias("proteinAccessions"),
        F.lit(1).alias("rank"),
    )


def prepare_psms(
    psms: DataFrame,
    spectra_file: str,
    *,
    id_format: str | None = None,
    zero_based_index: bool = True,
    file_col: str | None = None,
) -> DataFrame:
    """Canonical psms frame → the plan-ready shape ``stage1``/``stage2``
    consume: normalized ``spectrumKey``, ``fileName`` = spectra file,
    ProForma ``peptidoform``, ``modificationNames``, ``precursorMz``.

    ``file_col``: per-PSM spectra-file column (from
    :func:`route_psms_to_spectra`) for multi-spectra-file submissions —
    without it every PSM is stamped with ``spectra_file``'s basename,
    which is only correct for the single-spectra-file shape.
    ``spectra_file`` still picks the id normalization format (the
    multi-file caller asserts a uniform format across files).
    """
    fmt = id_format or _SPECTRA_READERS[_ext(spectra_file)][1]
    key = normalize_spectrum_id("sourceId", F.lit(fmt))
    if fmt == "MULTI_PEAK":
        key = key.cast("int")
        if zero_based_index:
            key = key - 1  # C9 repairs ids to 1-based; MGF index joins 0-based
    base = os.path.basename(spectra_file)
    mods = F.coalesce(
        F.col("modifications"),
        F.array().cast("array<struct<position:int,accession:string,name:string>>"),
    )
    fname = F.col(file_col) if file_col else F.lit(base)
    out = (
        psms.withColumn("spectrumKey", key)
        .withColumn("fileName", fname)
        .withColumn("modificationNames", F.transform(mods, lambda m: m["name"]))
        .withColumn(
            "peptidoform",
            encode_peptidoform("peptideSequence", mods, "precursorCharge"),
        )
        .withColumn("precursorMz", F.col("massToCharge"))
        .withColumnRenamed("modifications", "modificationsRaw")
    )
    return out.drop(file_col) if file_col else out


def route_psms_to_spectra(
    psms: DataFrame,
    spectra_data: DataFrame,
    spectra_files: list[str],
    *,
    out_col: str = "__specFile",
) -> DataFrame:
    """Multi-spectra-file routing (J3∘J4): stamp each PSM with the USER
    spectra file its ``spectraDataRef`` resolves to.

    The reference resolves every PSM's spectrum through its SpectraData
    entry (``PrideAnalysisAssayService.java:867-896``); the previous CLI
    wiring stamped EVERY PSM with the first spectra file's basename,
    silently joining run2's identifications to run1's peaks on
    multi-spectra-file submissions (r10 review).  Mapping:
    ``(fileName=result file, spectraDataRef)`` → SpectraData ``location``
    basename → case-folded extension-stripped match against
    ``spectra_files`` (the same J3 key :func:`relate_spectra_files`
    uses).  A ref with no matching user file raises
    :class:`SpectraRelationError` — the reference's cardinality abort.
    """
    from pride_spark.functions.strings import file_name_no_extension
    from pride_spark.operators.joins import SpectraRelationError

    spark = psms.sparkSession
    user = local_frame(
        spark, [(os.path.basename(p),) for p in spectra_files], "__specFile string"
    ).withColumn(
        "__key", F.lower(file_name_no_extension(F.col("__specFile")))
    )
    # two spectra files sharing a case-folded stem (RUN1.mgf vs run1.mzML,
    # or same basename from two directories) would fan the refs→user left
    # join out to duplicate __key rows, silently duplicating every routed
    # PSM downstream — refuse the ambiguous submission instead (r10 advice)
    dup = (
        user.groupBy("__key")
        .agg(F.collect_set("__specFile").alias("__files"))
        .filter(F.size("__files") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        clash = "; ".join(f"{r['__key']} <- {sorted(r['__files'])}" for r in dup)
        raise SpectraRelationError(
            f"spectra files with colliding case-folded stems (routing would "
            f"be ambiguous): {clash}"
        )
    refs = spectra_data.select(
        F.col("fileName").alias("__resFile"),
        F.col("id").alias("__sdRef"),
        F.lower(file_name_no_extension(F.col("location"))).alias("__key"),
    )
    rel = refs.join(user, "__key", "left")
    bad = rel.filter(F.col("__specFile").isNull()).limit(5).collect()
    if bad:
        missing = ", ".join(f"{r['__resFile']}:{r['__sdRef']}" for r in bad)
        raise SpectraRelationError(
            f"SpectraData refs with no matching spectra file: {missing}"
        )
    mapping = rel.select("__resFile", "__sdRef", F.col("__specFile").alias(out_col))
    routed = psms.join(
        F.broadcast(mapping),
        (psms["fileName"] == mapping["__resFile"])
        & (psms["spectraDataRef"] == mapping["__sdRef"]),
        "left",
    ).drop("__resFile", "__sdRef")
    # a PSM whose ref didn't resolve (null spectraDataRef) keeps no
    # route; fail loudly rather than joining it to the wrong file
    unrouted = routed.filter(F.col(out_col).isNull()).limit(1).collect()
    if unrouted:
        raise SpectraRelationError(
            "PSM rows with no resolvable SpectraData ref on a "
            "multi-spectra-file submission (null or unknown spectraDataRef)"
        )
    return routed


def keyed_spectra(
    spectra: DataFrame, spectra_file: str, *, id_format: str | None = None
) -> DataFrame:
    """The spectra-side half of the S7 join contract: project the
    canonical spectra frame to ``(fileName, spectrumKey, masses,
    intensities)`` with ``spectrumKey`` under the SAME C9 normalization
    :func:`prepare_psms` applies to the PSM side.

    For MULTI_PEAK formats the key is the reader's 0-based ``index``.
    For XML formats it is the NORMALIZED ``spectrumId`` — a Thermo
    nativeID like ``controllerType=0 controllerNumber=1 scan=7``
    normalizes to ``7`` on the PSM side, so joining the raw id string
    would silently match nothing (the BSA golden fixture is the
    regression for exactly that)."""
    fmt = id_format or _SPECTRA_READERS[_ext(spectra_file)][1]
    if fmt == "MULTI_PEAK":
        key = F.col("index")
    else:
        key = normalize_spectrum_id("spectrumId", F.lit(fmt))
    return spectra.select(
        "fileName", key.alias("spectrumKey"), "masses", "intensities"
    )
