"""mzTab identification reader (SURVEY §2.1 S3) — pure Spark text ops.

The reference hands mzTab files to the PIA compiler
(``/root/reference/src/.../proteomics/PIAModelerService.java:162-189``).
mzTab is line-oriented: ``MTD`` metadata lines, one ``PSH`` header line
naming the PSM columns, and ``PSM`` data lines — so the whole parse is a
distributed text scan + split, no XML library and no Python row loop:

- ``MTD ms_run[i]-location`` lines give the spectra-file map;
- the ``PSH`` line (one per file, read on the driver) fixes column order;
- ``PSM`` lines project into the canonical psms frame.

``spectra_ref`` (``ms_run[1]:index=4`` / ``…:scan=97``) is split into
``msRun`` + raw ``sourceId``; id normalization (C9) is applied downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: mzTab PSM columns we project (name in PSH → output column)
_COLS = {
    "sequence": "peptideSequence",
    "PSM_ID": "psmId",
    "accession": "proteinAccession",
    "search_engine_score[1]_PSM": "score",
    "search_engine_score[1]": "score",
    "modifications": "modificationsRaw",
    "spectra_ref": "spectraRef",
    "retention_time": "retentionTime",
    "charge": "precursorCharge",
    "exp_mass_to_charge": "massToCharge",
    "opt_global_cv_MS:1002217_decoy_peptide": "isDecoyRaw",
}


def read_mztab_psms(spark: SparkSession, path: str) -> DataFrame:
    """One mzTab file → canonical psms DataFrame (distributed scan)."""
    lines = spark.read.text(path)
    header = (
        lines.filter(F.col("value").startswith("PSH\t")).limit(1).collect()
    )
    if not header:
        raise ValueError(f"no PSH header line in {path}")
    names = header[0]["value"].split("\t")[1:]
    psm = lines.filter(F.col("value").startswith("PSM\t")).select(
        F.split(F.col("value"), "\t").alias("f")
    )
    cols = []
    seen = set()
    for i, name in enumerate(names):
        out = _COLS.get(name)
        if out and out not in seen:
            seen.add(out)
            cols.append(F.col("f").getItem(i + 1).alias(out))
    df = psm.select(*cols)
    null = F.lit(None)
    if "retentionTime" in df.columns:
        df = df.withColumn(
            "retentionTime", F.nullif(F.col("retentionTime"), F.lit("null")).cast("double")
        )
    if "precursorCharge" in df.columns:
        df = df.withColumn("precursorCharge", F.col("precursorCharge").cast("int"))
    if "massToCharge" in df.columns:
        df = df.withColumn("massToCharge", F.col("massToCharge").cast("double"))
    if "score" in df.columns:
        df = df.withColumn("score", F.nullif(F.col("score"), F.lit("null")).cast("double"))
    if "isDecoyRaw" in df.columns:
        df = df.withColumn("isDecoy", F.col("isDecoyRaw") == "1").drop("isDecoyRaw")
    else:
        df = df.withColumn("isDecoy", null.cast("boolean"))
    if "spectraRef" in df.columns:
        df = (
            df.withColumn(
                "msRun", F.regexp_extract("spectraRef", r"ms_run\[(\d+)\]", 1).cast("int")
            )
            .withColumn("sourceId", F.regexp_extract("spectraRef", r"ms_run\[\d+\]:(.*)", 1))
            .drop("spectraRef")
        )
    return df


#: mzTab protein-section columns we project (name in PRH → output column)
_PRT_COLS = {
    "accession": "accession",
    "description": "description",
    "taxid": "taxid",
    "species": "species",
    "database": "database",
    "database_version": "databaseVersion",
    "best_search_engine_score[1]": "bestSearchEngineScore",
    "ambiguity_members": "ambiguityMembersRaw",
    "modifications": "modificationsRaw",
    "protein_coverage": "proteinCoverage",
    "opt_global_cv_PRIDE:0000303_decoy_hit": "isDecoyRaw",
    "opt_global_cv_MS:1002217_decoy_peptide": "isDecoyRaw",
}

#: mzTab peptide-section columns we project (name in PEH → output column)
_PEP_COLS = {
    "sequence": "peptideSequence",
    "accession": "proteinAccession",
    "unique": "uniqueRaw",
    "best_search_engine_score[1]": "bestSearchEngineScore",
    "modifications": "modificationsRaw",
    "retention_time": "retentionTime",
    "charge": "precursorCharge",
    "mass_to_charge": "massToCharge",
    "spectra_ref": "spectraRef",
}


def _read_section(
    spark: SparkSession, path: str, header_tag: str, row_tag: str, colmap: dict[str, str]
) -> DataFrame:
    """Shared PRT/PEP scan: one driver read of the section header line to
    fix column order, then a distributed projection of the data rows —
    the identical pattern :func:`read_mztab_psms` uses for PSH/PSM."""
    lines = spark.read.text(path)
    header = (
        lines.filter(F.col("value").startswith(header_tag + "\t")).limit(1).collect()
    )
    if not header:
        raise ValueError(f"no {header_tag} header line in {path}")
    names = header[0]["value"].split("\t")[1:]
    rows = lines.filter(F.col("value").startswith(row_tag + "\t")).select(
        F.split(F.col("value"), "\t").alias("f")
    )
    cols, seen = [], set()
    for i, name in enumerate(names):
        out = colmap.get(name)
        if out and out not in seen:
            seen.add(out)
            cols.append(F.col("f").getItem(i + 1).alias(out))
    return rows.select(*cols)


def _null_str(col: str):
    return F.nullif(F.nullif(F.col(col), F.lit("null")), F.lit(""))


def read_mztab_proteins(spark: SparkSession, path: str) -> DataFrame:
    """PRH/PRT section → one row per author-reported protein.

    The reference consumes the FULL mzTab through the PIA compiler
    (``PIAModelerService.java:162-189``), so author-supplied protein rows
    survive into its model; this reader preserves that pass-through
    fidelity on the Spark side.  ``ambiguity_members`` splits into an
    array; decoy opt columns map to ``isDecoy``; numeric columns typed."""
    df = _read_section(spark, path, "PRH", "PRT", _PRT_COLS)
    if "taxid" in df.columns:
        df = df.withColumn("taxid", _null_str("taxid").cast("int"))
    if "bestSearchEngineScore" in df.columns:
        df = df.withColumn(
            "bestSearchEngineScore", _null_str("bestSearchEngineScore").cast("double")
        )
    if "proteinCoverage" in df.columns:
        df = df.withColumn(
            "proteinCoverage", _null_str("proteinCoverage").cast("double")
        )
    if "ambiguityMembersRaw" in df.columns:
        df = df.withColumn(
            "ambiguityMembers",
            F.when(
                _null_str("ambiguityMembersRaw").isNotNull(),
                F.split(F.col("ambiguityMembersRaw"), ","),
            ).otherwise(F.array().cast("array<string>")),
        ).drop("ambiguityMembersRaw")
    if "isDecoyRaw" in df.columns:
        df = df.withColumn("isDecoy", F.col("isDecoyRaw") == "1").drop("isDecoyRaw")
    else:
        df = df.withColumn("isDecoy", F.lit(None).cast("boolean"))
    return df


def read_mztab_peptides(spark: SparkSession, path: str) -> DataFrame:
    """PEH/PEP section → one row per author-reported peptide, with
    ``spectra_ref`` split into ``msRun``/``sourceId`` exactly like the
    PSM reader (same downstream C9 normalization applies)."""
    df = _read_section(spark, path, "PEH", "PEP", _PEP_COLS)
    if "uniqueRaw" in df.columns:
        df = df.withColumn("unique", F.col("uniqueRaw") == "1").drop("uniqueRaw")
    if "bestSearchEngineScore" in df.columns:
        df = df.withColumn(
            "bestSearchEngineScore", _null_str("bestSearchEngineScore").cast("double")
        )
    if "retentionTime" in df.columns:
        df = df.withColumn("retentionTime", _null_str("retentionTime").cast("double"))
    if "precursorCharge" in df.columns:
        df = df.withColumn(
            "precursorCharge", _null_str("precursorCharge").cast("int")
        )
    if "massToCharge" in df.columns:
        df = df.withColumn("massToCharge", _null_str("massToCharge").cast("double"))
    if "spectraRef" in df.columns:
        df = (
            df.withColumn(
                "msRun", F.regexp_extract("spectraRef", r"ms_run\[(\d+)\]", 1).cast("int")
            )
            .withColumn("sourceId", F.regexp_extract("spectraRef", r"ms_run\[\d+\]:(.*)", 1))
            .drop("spectraRef")
        )
    return df
