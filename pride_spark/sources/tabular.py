"""Tabular sources: MaraCluster TSV and SDRF sample tables.

SURVEY §2.1 S11–S12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class DuplicateSpectrumIndexError(ValueError):
    """Raised when a MaraCluster file assigns one spectrum to two clusters."""


def read_maracluster(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S11 — MaraCluster 3-column TSV ``(spectraFile, spectrumIndex, clusterId)``.

    The reference errors on a duplicated spectrum index
    (``/root/reference/src/.../services/PSMClusteringService.java:64-89``);
    here the duplicate check is a distributed groupBy instead of a HashMap
    membership test.
    """
    df = (
        spark.read.csv(path, sep="\t", header=False)
        .toDF("spectraFile", "spectrumIndex", "clusterId")
        .withColumn("spectrumIndex", F.col("spectrumIndex").cast("int"))
        .withColumn("clusterId", F.col("clusterId").cast("int"))
    )
    dups = (
        df.groupBy("spectraFile", "spectrumIndex")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dups:
        r = dups[0]
        raise DuplicateSpectrumIndexError(
            f"spectrum {r['spectraFile']}:{r['spectrumIndex']} appears in multiple clusters"
        )
    return df


def read_sdrf(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S12 — SDRF sample table → long-form per-file characteristics.

    The reference walks the header extracting ``comment[data file]`` plus
    every ``characteristics[X]`` column into a per-file Param set
    (``PrideAnalysisAssayService.java:314-357``).  Spark shape: read with
    header, then melt the characteristics columns via ``stack`` — the
    melt is a projection, no shuffle.

    Output: ``(dataFile, name, value)`` with ``name`` the text inside
    ``characteristics[...]``.
    """
    df = spark.read.csv(path, sep="\t", header=True)
    cols = df.columns
    file_col = next((c for c in cols if c.lower() == "comment[data file]"), None)
    if file_col is None:
        # a bare next() raised StopIteration here — a confusing crash for
        # a malformed-but-real input; name the missing column (r11 review)
        raise ValueError(
            "SDRF table has no 'comment[data file]' column; "
            f"header was: {cols}"
        )
    chars = [c for c in cols if c.lower().startswith("characteristics[")]
    if not chars:
        return df.select(
            F.col(file_col).alias("dataFile"),
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("value"),
        ).limit(0)

    # Characteristic names go in as F.lit COLUMNS, never as SQL literal
    # text: interpolating them into an F.expr string broke on apostrophes
    # (r11 review) and no static escaping covers both parser modes —
    # backslashes and '' doubling parse differently under
    # spark.sql.parser.escapedStringLiterals (r11 advice, verified both
    # modes).  Duplicate header names are fine (Spark dedup-suffixes
    # them AFTER the ']' so extraction is unaffected).
    pairs: list = []
    for c in chars:
        pairs.append(F.lit(c[c.index("[") + 1 : c.rindex("]")]))
        pairs.append(df[c])  # exact-name resolution — no backtick parsing
    return df.select(
        F.col(file_col).alias("dataFile"),
        F.stack(F.lit(len(chars)), *pairs).alias("name", "value"),
    ).filter(F.col("value").isNotNull())
