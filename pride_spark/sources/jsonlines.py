"""JSON-lines IO for the three record tables (T1/T2/T3) — schema-explicit.

Reference: one-JSON-object-per-line files written via Jackson
(``/root/reference/src/.../utility/BackupUtil.java:27-47``) and point-read
through a hand-rolled ``usi → byte offset`` index
(``/root/reference/src/.../proteomics/PrideJsonRandomAccess.java:39-73``).

Spark replaces the offset index entirely: a schema-explicit
``spark.read.json`` is a distributed scan, and point lookups are joins on
``usi`` (SURVEY §1.4).  No schema inference ever runs — inference would
require an extra pass over 100 TB and can mistype NaN-able doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pride_spark import schemas
from pride_spark.session import local_frame


def read_jsonlines(spark: SparkSession, path: str | list[str], schema: StructType) -> DataFrame:
    """S9/S10 — distributed scan of a JSON-lines table with a fixed schema."""
    return spark.read.schema(schema).json(path)


def read_archive_spectra(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_jsonlines(spark, path, schemas.BINARY_ARCHIVE_SPECTRUM)


def read_summary_spectra(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_jsonlines(spark, path, schemas.SUMMARY_ARCHIVE_SPECTRUM)


def read_protein_evidence(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_jsonlines(spark, path, schemas.ARCHIVE_PROTEIN_EVIDENCE)


def point_lookup(table: DataFrame, usis: DataFrame | list[str], usi_col: str = "usi") -> DataFrame:
    """S10 — the reference's seek-by-offset read is a join on ``usi``.

    Parquet/JSON min-max pruning plus a broadcast of the (always small)
    key set replaces the byte-offset index at any scale.
    """
    from pyspark.sql import functions as F

    if isinstance(usis, list):
        usis = local_frame(table.sparkSession, [(u,) for u in usis], f"{usi_col} string")
    return table.join(F.broadcast(usis.select(usi_col).distinct()), usi_col, "left_semi")


def write_jsonlines(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """K1/K3 — JSON-lines writer; optional partitioning by source file.

    The reference writes one file per ``usi.split(':')[2]`` (the source
    file name) at ``PrideAnalysisAssayService.java:766-776``; Spark's
    ``partitionBy`` gives the same layout with an atomic commit (K7's
    cleanup-on-failure is the committer's job here).
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.json(path)


def write_jsonlines_validated(
    df: DataFrame,
    path: str,
    schema: StructType,
    partition_by: str | None = None,
    required_arrays: tuple[str, ...] = ("masses", "intensities"),
) -> None:
    """K2 — round-trip-validated write: serialize, re-read with the same
    schema, assert arrays are non-empty and row counts match.

    Ref: utility/BackupUtil.java:27-40 (the reference re-parses EVERY row
    before writing it; Spark's committer already guarantees atomicity, so
    one post-write distributed assertion replaces 8M per-row reparses).

    The input count rides the write itself via ``observe`` — a separate
    ``df.count()`` executed the ENTIRE upstream plan a second time for
    un-persisted callers (r10 review).  The re-read's row count and the
    per-column validity counts fold into ONE aggregate over the written
    files.
    """
    from pyspark.sql import Observation

    obs = Observation("k2_in")
    write_jsonlines(df.observe(obs, F.count(F.lit(1)).alias("n")), path, partition_by)
    n_in = obs.get["n"]
    back = df.sparkSession.read.schema(schema).json(path)
    # one invalid ROW counts once however many required arrays it fails;
    # the OR-fold over an EMPTY required_arrays is a constant false (the
    # old string-join built filter("") and threw a ParseException)
    bad_row = F.lit(False)
    for c in required_arrays:
        bad_row = bad_row | F.col(c).isNull() | (F.size(F.col(c)) <= 0)
    row = back.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(bad_row.cast("long")).alias("__bad"),
    ).first()
    n_out = row["__n"]
    bad = row["__bad"] or 0
    if n_out != n_in or bad:
        raise ValueError(
            f"round-trip validation failed: wrote {n_in}, read {n_out}, invalid {bad}"
        )
