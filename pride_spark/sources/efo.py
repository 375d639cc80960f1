"""EFO ontology term source + SDRF characteristic enrichment (J10).

The reference enriches every SDRF ``characteristics[X]`` key with the
matching EFO ontology term before building per-file sample Params:
``PrideAnalysisAssayService.java:99`` constructs PIA's
``OboMapper.getEFOOboMapper`` and ``:342-346`` does
``efoOboMapper.getTermByName(key)`` per characteristic, attaching the
resolved term to the Param (null accession when the name is unknown).

Spark-first shape: the ontology is a *dimension table* ``efo_terms
(accession, name)`` loaded once from an OBO or TSV file, and enrichment
is a broadcast left join on the case-normalized term name — never a
per-row lookup UDF.  At 100 TB of melted characteristics the dim side
stays ontology-sized (EFO ≈ 60k terms, a few MB), so the join is always
a map-side broadcast with zero shuffle of the fact side.

OBO parsing is pure JVM Column work: ``wholetext`` read → stanza split →
``regexp_extract`` — no Python in the loop, and a multi-file directory
of OBO shards parallelizes per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_efo_obo(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """OBO file(s) → ``efo_terms(accession, name)``.

    Parses ``[Term]`` stanzas: ``id:`` → accession, ``name:`` → name;
    obsolete terms (``is_obsolete: true``) are dropped, matching the
    behavior a name-keyed mapper needs (an obsolete term's name must not
    shadow its replacement).  Whole-file read (OBO stanzas span lines, so
    line-mode would need an ordered window); one row per input file, then
    the stanza explode fans back out — ontology files are dim-sized, so
    a single-row file per executor is fine.
    """
    raw = spark.read.text(path, wholetext=True)
    stanza = (
        raw.select(F.explode(F.split("value", r"\n\s*\n")).alias("st"))
        .filter(F.col("st").startswith("[Term]"))
        .filter(~F.col("st").contains("\nis_obsolete: true"))
    )
    return (
        stanza.select(
            F.regexp_extract("st", r"(?m)^id:\s*(\S+)", 1).alias("accession"),
            F.regexp_extract("st", r"(?m)^name:\s*(.+?)\s*$", 1).alias("name"),
        )
        .filter((F.col("accession") != "") & (F.col("name") != ""))
        # deterministic row per accession (multi-shard OBO directories can
        # repeat ids; dropDuplicates would pick an arbitrary copy)
        .groupBy("accession")
        .agg(F.min("name").alias("name"))
    )


def read_efo_tsv(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Pre-extracted term table: TSV with ``accession`` and ``name``
    header columns (the common ontology-dump interchange shape)."""
    df = spark.read.csv(path, sep="\t", header=True)
    return df.select(
        F.col("accession").cast("string"),
        F.col("name").cast("string"),
    ).filter(F.col("accession").isNotNull() & F.col("name").isNotNull())


def enrich_with_efo(characteristics: DataFrame, efo_terms: DataFrame) -> DataFrame:
    """Attach EFO accessions to melted SDRF characteristics.

    ``characteristics`` is ``read_sdrf`` output ``(dataFile, name,
    value)``; the result adds an ``accession`` column — the EFO term
    whose name equals the characteristic key case-insensitively, or NULL
    when the ontology has no such name (the reference's Param keeps a
    null accession then, ``PrideAnalysisAssayService.java:343-347``).

    Broadcast left join on the normalized name: the ontology side is
    dim-sized by construction, so the fact side is never shuffled.
    """
    # min(accession) per name, not dropDuplicates: two terms sharing a
    # case-folded name (ontologies do have these) must resolve to the
    # SAME accession on every run — dropDuplicates picks an arbitrary
    # row per key and made the enrichment nondeterministic (r11 review)
    dim = F.broadcast(
        efo_terms.groupBy(F.lower(F.trim("name")).alias("__efo_key")).agg(
            F.min("accession").alias("accession")
        )
    )
    return (
        characteristics.withColumn("__efo_key", F.lower(F.trim("name")))
        .join(dim, "__efo_key", "left")
        .drop("__efo_key")
    )


