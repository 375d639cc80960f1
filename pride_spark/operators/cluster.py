"""Cluster-consensus operators (SURVEY §2.6 A11–A13, §3.2).

Reference: ``/root/reference/src/.../services/InferenceService.java:99-141``
— per-cluster member lists accumulated in ehcache, then three sequential
tests.  Here each test is one distributed aggregation:

- **A12a isobaric purity**: a cluster is dropped when its members span
  more than one distinct isobaric sequence (``L→I``-folded peptide).
- **A12b peptidoform-majority**: a peptidoform is *valid* when it covers
  more than half the cluster's members.  NOTE: the reference computes the
  ratio with integer division (``InferenceService.java:126``), so its
  runtime behavior only accepts ratio==1.0; this engine implements the
  *intended* fractional semantics (SURVEY §7 risk 5 — deliberate,
  documented divergence).
- **A13 best PSM per cluster**: the minimum-score member carrying the
  valid peptidoform, deterministic tie-break on ``usi`` (the reference's
  first-encounter loop is iteration-order dependent — not reproducible
  under parallelism, so we pin the tie).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pride_spark.functions.strings import make_isobaric


def isobaric_pure_clusters(psms: DataFrame, cluster_col: str = "clusterId") -> DataFrame:
    """A12a — clusterIds whose members share one isobaric sequence."""
    return (
        psms.withColumn("__iso", make_isobaric("peptideSequence"))
        .groupBy(cluster_col)
        .agg(F.countDistinct("__iso").alias("nIso"))
        .filter(F.col("nIso") == 1)
        .select(cluster_col)
    )


def valid_peptidoforms(psms: DataFrame, cluster_col: str = "clusterId") -> DataFrame:
    """A12b — (clusterId, peptidoform) pairs covering >50% of the cluster."""
    total = psms.groupBy(cluster_col).agg(F.count("*").alias("__total"))
    per_form = psms.groupBy(cluster_col, "peptidoform").agg(F.count("*").alias("__n"))
    return (
        per_form.join(total, cluster_col)
        .withColumn("ratio", F.col("__n") / F.col("__total"))
        .filter(F.col("ratio") > 0.5)
        .select(cluster_col, "peptidoform", "ratio")
    )


def best_psm_per_cluster(
    psms: DataFrame,
    cluster_col: str = "clusterId",
    score_col: str = "score",
    better: str = "lower",
) -> DataFrame:
    """A11–A13 composed: purity gates + min-score member of the valid form.

    Input: one row per PSM with ``clusterId, usi, peptideSequence,
    peptidoform, score``.  Output: one row per surviving cluster.

    Physical shape: ALL gates are window functions over the same
    ``clusterId`` partitioning, so the whole operator is ONE shuffle of the
    PSM projection (the join-per-gate formulation re-shuffled the input
    four times).  The standalone gate functions above remain for callers
    that need the intermediate tables.
    """
    w_c = Window.partitionBy(cluster_col)
    w_cf = Window.partitionBy(cluster_col, "peptidoform")
    iso = make_isobaric("peptideSequence")
    gated = (
        psms.withColumn("__n_iso", F.size(F.collect_set(iso).over(w_c)))
        .withColumn("__n_form", F.count("*").over(w_cf))
        .withColumn("__n_tot", F.count("*").over(w_c))
        .filter((F.col("__n_iso") == 1) & (F.col("__n_form") * 2 > F.col("__n_tot")))
    )
    # nulls LAST in both directions: an unscored PSM must never be crowned
    # the cluster's best (plain asc() is nulls-first under better='lower')
    order = (
        F.col(score_col).asc_nulls_last()
        if better == "lower"
        else F.col(score_col).desc_nulls_last()
    )
    w = Window.partitionBy(cluster_col).orderBy(order, F.col("usi"))
    return (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__n_iso", "__n_form", "__n_tot")
    )
