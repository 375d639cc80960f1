"""End-to-end training-corpus curation — the north-star LLM-data pipeline
as ONE composition: annotate → quality/language gates → exact dedup →
near-dup collapse → deterministic split.

Every stage already exists as an oracle-gated operator
(``operators/text.py``, ``operators/dedup.py``, ``operators/graph.py``,
``operators/curation.py``); this module is the production wiring a
100 TB corpus run needs, with the two properties an audit demands:

- **Drop accounting** — nothing disappears silently.  The returned
  report counts input rows, per-gate drops (attributed to the FIRST
  failing gate), exact-duplicate removals, near-duplicate removals, and
  per-split survivors.
- **Determinism** — re-runs are byte-stable: exact dedup keeps the
  lowest id per digest, near-dup collapse keeps the lowest id per
  connected component of the verified-pair graph (transitively correct —
  the pairwise "drop if any lower-id match" shortcut over-drops when
  A~B, B~C, A≁C), and the split label is a pure function of
  (seed, id) so appends never move a row between train/valid/test.

Physical shape at scale: the annotate+gate pass is pure column
expressions over one scan; exact dedup shuffles 16-byte digests; the
near-dup stage is the banded LSH family (bounded buckets, verified
Jaccard); components come from star-contraction CC on the (tiny
relative to the corpus) pair list; the split adds zero shuffles.  The
curated write partitions by split so downstream trainers prune.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pride_spark.operators.curation import hash_split
from pride_spark.operators.dedup import exact_dedup, near_dedup_minhash
from pride_spark.operators.graph import connected_components
from pride_spark.operators.text import (
    bpe_ish_token_count,
    detect_language,
    quality_score,
)
from pride_spark.session import local_frame

_GATE = "__gate_fail"


@dataclass
class CurateConfig:
    text_col: str = "text"
    id_col: str = "doc_id"
    languages: list[str] | None = None  # None = no language gate
    min_quality: float = 0.0
    min_tokens: int = 0
    max_tokens: int | None = None
    near_dup_threshold: float = 0.8
    num_hashes: int = 8
    bands: int = 4
    shingle_n: int = 3
    max_bucket: int | None = None
    splits: dict[str, float] = field(
        default_factory=lambda: {"train": 0.9, "valid": 0.05, "test": 0.05}
    )
    split_seed: str = "split"


def annotate_documents(docs: DataFrame, cfg: CurateConfig) -> DataFrame:
    """One-scan annotation: language, quality, token count — the columns
    the gates read and the curated output carries for downstream use."""
    text = F.col(cfg.text_col)
    return docs.withColumns(
        {
            "detected_lang": detect_language(text),
            "quality": quality_score(text),
            "n_tokens": bpe_ish_token_count(text),
        }
    )


def _first_failing_gate(cfg: CurateConfig):
    """NULL when every gate passes, else the FIRST failing gate's name —
    attribution is unambiguous and the drop counts sum to rows dropped."""
    text = F.col(cfg.text_col)
    # null ids first: dedup representatives and split labels are both
    # keyed on the id (hash_split REFUSES null ids rather than silently
    # assigning a split), so id-less rows drop here with attribution
    gate = F.when(F.col(cfg.id_col).isNull(), F.lit("null_id"))
    gate = gate.when(text.isNull() | (F.length(text) == 0), F.lit("empty_text"))
    if cfg.languages:
        gate = gate.when(
            ~F.col("detected_lang").isin(list(cfg.languages)), F.lit("language")
        )
    if cfg.min_quality > 0:
        gate = gate.when(F.col("quality") < cfg.min_quality, F.lit("quality"))
    if cfg.min_tokens > 0:
        gate = gate.when(F.col("n_tokens") < cfg.min_tokens, F.lit("min_tokens"))
    if cfg.max_tokens is not None:
        gate = gate.when(F.col("n_tokens") > cfg.max_tokens, F.lit("max_tokens"))
    return gate


def near_dup_drop_ids(docs: DataFrame, cfg: CurateConfig) -> DataFrame:
    """Ids to remove so each near-dup component keeps exactly its lowest
    id: verified LSH pairs → connected components → drop node != root."""
    pairs = near_dedup_minhash(
        docs,
        cfg.text_col,
        cfg.id_col,
        threshold=cfg.near_dup_threshold,
        num_hashes=cfg.num_hashes,
        bands=cfg.bands,
        shingle_n=cfg.shingle_n,
        max_bucket=cfg.max_bucket,
    )
    comps = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    return comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(cfg.id_col)
    )


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    cfg: CurateConfig | None = None,
    *,
    output_dir: str | None = None,
) -> tuple[DataFrame, dict]:
    """Run the full curation pipeline; return (curated frame, report).

    The report is computed from exactly three actions (gate-attribution
    aggregate, post-exact count, post-near-dup split histogram) plus the
    write — each stage's frame is consumed once.

    With ``output_dir`` set, every intermediate the near-dup stage pins
    (the LSH pair cache, the CC round checkpoints) is released inside a
    :func:`pride_spark.session.pinned_scope` before returning, and the
    returned frame reads back from the written files — so repeated runs
    in a long-lived driver never accumulate executor storage.
    ``output_dir=None`` skips the write and returns the live plan; its
    pinned intermediates then follow the operator contract (wrap the
    call + your consuming action in ``pinned_scope()``, or call
    ``release_cached_state`` between plans).
    """
    cfg = cfg or CurateConfig()
    report: dict = {
        "input_rows": 0,
        "gate_drops": {},
        "exact_dup_drops": 0,
        "near_dup_drops": 0,
        "splits": {},
        "params": {
            "languages": cfg.languages,
            "min_quality": cfg.min_quality,
            "min_tokens": cfg.min_tokens,
            "max_tokens": cfg.max_tokens,
            "near_dup_threshold": cfg.near_dup_threshold,
            "num_hashes": cfg.num_hashes,
            "bands": cfg.bands,
            "shingle_n": cfg.shingle_n,
            "max_bucket": cfg.max_bucket,
            "splits": cfg.splits,
            "split_seed": cfg.split_seed,
        },
    }

    gated = annotate_documents(docs, cfg).withColumn(_GATE, _first_failing_gate(cfg))
    # persist: the gate aggregate and every downstream stage read this
    # scan; without it the annotate pass re-runs per consumer
    from pride_spark.session import register_pinned

    gated = register_pinned(gated.persist())
    for r in gated.groupBy(_GATE).count().collect():
        if r[_GATE] is None:
            report["input_rows"] += r["count"]
        else:
            report["gate_drops"][r[_GATE]] = r["count"]
            report["input_rows"] += r["count"]
    survivors = gated.filter(F.col(_GATE).isNull()).drop(_GATE)
    n_gated = report["input_rows"] - sum(report["gate_drops"].values())

    deduped = exact_dedup(survivors, cfg.text_col, cfg.id_col)
    deduped = register_pinned(deduped.persist())
    n_exact = deduped.count()
    report["exact_dup_drops"] = n_gated - n_exact

    import contextlib

    from pride_spark.session import pinned_scope

    # the scope frees the pair cache AND the CC checkpoints; safe because
    # with output_dir the caller gets a read-back frame, never the live
    # (checkpoint-dependent) plan
    scope = pinned_scope() if output_dir is not None else contextlib.nullcontext()
    with scope:
        drops = near_dup_drop_ids(deduped, cfg)
        curated = deduped.join(drops, cfg.id_col, "left_anti")
        curated = hash_split(
            curated, cfg.id_col, cfg.splits, seed=cfg.split_seed
        )
        schema = curated.schema
        if output_dir is not None:
            curated.write.mode("overwrite").partitionBy("split").parquet(output_dir)
        # splits counted from the plan, not a read-back: a run whose gates
        # drop EVERYTHING writes zero part files, and reading that
        # directory back would raise unable-to-infer-schema instead of
        # reporting kept=0
        splits = curated.groupBy("split").count().collect()
    report["splits"] = {r["split"]: r["count"] for r in splits}
    kept = sum(report["splits"].values())
    report["near_dup_drops"] = n_exact - kept

    gated.unpersist()
    deduped.unpersist()
    if output_dir is not None:
        # the scope above released the pinned pair cache and the CC round
        # checkpoints the live plan depended on — hand back the written
        # files (schema note: the split partition column reads back last)
        curated = (
            spark.read.parquet(output_dir)
            if kept
            else local_frame(spark, [], schema)
        )
    return curated, report
