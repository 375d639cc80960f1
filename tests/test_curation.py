"""Corpus-curation operators: deterministic hash splits and
incremental (new-batch-vs-corpus) dedup."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pride_spark.operators.curation import (
    hash_fraction,
    hash_split,
    incremental_near_dup_flags,
)


def test_hash_fraction_matches_duckdb(spark):
    # the split hash must be engine-reproducible: DuckDB derives the
    # identical value from the same md5 chunk
    ids = [f"doc{i}" for i in range(50)]
    df = spark.createDataFrame([(i,) for i in ids], "id string")
    got = {
        r["id"]: r["f"]
        for r in df.select("id", hash_fraction("id", "s1").alias("f")).collect()
    }
    con = duckdb.connect()
    for i in ids:
        (want,) = con.execute(
            "SELECT CAST(CAST('0x' || SUBSTR(MD5('s1|' || ?), 1, 8) AS BIGINT) "
            "AS DOUBLE) / 4294967296.0",
            [i],
        ).fetchone()
        assert got[i] == pytest.approx(want, abs=1e-12), i
        assert 0.0 <= got[i] < 1.0


def test_hash_split_deterministic_disjoint_and_weighted(spark):
    df = spark.createDataFrame([(f"d{i}",) for i in range(4000)], "id string")
    out = hash_split(df, "id", {"train": 0.8, "valid": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] == pytest.approx(3200, rel=0.08)
    assert counts["valid"] == pytest.approx(400, rel=0.35)
    # stability: a repartitioned re-run assigns every row identically
    a = {r["id"]: r["split"] for r in out.collect()}
    b = {
        r["id"]: r["split"]
        for r in hash_split(
            df.repartition(7), "id", {"train": 0.8, "valid": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b


BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while seven wizards brew strong potions under the ancient oak tree"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_incremental_flags_exact_near_and_novel(spark):
    corpus = _docs(spark, [("c1", BASE), ("c2", "completely different content "
                                                "about distributed query engines and shuffle plans " * 3)])
    near = BASE.replace("lazy dog", "sleepy dog")
    new = _docs(
        spark,
        [
            ("n1", BASE),            # exact copy of c1
            ("n2", near),            # near-dup of c1
            ("n3", "unrelated novel text with entirely disjoint vocabulary "
                   "spanning orbital mechanics and tidal resonance " * 3),
        ],
    )
    flags = {
        (r["id"], r["match_id"]): r["jaccard"]
        for r in incremental_near_dup_flags(
            new, corpus, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert flags[("n1", "c1")] == 1.0  # digest short-circuit
    assert 0.5 <= flags[("n2", "c1")] < 1.0
    assert not any(k[0] == "n3" for k in flags)
    assert not any(k[1] == "c2" for k in flags)


def test_incremental_corpus_cap_drops_adversarial_bucket(spark):
    # 40 identical corpus docs: every band bucket holds all 40 — a cap of
    # 10 drops them all, so the new copy goes unmatched (the documented
    # cap contract: the adversarial mass is handled by exact dedup
    # upstream), while the uncapped run matches everything
    corpus = _docs(spark, [(f"c{i}", BASE) for i in range(40)])
    new = _docs(spark, [("n1", BASE)])
    capped = incremental_near_dup_flags(
        new, corpus, "text", "doc_id", threshold=0.5, max_bucket=10
    ).count()
    assert capped == 0
    uncapped = incremental_near_dup_flags(
        new, corpus, "text", "doc_id", threshold=0.5
    ).count()
    assert uncapped == 40


def test_persisted_corpus_signatures_reproduce_flags(spark, tmp_path):
    # the daily-batch amortization: corpus signatures built once, written
    # to parquet, read back — flags computed from the persisted index must
    # equal a from-scratch run (including the capped variant: the cap is
    # applied to the index rows, not at build time)
    from pride_spark.operators.curation import corpus_signatures

    near = BASE.replace("lazy dog", "sleepy dog")
    corpus = _docs(spark, [("c1", BASE), ("c2", near), ("c3", "novel words " * 20)])
    new = _docs(spark, [("n1", BASE), ("n2", "other novel vocabulary " * 20)])

    idx_path = str(tmp_path / "corpus_sigs")
    corpus_signatures(corpus, "text", "doc_id").write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    for cap in (None, 1):
        fresh = sorted(
            map(tuple, incremental_near_dup_flags(
                new, corpus, "text", "doc_id", threshold=0.5, max_bucket=cap
            ).collect())
        )
        indexed = sorted(
            map(tuple, incremental_near_dup_flags(
                new, corpus, "text", "doc_id", threshold=0.5, max_bucket=cap,
                corpus_signatures_df=idx,
            ).collect())
        )
        assert indexed == fresh, f"cap={cap}"
    assert any(r[0] == "n1" for r in fresh)

    # the hash-family fingerprint survives the parquet round-trip: a
    # flags run under DIFFERENT parameters must refuse the index instead
    # of silently missing near-dups (digests from different families
    # never collide)
    with pytest.raises(ValueError, match="hash famil"):
        incremental_near_dup_flags(
            new, corpus, "text", "doc_id", threshold=0.5,
            bands=2, corpus_signatures_df=idx,
        )
    # a frame WITHOUT the fingerprint (legacy/hand-built) skips the check
    legacy = idx.select(
        "id_c", F.col("digs_c").alias("digs_c", metadata={}), "dg_c"
    )
    incremental_near_dup_flags(
        new, corpus, "text", "doc_id", threshold=0.5, corpus_signatures_df=legacy
    ).collect()


def test_stratified_sample_rates_and_determinism(spark):
    from pride_spark.operators.curation import stratified_sample

    rows = [(f"d{i}", ["en", "de", "es", None][i % 4]) for i in range(8000)]
    df = spark.createDataFrame(rows, "id string, lang string")
    rates = {"en": 0.25, "de": 1.0, "es": 0.5}

    out = stratified_sample(df, "lang", rates, id_col="id", default_rate=0.1, seed="s")
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    # per-stratum survival tracks the requested rate (2000 rows/stratum)
    assert got["de"] == 2000                       # rate 1.0 keeps everything
    assert abs(got["en"] - 500) < 120              # ~0.25 of 2000
    assert abs(got["es"] - 1000) < 150             # ~0.5 of 2000
    assert abs(got.get(None, 0) - 200) < 80        # NULL stratum → default_rate

    # pure function of (seed, id): identical survivor set on re-run,
    # different seed decorrelates
    ids1 = {r["id"] for r in out.select("id").collect()}
    ids2 = {
        r["id"]
        for r in stratified_sample(
            df, "lang", rates, id_col="id", default_rate=0.1, seed="s"
        ).select("id").collect()
    }
    assert ids1 == ids2
    ids3 = {
        r["id"]
        for r in stratified_sample(
            df, "lang", rates, id_col="id", default_rate=0.1, seed="other"
        ).select("id").collect()
    }
    assert ids3 != ids1

    # survivors are exactly the rows whose hash fraction clears the rate
    frac = {r["id"]: r["f"] for r in df.select("id", hash_fraction("id", "s").alias("f")).collect()}
    lang = dict(rows)
    want = {
        i for i in frac
        if frac[i] < rates.get(lang[i], 0.1) if lang[i] is not None
    } | {i for i in frac if lang[i] is None and frac[i] < 0.1}
    assert ids1 == want


def test_stratified_sample_dim_table_variant_matches_literal(spark):
    """The broadcast-dim formulation (for thousands of strata) selects
    the identical survivor set as the literal CASE chain, with the
    original schema preserved."""
    from pride_spark.operators.curation import stratified_sample

    rows = [(f"d{i}", ["en", "de", "xx"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "id string, lang string")
    rates = {"en": 0.3, "de": 0.9}
    dim = spark.createDataFrame(list(rates.items()), "stratum string, rate double")

    lit_ids = {
        r["id"]
        for r in stratified_sample(
            df, "lang", rates, id_col="id", default_rate=0.2, seed="s"
        ).collect()
    }
    dim_out = stratified_sample(df, "lang", dim, id_col="id", default_rate=0.2, seed="s")
    assert dim_out.columns == ["id", "lang"]
    assert {r["id"] for r in dim_out.collect()} == lit_ids
    plan = dim_out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hash_split_null_id_and_negative_weight_rejected(spark):
    """r9 review: a null id must not silently land in the last (eval)
    split, and a negative weight must not silently empty later splits."""
    import pytest as _pytest

    from pride_spark.operators.curation import hash_split

    df = spark.createDataFrame([(1,), (None,)], "id long")
    with _pytest.raises(Exception, match="null id"):
        hash_split(df, "id", {"train": 0.5, "test": 0.5}).collect()
    with _pytest.raises(ValueError, match="non-negative"):
        hash_split(df.filter("id is not null"), "id", {"a": 1.5, "b": -0.5})


def test_sig_params_partial_metadata_mismatch_detected(spark):
    """r10 advice: a PARTIALLY-recorded hash-family sidecar is refused
    outright — validating only the present keys would let a bands-only
    record pass while num_hashes/shingle_n actually differ.  Only a
    fully unrecorded sidecar skips the check; a full record is compared
    exactly."""
    import pytest as _pytest

    from pride_spark.operators.curation import _check_sig_params

    df = spark.createDataFrame([("x",)], "digs_c string")
    partial = df.withMetadata("digs_c", {"num_hashes": 16, "shingle_n": 5})
    with _pytest.raises(ValueError, match="partial hash-family"):
        _check_sig_params(partial, "c", num_hashes=8, bands=4, shingle_n=3)
    # even all-matching present keys are refused when a key is missing
    with _pytest.raises(ValueError, match="partial hash-family"):
        _check_sig_params(partial, "c", num_hashes=16, bands=4, shingle_n=5)
    # fully unrecorded sidecar: pre-metadata frame, skip
    _check_sig_params(df, "c", num_hashes=8, bands=4, shingle_n=3)
    # full record: exact compare
    full = df.withMetadata("digs_c", {"num_hashes": 16, "bands": 4, "shingle_n": 5})
    _check_sig_params(full, "c", num_hashes=16, bands=4, shingle_n=5)
    with _pytest.raises(ValueError, match="built with"):
        _check_sig_params(full, "c", num_hashes=8, bands=4, shingle_n=3)


def test_stratified_sample_refuses_conflicting_duplicate_rates(spark):
    """r11 review: a duplicated stratum key with DIFFERENT rates in the
    dim-table variant silently sampled at whichever copy dropDuplicates
    kept; identical duplicates still collapse fine, conflicts refuse."""
    import pytest

    from pride_spark.operators.curation import stratified_sample

    df = spark.createDataFrame(
        [(f"d{i}", "en") for i in range(50)], "id string, lang string"
    )
    ok_dim = spark.createDataFrame(
        [("en", 0.5), ("en", 0.5), ("de", 0.9)], "stratum string, rate double"
    )
    out = stratified_sample(df, "lang", ok_dim, id_col="id", seed="s")
    assert 0 < out.count() < 50  # identical dup keys are fine

    bad_dim = spark.createDataFrame(
        [("en", 0.5), ("en", 0.9)], "stratum string, rate double"
    )
    with pytest.raises(ValueError, match="conflicting duplicate"):
        stratified_sample(df, "lang", bad_dim, id_col="id", seed="s")


def test_stratified_sample_refuses_null_rates_in_dim(spark):
    """r11 advice: countDistinct ignores NULLs, so a stratum carrying
    both a valid rate and a non-numeric one (casts to NULL) passed the
    conflict check and silently sampled at the valid copy.  NULL rates
    in the dim are garbage input, not a default_rate request — refuse
    them whether or not a valid duplicate exists."""
    import pytest

    from pride_spark.operators.curation import stratified_sample

    df = spark.createDataFrame(
        [(f"d{i}", "en") for i in range(50)], "id string, lang string"
    )
    # valid + NULL-casting duplicate: previously slipped through
    mixed = spark.createDataFrame(
        [("en", "0.5"), ("en", "half")], "stratum string, rate string"
    )
    with pytest.raises(ValueError, match="NULL / non-numeric"):
        stratified_sample(df, "lang", mixed, id_col="id", seed="s")

    # a lone NULL rate is refused too
    lone = spark.createDataFrame(
        [("en", None)], "stratum string, rate double"
    )
    with pytest.raises(ValueError, match="NULL / non-numeric"):
        stratified_sample(df, "lang", lone, id_col="id", seed="s")
