"""North-star operator tests: dedup, similarity search, text analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pride_spark.operators import dedup, similarity, text


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, t string"
    )
    got = sorted(r["id"] for r in dedup.exact_dedup(df, "t", "id").collect())
    assert got == [1, 3]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    got = df.select(dedup.word_shingles("t", 3).alias("s")).first()["s"]
    assert got == ["a b c", "b c d"]
    short = spark.createDataFrame([("a b",)], "t string")
    assert short.select(dedup.word_shingles("t", 3).alias("s")).first()["s"] == ["a b"]


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words here in this text")],
        "id long, t string",
    )
    sigs = {r["id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
            for r in dedup.minhash_signatures_df(df, "t", "id", num_hashes=4).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_near_dedup_finds_mutated_duplicate(spark):
    base = "w%d " * 50
    doc = " ".join(f"w{i}" for i in range(60))
    mutated = " ".join(f"w{i}" for i in range(59)) + " zz"   # one token changed
    other = " ".join(f"x{i}" for i in range(60))
    df = spark.createDataFrame([(1, doc), (2, mutated), (3, other)], "id long, t string")
    pairs = dedup.near_dedup_minhash(df, "t", "id", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.8


def test_simhash_close_docs_close_hashes(spark):
    doc = " ".join(f"w{i}" for i in range(100))
    mutated = " ".join(f"w{i}" for i in range(99)) + " zz"
    other = " ".join(f"x{i}" for i in range(100))
    df = spark.createDataFrame([(1, doc), (2, mutated), (3, other)], "id long, t string")
    h = {r["id"]: r["h"] for r in df.select("id", dedup.simhash64("t").alias("h")).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(h[1], h[2]) < 8
    assert hamming(h[1], h[3]) > 16


def test_brute_force_topk_exact(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.brute_force_topk(df, "vec_id", "embedding", k=1).collect()
    nearest = {r["query_id"]: r["nbr_id"] for r in got}
    assert nearest[1] == 2 and nearest[2] == 1 and nearest[4] == 3


def test_lsh_topk_recall(spark):
    import random

    random.seed(3)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[random.gauss(0, 1) for _ in range(8)] for _ in range(2)]  # 4 buckets
    exact = {(r["query_id"], r["nbr_id"])
             for r in similarity.brute_force_topk(df, "vec_id", "embedding", k=1).collect()}
    approx = {(r["query_id"], r["nbr_id"])
              for r in similarity.lsh_topk(df, "vec_id", "embedding", planes, k=1).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5  # 2 planes → same-bucket prob for near-identical vectors is high


def test_language_detection(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"),
         (2, "el gato de la casa y que perro"),
         (3, "der hund und die katze ist hier"),
         (4, "xyz abc qqq")],
        "id long, t string",
    )
    got = {r["id"]: r["l"] for r in df.select("id", text.detect_language(F.col("t")).alias("l")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "a decent length document with plenty of normal words in it")], "id long, t string"
    )
    row = df.select(
        text.quality_score(F.col("t")).alias("q"),
        text.token_count(F.col("t")).alias("n"),
        text.bpe_ish_token_count(F.col("t")).alias("b"),
        text.rolling_fingerprint(F.col("t")).alias("fp"),
    ).first()
    assert row["n"] == 11 and row["b"] == 11
    assert row["q"] > 0.9
    assert isinstance(row["fp"], int) and 0 <= row["fp"] < 1_000_000_007


def test_rolling_fingerprint_matches_python(spark):
    s = "hello world"
    expected = 0
    for ch in s:
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    df = spark.createDataFrame([(s,)], "t string")
    assert df.select(text.rolling_fingerprint(F.col("t")).alias("f")).first()["f"] == expected


def test_ivf_topk_empty_input(spark):
    # regression: the k-means quantizer must not crash on an empty table
    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        "vec_id < 0"
    )
    out = similarity.ivf_topk(emb, "vec_id", "embedding", k=3, n_centroids=4)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "nbr_id", "cosine", "rank"}


def test_ivf_topk_exact_when_probing_all(spark):
    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probe = emb.filter("vec_id < 20")
    brute = similarity.brute_force_topk(emb, "vec_id", "embedding", k=3, probe=probe)
    ivf = similarity.ivf_topk(
        emb, "vec_id", "embedding", k=3, n_centroids=8, n_probe=8, probe=probe
    )
    bs = {(r["query_id"], r["nbr_id"], r["rank"]) for r in brute.collect()}
    vs = {(r["query_id"], r["nbr_id"], r["rank"]) for r in ivf.collect()}
    assert bs == vs  # probing every bucket is exact

    # reduced probe: the ANN contract — recall@3 vs brute force stays high
    # (sf0.01 fixture, half-probe, soft assignment to 2 buckets)
    emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probe01 = emb01.filter("vec_id < 20")
    exact_pairs = {
        (r["query_id"], r["nbr_id"])
        for r in similarity.brute_force_topk(
            emb01, "vec_id", "embedding", k=3, probe=probe01
        ).collect()
    }
    ivf1 = similarity.ivf_topk(
        emb01, "vec_id", "embedding", k=3, n_centroids=8, n_probe=4,
        probe=probe01, assign_replicas=2,
    )
    got = {(r["query_id"], r["nbr_id"]) for r in ivf1.collect()}
    recall = len(exact_pairs & got) / len(exact_pairs)
    assert recall >= 0.9, f"ivf recall@3 {recall:.2f}"


def test_ann_broadcast_hint_gated_on_probe(spark):
    """r14 (r13 ADVICE): the explicit broadcast hint on the probed side
    must apply ONLY when a bounded probe batch was passed — in self-join
    mode the probed side IS the corpus, and a forced broadcast of it
    caps out at scale (8 GB / 512M-row broadcast limit)."""
    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probe = emb.filter("vec_id < 5")

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    for fn in (
        lambda p: similarity.brute_force_topk(emb, "vec_id", "embedding", k=1, probe=p),
        lambda p: similarity.ivf_topk(
            emb, "vec_id", "embedding", k=1, n_centroids=4, probe=p
        ),
    ):
        assert "ResolvedHint" in analyzed(fn(probe))
        assert "ResolvedHint" not in analyzed(fn(None))

    # results are hint-independent: self-join mode still computes the
    # same neighbors as before the gating
    got = {
        (r["query_id"], r["rank"]): r["nbr_id"]
        for r in similarity.brute_force_topk(
            emb.filter("vec_id < 30"), "vec_id", "embedding", k=1
        ).collect()
    }
    via_probe = {
        (r["query_id"], r["rank"]): r["nbr_id"]
        for r in similarity.brute_force_topk(
            emb.filter("vec_id < 30"), "vec_id", "embedding", k=1,
            probe=emb.filter("vec_id < 30"),
        ).collect()
    }
    assert got == via_probe


def test_widen_shared_helper_and_parts_hint(spark):
    """r14: ``widen`` promoted to operators/partitioning.py; the
    ``parts`` hint skips the build-time RDD probe and must produce the
    same plan decision."""
    from pride_spark.operators.partitioning import widen

    df = spark.range(10).coalesce(1)
    want = spark.sparkContext.defaultParallelism
    probed = widen(df)
    hinted = widen(df, parts=1)
    assert probed.rdd.getNumPartitions() == want
    assert hinted.rdd.getNumPartitions() == want
    # already-wide inputs are a plan no-op in both forms
    wide = spark.range(1000).repartition(want)
    assert widen(wide).semanticHash() == wide.semanticHash()
    assert widen(wide, parts=want).semanticHash() == wide.semanticHash()


def test_lsh_topk_recall_at_3_on_embeddings(spark):
    # OR-construction: 12 tables x 3 planes; single-table recall on this
    # fixture is ~0.24, multi-table ~0.95
    import random

    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    random.seed(17)
    tables = [
        [[random.gauss(0, 1) for _ in range(dim)] for _ in range(3)] for _ in range(12)
    ]
    exact = {
        (r["query_id"], r["nbr_id"])
        for r in similarity.brute_force_topk(emb, "vec_id", "embedding", k=3).collect()
    }
    approx = {
        (r["query_id"], r["nbr_id"])
        for r in similarity.lsh_topk(emb, "vec_id", "embedding", tables, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"lsh recall@3 {recall:.2f}"

def test_simhash_md5_close_docs_close_hashes(spark):
    # same property as the xxhash64 variant; this is the oracle-able path
    doc = " ".join(f"w{i}" for i in range(100))
    mutated = " ".join(f"w{i}" for i in range(99)) + " zz"
    other = " ".join(f"x{i}" for i in range(100))
    df = spark.createDataFrame([(1, doc), (2, mutated), (3, other)], "id long, t string")
    h = {r["id"]: r["h"] for r in df.select("id", dedup.simhash_md5("t").alias("h")).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert all(0 <= v < 2**60 for v in h.values())
    assert hamming(h[1], h[2]) < 8
    assert hamming(h[1], h[3]) > 16

def test_minhash_null_text_rows_preserved_and_never_pair(spark):
    # q23 oracle parity: LIST_MIN aggregates keep null-text docs with NULL
    # signature values; and two null docs must NOT meet in a bucket (their
    # would-be digest of "" is a constant, the oracle's NULL never joins)
    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["id"]: r["mh0"] for r in
            dedup.minhash_signatures_df(df, "text", "doc_id", num_hashes=4).collect()}
    assert set(sigs) == {1, 2, 3, 4}
    assert sigs[3] is None and sigs[4] is None and sigs[1] == sigs[2]
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.lsh_candidate_pairs(df, "text", "doc_id", num_hashes=4).collect()}
    assert pairs == {(1, 2)}


def test_simhash_df_matches_in_row_fold(spark):
    # the explode→vote-sum hot path must produce the exact bits of the
    # in-row fold, both variants, including short/empty docs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    # None text must survive BOTH paths with a NULL simhash (the explode
    # path restores it via the id left-join; the fold yields NULL in-row)
    extra = spark.createDataFrame([(9001, ""), (9002, "one"), (9003, "a b"),
                                   (9004, None)],
                                  "doc_id long, text string")
    docs = docs.select("doc_id", "text").unionByName(extra)
    for variant, col_fn in [("md5", dedup.simhash_md5), ("xx64", dedup.simhash64)]:
        fold = {
            r["doc_id"]: r["h"]
            for r in docs.select("doc_id", col_fn("text").alias("h")).collect()
        }
        agg = {
            r["id"]: r["simhash"]
            for r in dedup.simhash_df(docs, "text", "doc_id", variant=variant).collect()
        }
        assert fold == agg, variant


def test_lsh_cap_bounds_adversarial_corpus(spark):
    # 300 identical docs: uncapped LSH emits ~300^2/2 pairs per band;
    # the cap drops the oversized buckets so the plan stays linear, and the
    # stats helper reports exactly what was skipped.
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every document").alias("text"),
    )
    capped = dedup.near_dedup_minhash(
        docs, "text", "doc_id", threshold=0.5, max_bucket=100
    ).collect()
    assert capped == []  # every bucket oversized -> all dropped
    stats = dedup.lsh_bucket_stats(docs, "text", "doc_id", max_bucket=100)
    assert stats["dropped_buckets"] == 4  # one mega-bucket per band
    assert stats["dropped_rows"] == 1200  # 300 docs x 4 bands
    assert stats["max_size"] == 300

    # a mixed corpus keeps its small-bucket pairs under the same cap
    mixed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here altogether now")],
        "doc_id long, text string",
    )
    pairs = dedup.near_dedup_minhash(mixed, "text", "doc_id", threshold=0.5, max_bucket=100).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_lsh_gemm_matches_fold_path(spark):
    # same buckets, same candidates: the GEMM scorer must reproduce the
    # JVM fold path's ranked output (scores to 1e-6, same neighbor ids)
    import random

    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    random.seed(17)
    tables = [
        [[random.gauss(0, 1) for _ in range(dim)] for _ in range(4)] for _ in range(2)
    ]
    fold = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in similarity.lsh_topk_fold(
            emb, "vec_id", "embedding", tables, k=3
        ).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in similarity.lsh_topk(
            emb, "vec_id", "embedding", tables, k=3
        ).collect()
    }
    assert fold.keys() == gemm.keys()
    for key, (nbr, cos) in fold.items():
        gn, gc = gemm[key]
        assert abs(cos - gc) <= 1e-6, (key, cos, gc)
        assert nbr == gn, (key, nbr, gn)


def test_lsh_gemm_skewed_bucket_and_zero_vectors(spark):
    # adversarial: every vector identical (one mega-bucket) plus zero
    # vectors; block_rows smaller than the bucket forces the chunked path
    from pride_spark.operators import similarity

    rows = [(i, [1.0, 2.0, 2.0]) for i in range(50)] + [
        (100 + i, [0.0, 0.0, 0.0]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = [[[0.5, -0.1, 0.3]]]  # 1 table, 1 plane -> 2 buckets max
    out = similarity.lsh_topk(
        df, "vec_id", "embedding", planes, k=2, block_rows=8
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # identical vectors: cosine 1.0 with smallest nbr_ids first
    assert [x["cosine"] for x in sorted(by_q[0], key=lambda r: r["rank"])] == [1.0, 1.0]
    # zero vectors: cosine 0.0, never NaN
    for r in out:
        assert r["cosine"] == r["cosine"], "NaN cosine"


# ---------------------------------------------------------------------------
# Persistent IVF index (operators/ann_index.py)
# ---------------------------------------------------------------------------

def test_ivf_index_full_probe_matches_ivf_topk(spark, tmp_path):
    """build+search under full probe == the in-memory ivf_topk (which is
    itself brute-force-equal at full probe)."""
    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_index
    from pride_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(emb, path, n_centroids=8)
    assert meta["n_centroids"] == 8

    got = search_ivf_index(spark, path, emb, k=3).collect()
    want = ivf_topk(emb, "vec_id", "embedding", k=3, n_centroids=8).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, want), key=lambda t: (t[0], t[3])
    )


def test_ivf_index_partition_pruning(spark, tmp_path):
    """A partial probe must PRUNE unprobed posting lists at the scan:
    the parquet scan's partition filters carry the static isin, and the
    matched partition count is below the total."""
    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)

    import contextlib
    import io

    one_query = emb.limit(1)
    out = search_ivf_index(spark, path, one_query, k=3, n_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    idx_scan = next(b for b in plan.split("\n\n") if "assignments" in b)
    assert "PartitionFilters" in idx_scan
    assert "centroid_id" in idx_scan.split("PartitionFilters")[1].split("\n")[0]
    # and the result is still a valid top-k for the probed buckets
    rows = out.collect()
    assert 0 < len(rows) <= 3


def test_ivf_index_replicas_roundtrip(spark, tmp_path):
    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_index
    from pride_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf2")
    build_ivf_index(emb, path, n_centroids=8, assign_replicas=2)
    got = search_ivf_index(spark, path, emb, k=3, n_probe=4)
    # recall@3 vs brute force stays high with half-probe + replicas
    want = brute_force_topk(emb, "vec_id", "embedding", k=3)
    g = {(r["query_id"], r["nbr_id"]) for r in got.collect()}
    w = {(r["query_id"], r["nbr_id"]) for r in want.collect()}
    assert len(g & w) / len(w) > 0.85


def test_pq_adc_matches_numpy_and_seeded_codebooks_deterministic(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from pride_spark.operators import similarity

    # seeded codebooks are pure literals: same call, same floats
    b1 = similarity.pq_codebooks_seeded(m=4, k=8, dim=64)
    b2 = similarity.pq_codebooks_seeded(m=4, k=8, dim=64)
    assert b1 == b2 and len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 16

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.orderBy("vec_id").limit(2).collect()
    q = np.asarray(rows[0]["embedding"], dtype=float)
    v = np.asarray(rows[1]["embedding"], dtype=float)
    sub = 64 // 4
    # reference encode: L2-nearest centroid per subspace
    codes_ref = [
        int(((np.asarray(b1[j]) - v[j * sub : (j + 1) * sub]) ** 2).sum(axis=1).argmin())
        for j in range(4)
    ]
    enc = (
        emb.orderBy("vec_id")
        .limit(2)
        .select("vec_id", similarity.pq_encode_expr("embedding", b1).alias("c"))
        .collect()
    )
    assert list(enc[1]["c"]) == codes_ref

    adc_ref = sum(
        float(q[j * sub : (j + 1) * sub] @ np.asarray(b1[j][codes_ref[j]]))
        for j in range(4)
    )
    row = spark.createDataFrame(
        [(list(map(float, q)), codes_ref)], "q array<double>, c array<int>"
    )
    adc = (
        row.select(similarity.pq_luts_expr("q", b1).alias("l"), "c")
        .select(similarity.pq_adc_from_luts("l", "c", m=len(b1)).alias("a"))
        .first()["a"]
    )
    assert abs(adc - adc_ref) < 1e-9


def test_pq_topk_rerank_recall_and_precomputed_codes(spark):
    from pyspark.sql import functions as F

    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probe = emb.filter("vec_id < 20")
    exact = {
        (r["query_id"], r["nbr_id"])
        for r in similarity.brute_force_topk(
            emb, "vec_id", "embedding", k=3, probe=probe
        ).collect()
    }
    books = similarity.pq_train(emb, "vec_id", "embedding", m=16, k=16)
    got = {
        (r["query_id"], r["nbr_id"])
        for r in similarity.pq_topk(
            emb, "vec_id", "embedding", books, k=3, probe=probe, rerank=50
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"pq+rerank recall@3 {recall:.2f}"

    # a precomputed codes table (the served-index amortization) gives the
    # same raw-ADC result as inline encode
    codes_df = emb.select(
        F.col("vec_id").alias("nbr_id"),
        similarity.pq_encode_expr("embedding", books).alias("codes"),
    )
    raw_inline = {
        tuple(r)
        for r in similarity.pq_topk(
            emb, "vec_id", "embedding", books, k=3, probe=probe
        ).collect()
    }
    raw_precomp = {
        tuple(r)
        for r in similarity.pq_topk(
            emb, "vec_id", "embedding", books, k=3, probe=probe, codes_df=codes_df
        ).collect()
    }
    assert raw_inline == raw_precomp


# ---------------------------------------------------------------------------
# Composed IVF-PQ over the persistent index (round 5: the promised scale
# path — PLAN_AUDIT q43 whitelist now points at real code)
# ---------------------------------------------------------------------------

def test_ivf_pq_index_full_funnel_matches_brute_force(spark, tmp_path):
    """Full probe + rerank >= corpus: the composed funnel (pruned code
    scan -> centroid equi-join -> ADC shortlist -> exact re-rank) must
    reproduce exact cosine top-k."""
    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_pq_index
    from pride_spark.operators.similarity import brute_force_topk, pq_codebooks_seeded

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_seeded(m=4, k=8, dim=64)
    path = str(tmp_path / "ivfpq")
    meta = build_ivf_index(emb, path, n_centroids=8, pq_codebooks=books)
    assert meta["pq_codebooks"] == books  # codebooks persist in meta

    n = emb.count()
    # n_probe=None = FULL probe, explicitly: the r12 default is "auto"
    # (ceil sqrt centroids), which would break this exactness identity
    got = search_ivf_pq_index(spark, path, emb, k=3, n_probe=None, rerank=n)
    want = brute_force_topk(emb, "vec_id", "embedding", k=3)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w


def test_ivf_pq_index_partition_pruning_and_no_bnlj(spark, tmp_path):
    """Partial probe prunes unprobed posting lists at the CODES scan
    (PartitionFilters), and the whole plan contains NO broadcast
    nested-loop join — the candidate pairing is an equi-join."""
    import contextlib
    import io

    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_pq_index
    from pride_spark.operators.similarity import pq_codebooks_seeded

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_seeded(m=4, k=8, dim=64)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(emb, path, n_centroids=8, pq_codebooks=books)

    def check(out):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastNestedLoopJoin" not in plan
        idx_scan = next(b for b in plan.split("\n\n") if "assignments" in b)
        assert "PartitionFilters" in idx_scan
        assert "centroid_id" in idx_scan.split("PartitionFilters")[1].split("\n")[0]
        rows = out.collect()
        assert 0 < len(rows) <= 3

    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")  # rerank=10 < 20*k trips the guardrail
        check(search_ivf_pq_index(
            spark, path, emb.limit(1), k=3, n_probe=2, rerank=10
        ))
    # the r12 DEFAULT path (auto probe, rerank=None exact-over-probed)
    # keeps the same physical properties: pruned codes scan, no BNLJ
    check(search_ivf_pq_index(spark, path, emb.limit(1), k=3))


def test_ivf_pq_index_shrunk_shortlist_recall(spark, tmp_path):
    """Production knobs (half probe, small rerank) keep recall@3 high —
    the funnel degrades gracefully, not catastrophically."""
    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_pq_index
    from pride_spark.operators.similarity import brute_force_topk, pq_codebooks_seeded

    from pride_spark.operators.similarity import pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # data-adaptive codebooks (seeded-random ones quantize too coarsely
    # for a tight shortlist — recall is the trained path's job)
    books = pq_train(emb, "vec_id", "embedding", m=16, k=16)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(emb, path, n_centroids=8, assign_replicas=2, pq_codebooks=books)
    got = search_ivf_pq_index(spark, path, emb, k=3, n_probe=4, rerank=50)
    want = brute_force_topk(emb, "vec_id", "embedding", k=3)
    g = {(r["query_id"], r["nbr_id"]) for r in got.collect()}
    w = {(r["query_id"], r["nbr_id"]) for r in want.collect()}
    assert len(g & w) / len(w) > 0.8


def test_ivf_pq_default_knobs_recall_guardrail(spark, tmp_path):
    """r11 verdict task #5: the old defaults (full probe + rerank=50)
    silently returned terrible neighbors (recall@10 = 0.12 on the
    ANN_RECALL m4k8 family — the small ADC shortlist starves the exact
    rerank).  New defaults: n_probe='auto' (ceil sqrt centroids) and
    rerank=None (exact cosine over the probed buckets, no ADC
    approximation) — recall with NO knobs must clear 0.8 even with the
    coarse seeded m4k8 codebooks; and an explicit rerank below 20*k
    warns with the recorded-frontier message."""
    import warnings as _w

    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_pq_index
    from pride_spark.operators.similarity import brute_force_topk, pq_codebooks_seeded

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_seeded(m=4, k=8, dim=64)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(emb, path, n_centroids=8, pq_codebooks=books)

    want = brute_force_topk(emb, "vec_id", "embedding", k=3)
    w = {(r["query_id"], r["nbr_id"]) for r in want.collect()}

    def recall(**kw):
        got = search_ivf_pq_index(spark, path, emb, k=3, **kw)
        g = {(r["query_id"], r["nbr_id"]) for r in got.collect()}
        return len(g & w) / len(w)

    # the absolute >=0.8 guardrail is asserted on the recorded family
    # (tools/ann_recall.py, 20k x 64d corpus); on this 500-row unit
    # corpus recall is bucket-containment-limited, so pin the MECHANISM:
    # defaults must clearly beat the old defaults (full probe +
    # rerank=50 ADC shortlist), whose diluted shortlist is the footgun
    r_default = recall()
    r_old = recall(n_probe=None, rerank=50)
    assert r_default > r_old + 0.1, (r_default, r_old)

    # full probe + rerank=None is EXACT: no ADC approximation anywhere
    got = search_ivf_pq_index(spark, path, emb, k=3, n_probe=None)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        search_ivf_pq_index(spark, path, emb, k=3, rerank=10)
    assert any("below 0.8 recall" in str(x.message) for x in rec)

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        search_ivf_pq_index(spark, path, emb, k=3, rerank=60)  # >= 20*k
    assert not any("below 0.8 recall" in str(x.message) for x in rec)


def test_pq_train_order_by_id_matches_engine_free_replica(spark):
    """The q43 pq_trained oracle technique: Spark's pq_train with
    order_by_id sampling must produce BIT-IDENTICAL codebooks to the
    pure pyarrow+numpy replica the oracle generator runs."""
    from pride_spark.operators.similarity import pq_train
    from pride_spark.registry import _pq_trained_books

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spark_books = pq_train(emb, "vec_id", "embedding", m=4, k=8, order_by_id=True)
    assert spark_books == _pq_trained_books()


def _fold_dot(xs, ys) -> float:
    """The SQL ``aggregate(zip_with(...))`` dot, replayed as an explicit
    left-to-right loop over Python floats."""
    acc = 0.0
    for x, y in zip(xs, ys):
        acc = acc + float(x) * float(y)
    return acc


def _spark_sorted(entries):
    """Sort ``(double, id)`` pairs as ``array_sort`` orders the builders'
    structs: Spark's double order (NaN greatest, -0.0 == 0.0), ties to
    the lower id."""
    import math

    return sorted(
        entries, key=lambda e: (math.isnan(e[0]), 0.0 if math.isnan(e[0]) else e[0], e[1])
    )


def _assert_exact(got, want):
    """Element-wise exact equality of nested lists of doubles/ints: NaN
    matches NaN, and a zero must carry the same sign."""
    import math

    if isinstance(want, (list, tuple)):
        assert len(got) == len(want), (got, want)
        for g, w in zip(got, want):
            _assert_exact(g, w)
    elif isinstance(want, float) and math.isnan(want):
        assert math.isnan(got), (got, want)
    else:
        assert got == want and math.copysign(1, got) == math.copysign(1, want), (got, want)


def _assert_builders_match_python(df, cents, books):
    """``_nearest_centroids_expr``, ``pq_encode_expr`` and ``pq_luts_expr``
    against a pure-Python replay of the same arithmetic.  The centroid
    norms and codebook squared norms are the builders' own Python-side
    constants (rendered as literals), so the replay computes them with
    the builders' formulas."""
    nearest, order = similarity._nearest_centroids_expr("embedding", cents)
    rows = df.select(
        "embedding",
        nearest.alias("n"),
        order.alias("o"),
        similarity.pq_encode_expr("embedding", books).alias("c"),
        similarity.pq_luts_expr("embedding", books).alias("l"),
    ).collect()
    norms = [max(sum(x * x for x in c) ** 0.5, 1e-12) for c in cents]
    for r in rows:
        v = list(r["embedding"])
        want_o = _spark_sorted(
            [(-_fold_dot(v, c) / norms[ci], ci) for ci, c in enumerate(cents)]
        )
        assert r["n"] == want_o[0][1]
        _assert_exact([(e["neg"], e["cid"]) for e in r["o"]], want_o)
        codes, luts = [], []
        for j, book in enumerate(books):
            sub = len(book[0])
            s = v[j * sub : (j + 1) * sub]
            codes.append(
                _spark_sorted(
                    [
                        (round(sum(x * x for x in c), 10) - 2.0 * _fold_dot(s, c), ci)
                        for ci, c in enumerate(book)
                    ]
                )[0][1]
            )
            luts.append([_fold_dot(s, c) for c in book])
        assert list(r["c"]) == codes
        _assert_exact([list(x) for x in r["l"]], luts)


def test_sql_text_builders_match_python_reference(spark):
    """The SQL-text centroid/codebook builders equal a pure-Python replay
    EXACTLY: same left-to-right fold, same literal parse (repr round-trip
    + correctly-rounded double parse).  Covers lit_vec against
    denormal/extreme values."""
    import struct

    # lit_vec bit-exactness over extremes
    vals = [1e-08, -2.5e16, 0.1, -0.0, 5e-324, 1.7976931348623157e308, 3.14]
    got = spark.range(1).select(similarity.lit_vec(vals).alias("x")).collect()[0]["x"]
    assert all(
        struct.pack("d", a) == struct.pack("d", b) for a, b in zip(got, vals)
    )

    rows = [(i, [((i * 31 + j * 7) % 17 - 8) / 3.0 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[((c * 13 + j) % 11 - 5) / 4.0 for j in range(8)] for c in range(4)]
    books = [
        [[((m * 7 + c * 3 + j) % 9 - 4) / 5.0 for j in range(4)] for c in range(3)]
        for m in range(2)
    ]
    _assert_builders_match_python(df, cents, books)


def test_sql_text_non_finite_literals(spark):
    """r8 (ADVICE): repr renders NaN/Infinity as ``nan``/``inf`` which the
    SQL parser rejects — degenerate input vectors can put non-finite
    values into centroids/codebooks, so _d must fall back to the
    string-cast forms and keep the SQL-text builders crash-free AND equal
    to the Python replay (NaN sorts greatest)."""
    import math

    nan, inf = float("nan"), float("inf")
    vals = [nan, inf, -inf, 1.5, -0.0]
    got = spark.range(1).select(similarity.lit_vec(vals).alias("x")).collect()[0]["x"]
    assert math.isnan(got[0]) and got[1] == inf and got[2] == -inf and got[3] == 1.5

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[nan] * 8, [1.0] * 8, [inf, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -inf]]
    books = [[[nan, 1.0, 2.0, 3.0], [0.0] * 4, [inf, 0.0, 0.0, 0.0]],
             [[1.0] * 4, [-inf, 2.0, 2.0, 2.0], [0.5] * 4]]
    _assert_builders_match_python(df, cents, books)


def test_ivf_topk_pretrained_quantizer_full_probe_exact(spark):
    """r9 review: with a caller-supplied quantizer LARGER than the
    n_centroids default, n_probe=None must still default to FULL probe
    (= exact results) — it used to resolve against the n_centroids
    parameter (16) before the pretrained list was consulted."""
    import pytest as _pytest

    from pride_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probe = emb.filter("vec_id < 10")
    trained = similarity._kmeans_centroids(emb, "vec_id", "embedding", 24, 2)
    assert len(trained) == 24
    brute = similarity.brute_force_topk(emb, "vec_id", "embedding", k=3, probe=probe)
    ivf = similarity.ivf_topk(
        emb, "vec_id", "embedding", k=3, probe=probe, centroids=trained
    )
    bs = {(r["query_id"], r["nbr_id"], r["rank"]) for r in brute.collect()}
    vs = {(r["query_id"], r["nbr_id"], r["rank"]) for r in ivf.collect()}
    assert bs == vs
    with _pytest.raises(ValueError, match="n_probe"):
        similarity.ivf_topk(emb, "vec_id", "embedding", n_probe=0)


def test_lsh_gemm_string_ids(spark):
    """r9 review: the GEMM scorer is id-type agnostic like its fold
    sibling (the applyInPandas schema used to hardcode long ids)."""
    from pride_spark.operators import similarity

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter("vec_id < 60")
        .select(F.concat(F.lit("id-"), F.col("vec_id")).alias("sid"), "embedding")
    )
    import random as _random

    rng = _random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(3)]  # one table
    gemm = similarity.lsh_topk(emb, "sid", "embedding", planes, k=3)
    fold = similarity.lsh_topk_fold(emb, "sid", "embedding", planes, k=3)
    g = {(r["query_id"], r["nbr_id"], r["rank"]) for r in gemm.collect()}
    f = {(r["query_id"], r["nbr_id"], r["rank"]) for r in fold.collect()}
    assert g == f and g


def test_hyperplane_bucket_rejects_over_63_planes(spark):
    from pride_spark.operators import similarity

    with pytest.raises(ValueError, match="63"):
        similarity.hyperplane_bucket("v", [[1.0, 0.0]] * 64)


def test_pq_index_vectors_partition_pruned(spark, tmp_path):
    """r9 review: the rerank float-vector table is partitioned by the
    primary centroid and partition-pruned under assign_replicas=1 —
    and the pruned search still matches the unpruned exact results."""
    from pride_spark.operators import similarity
    from pride_spark.operators.ann_index import build_ivf_index, search_ivf_pq_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = similarity.pq_codebooks_seeded(m=4, k=8, dim=64)
    path = str(tmp_path / "pqidx")
    build_ivf_index(emb, path, n_centroids=8, pq_codebooks=books)
    probe = emb.filter("vec_id < 10")
    hits = search_ivf_pq_index(
        spark, path, probe, k=3, n_probe=8, rerank=10_000
    )
    plan = hits._jdf.queryExecution().executedPlan().toString()
    # the vectors scan (the one carrying nbr_vec/nbr_norm — plan
    # toString truncates long tmp paths, so match on schema not path)
    # carries a PartitionFilters clause on centroid_id
    vec_lines = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "nbr_vec" in ln
    ]
    assert vec_lines
    assert all(
        "PartitionFilters: [centroid_id" in ln for ln in vec_lines
    ), vec_lines
    brute = similarity.brute_force_topk(emb, "vec_id", "embedding", k=3, probe=probe)
    bs = {(r["query_id"], r["nbr_id"], r["rank"]) for r in brute.collect()}
    vs = {(r["query_id"], r["nbr_id"], r["rank"]) for r in hits.collect()}
    assert bs == vs  # full probe + oversized rerank = exact


def test_token_count_empty_text_is_zero(spark):
    """r10 review: split('') yields [''] in Spark — tokens() filters the
    empty element so empty/whitespace-only docs count 0 tokens, not 1."""
    from pride_spark.operators import text as T

    df = spark.createDataFrame(
        [("", ), ("   ",), ("one two",)], "text string"
    ).select(T.token_count(F.col("text")).alias("n"))
    assert [r["n"] for r in df.collect()] == [0, 0, 2]


def test_shingle_rows_matches_word_shingles(spark):
    """r13: shingle_rows' keep-row predicate moved from a second
    count-over-id window to ``lead(n-1) IS NOT NULL OR pos = 0`` — must
    emit exactly the word_shingles multiset for every doc shape: empty
    text, one word, exactly n-1 / n / n+1 words, long docs, and NULL
    text (zero rows)."""
    docs = [
        (1, ""),
        (2, "solo"),
        (3, "two words"),
        (4, "three little words"),
        (5, "now four words here"),
        (6, " ".join(f"w{i}" for i in range(30))),
        (7, None),
        (8, "   padded   whitespace   doc   "),
        (9, "dup dup dup dup"),
    ]
    df = spark.createDataFrame(docs, "id long, t string")
    for n in (1, 2, 3, 4):
        got = sorted(
            (r["id"], r["sh"])
            for r in dedup.shingle_rows(df, "t", "id", n).collect()
        )
        want = sorted(
            (r["id"], sh)
            for r in df.filter(F.col("t").isNotNull())
            .select("id", dedup.word_shingles("t", n).alias("shs"))
            .collect()
            for sh in r["shs"]
        )
        assert got == want, f"n={n}"
        # distinct=True variant dedups per (id, sh)
        got_d = sorted(
            (r["id"], r["sh"])
            for r in dedup.shingle_rows(df, "t", "id", n, distinct=True).collect()
        )
        assert got_d == sorted(set(want)), f"n={n} distinct"
