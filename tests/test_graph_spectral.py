"""Connected components + native spectral clustering (SURVEY §2.14b)."""

from __future__ import annotations

import random

from pride_spark.operators.graph import connected_components
from pride_spark.operators.spectral_cluster import cluster_spectra


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20} isolated self-edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src long, dst long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain(spark):
    # diameter 30 chain — exercises the multi-round loop + checkpointing
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {0} and len(out) == 31


def test_checkpoint_hygiene_spares_concurrent_persists(spark):
    # superseded rounds are unpersisted by DIRECT handle; an unrelated
    # persisted dataset (standing in for a concurrent driver thread's
    # cache) must survive the sweep, and the loop must not leak more than
    # base + final round into the storage pool
    sc = spark.sparkContext
    other = spark.range(100).persist()
    other.count()
    m = sc._jsc.getPersistentRDDs()
    before = {int(i) for i in m.keySet().toArray()}
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    out = connected_components(edges)
    out.count()
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert before <= after, "hygiene sweep freed a concurrent persist"
    # only base + the auto-mode nodes/degree table + the final round
    # remain from the loop (all three feed the returned plan)
    assert len(after - before) <= 3, after - before
    other.unpersist()


def test_connected_components_skew_safe_agrees_on_hub_graph(spark):
    # one 400-leaf hub + a chain welded to it + a separate pair: the hub
    # shape that makes the window path a single-task straggler at scale
    rows = [(0, i) for i in range(1, 401)] + [(400, 500), (500, 501), (600, 601)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    fast = {
        r["node"]: r["component"]
        for r in connected_components(edges, skew_safe=False).collect()
    }
    safe = {
        r["node"]: r["component"]
        for r in connected_components(edges, skew_safe=True).collect()
    }
    assert fast == safe
    assert safe[501] == 0 and safe[601] == 600 and len(safe) == 405


def test_connected_components_auto_flips_on_hub(spark):
    # skew_safe="auto" with a low threshold: the 400-leaf hub trips the
    # input probe, so the whole run uses the groupBy-min formulation —
    # results must equal the explicit modes.  A chain (hub-free input
    # but a root hub grows during contraction) exercises the MID-RUN
    # flip via the per-round max-in-degree probe.
    hub_rows = [(0, i) for i in range(1, 401)] + [(600, 601)]
    hub = spark.createDataFrame(hub_rows, "src long, dst long")
    auto = {
        r["node"]: r["component"]
        for r in connected_components(hub, skew_safe="auto", skew_threshold=50).collect()
    }
    explicit = {
        r["node"]: r["component"]
        for r in connected_components(hub, skew_safe=True).collect()
    }
    assert auto == explicit

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(chain, skew_safe="auto", skew_threshold=20).collect()
    }
    assert set(out.values()) == {0} and len(out) == 201


def _spectrum(rng, base_peaks, jitter=0.05, drop=0):
    peaks = sorted(rng.sample(base_peaks, len(base_peaks) - drop))
    return (
        [round(p + rng.uniform(-jitter, jitter), 4) for p in peaks],
        [rng.uniform(50, 1000) for _ in peaks],
    )


def test_cluster_spectra_groups_near_identical(spark):
    rng = random.Random(7)
    # two fragment patterns, well-separated precursors
    pattern_a = [100.1 + 7 * k for k in range(30)]
    pattern_b = [103.6 + 9 * k for k in range(30)]
    rows = []
    for i in range(4):  # 4 replicates of A at precursor ~450.1
        m, inten = _spectrum(rng, pattern_a, drop=2)
        rows.append((f"usi:A:{i}", 450.1 + rng.uniform(-0.2, 0.2), m, inten))
    for i in range(3):  # 3 replicates of B at precursor ~651.8
        m, inten = _spectrum(rng, pattern_b, drop=2)
        rows.append((f"usi:B:{i}", 651.8 + rng.uniform(-0.2, 0.2), m, inten))
    # singleton: pattern A peaks but far-away precursor — must NOT merge
    m, inten = _spectrum(rng, pattern_a)
    rows.append(("usi:C:0", 900.0, m, inten))

    spectra = spark.createDataFrame(
        rows,
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )
    out = {r["key"]: r["clusterId"] for r in cluster_spectra(spectra, "usi").collect()}
    assert len(out) == 8
    a_ids = {out[f"usi:A:{i}"] for i in range(4)}
    b_ids = {out[f"usi:B:{i}"] for i in range(3)}
    assert len(a_ids) == 1 and len(b_ids) == 1 and a_ids != b_ids
    assert out["usi:C:0"] == "usi:C:0"  # precursor blocking keeps it apart
    assert out["usi:C:0"] not in a_ids


def test_cluster_spectra_all_singletons(spark):
    rng = random.Random(3)
    rows = []
    for i in range(5):  # disjoint random patterns → no pairs survive
        peaks = sorted(rng.uniform(100 + 300 * i, 400 + 300 * i) for _ in range(25))
        rows.append(
            (f"s{i}", 400.0 + i * 50, peaks, [rng.uniform(1, 100) for _ in peaks])
        )
    spectra = spark.createDataFrame(
        rows,
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )
    out = {r["key"]: r["clusterId"] for r in cluster_spectra(spectra, "usi").collect()}
    assert all(k == v for k, v in out.items())

def test_cluster_spectra_block_mode_matches_lsh_on_clean_groups(spark):
    # block mode is the exact baseline: on well-separated replicate groups
    # the LSH path must find the same clustering (recall 1.0 here), and
    # block mode itself must recover the ground truth.
    rng = random.Random(11)
    pattern_a = [100.1 + 7 * k for k in range(30)]
    pattern_b = [103.6 + 9 * k for k in range(30)]
    rows = []
    for i in range(4):
        m, inten = _spectrum(rng, pattern_a, drop=2)
        rows.append((f"usi:A:{i}", 450.1 + rng.uniform(-0.2, 0.2), m, inten))
    for i in range(3):
        m, inten = _spectrum(rng, pattern_b, drop=2)
        rows.append((f"usi:B:{i}", 651.8 + rng.uniform(-0.2, 0.2), m, inten))
    spectra = spark.createDataFrame(
        rows,
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )
    block = {r["key"]: r["clusterId"] for r in cluster_spectra(spectra, "usi", method="block").collect()}
    lsh = {r["key"]: r["clusterId"] for r in cluster_spectra(spectra, "usi", method="lsh").collect()}
    assert block == lsh
    assert len({block[f"usi:A:{i}"] for i in range(4)}) == 1
    assert len({block[f"usi:B:{i}"] for i in range(3)}) == 1

def test_cluster_spectra_md5_hash_family_matches_xx64_on_clean_groups(spark):
    # hash_fn="md5" (the oracle-able production-path variant, registry
    # q53) only changes which pairs collide probabilistically; on
    # well-separated replicate groups both hash families must recover the
    # same clustering
    rng = random.Random(23)
    pattern_a = [100.1 + 7 * k for k in range(30)]
    rows = []
    for i in range(5):
        m, inten = _spectrum(rng, pattern_a, drop=2)
        rows.append((f"usi:A:{i}", 450.1 + rng.uniform(-0.2, 0.2), m, inten))
    rows.append(("usi:X:0", 700.0, [200.0 + 11 * k for k in range(30)],
                 [1.0 + k for k in range(30)]))
    spectra = spark.createDataFrame(
        rows,
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )
    xx = {r["key"]: r["clusterId"]
          for r in cluster_spectra(spectra, "usi", method="lsh").collect()}
    md5 = {r["key"]: r["clusterId"]
           for r in cluster_spectra(spectra, "usi", method="lsh",
                                    hash_fn="md5").collect()}
    assert xx == md5
    assert len({md5[f"usi:A:{i}"] for i in range(5)}) == 1
    assert md5["usi:X:0"] == "usi:X:0"


def test_cluster_spectra_cap_bounds_identical_spectra(spark):
    # all-identical spectra in one precursor block: the cap drops the
    # mega-bucket, so everything stays a singleton instead of an O(n^2)
    # self-join
    peaks = [100.0 + 7 * k for k in range(20)]
    inten = [float(50 + k) for k in range(20)]
    rows = [(f"s{i}", 450.0, peaks, inten) for i in range(50)]
    spectra = spark.createDataFrame(
        rows,
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )
    out = {
        r["key"]: r["clusterId"]
        for r in cluster_spectra(spectra, "usi", method="block", max_bucket=10).collect()
    }
    assert len(out) == 50
    assert all(k == v for k, v in out.items())
    # uncapped, the same corpus merges into one cluster
    merged = cluster_spectra(spectra, "usi", method="block").select("clusterId").distinct().count()
    assert merged == 1


def test_cluster_spectra_multi_matches_per_method_runs(spark):
    # the shared-stage multi-method path (one persisted binning pass, one
    # tagged disjoint-union CC) must be row-identical to unioning one
    # cluster_spectra call per method — md5 family so both runs are
    # deterministic
    from pride_spark.operators.spectral_cluster import cluster_spectra_multi

    rng = random.Random(31)
    pattern_a = [100.1 + 7 * k for k in range(30)]
    pattern_b = [103.6 + 9 * k for k in range(30)]
    rows = []
    for i in range(4):
        m, inten = _spectrum(rng, pattern_a, drop=2)
        rows.append((f"usi:A:{i}", 450.1 + rng.uniform(-0.2, 0.2), m, inten))
    for i in range(3):
        m, inten = _spectrum(rng, pattern_b, drop=2)
        rows.append((f"usi:B:{i}", 651.8 + rng.uniform(-0.2, 0.2), m, inten))
    rows.append(("usi:X:0", 700.0, [200.0 + 11 * k for k in range(30)],
                 [1.0 + k for k in range(30)]))
    spectra = spark.createDataFrame(
        rows,
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )
    multi = {
        (r["method"], r["key"]): r["clusterId"]
        for r in cluster_spectra_multi(
            spectra, "usi", methods=("block", "lsh"), hash_fn="md5"
        ).collect()
    }
    single = {}
    for m in ("block", "lsh"):
        for r in cluster_spectra(spectra, "usi", method=m, hash_fn="md5").collect():
            single[(m, r["key"])] = r["clusterId"]
    assert multi == single
    assert len(multi) == 2 * len(rows)


def test_pinned_scope_frees_operator_intermediates(spark):
    """Operators register their persists and checkpoints; pinned_scope
    frees them all at exit (the long-lived-driver leak fix), and the
    result computed inside the scope is correct."""
    from pride_spark.session import pinned_scope

    sc = spark.sparkContext
    spectra = spark.createDataFrame(
        [
            (f"s{i}", 400.0 + (i % 3), [100.0, 200.0, 300.0 + (i % 3)], [1.0, 2.0, 3.0])
            for i in range(30)
        ],
        "usi string, precursorMz double, masses array<double>, intensities array<double>",
    )

    def persisted_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    with pinned_scope():
        out = cluster_spectra(spectra, "usi", method="block")
        assert out.count() == 30
        inside = persisted_ids()
    # binned frame and CC checkpoints pinned during the scope ...
    assert inside - before
    # ... and no RDD created inside the scope survives it
    assert persisted_ids() - before == set()


def test_rep_collapse_labels_identical_on_duplicated_corpus(spark):
    """_rep_collapse invariance (r7): a corpus where every spectrum has 8
    exact copies must produce IDENTICAL labels with the collapse active
    (max_bucket=None) and with the uncollapsed pair set (a cap far above
    every bucket size forces rep=key while dropping nothing) — both
    methods, through the shared multi pipeline."""
    from pride_spark.operators.spectral_cluster import cluster_spectra_multi
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        for c in range(8):  # 8 exact copies, distinct keys
            rows.append((
                f"{i:03d}_{c}",
                400.0 + (i % 5) * 2.0,
                [100.0 + j * 13.7 + (i % 7) for j in range(12)],
                [float(j + 1) for j in range(12)],
            ))
    spectra = spark.createDataFrame(
        rows, "usi string, precursorMz double, masses array<double>, intensities array<double>"
    )
    kw = dict(methods=("block", "lsh"), top_k=12, threshold=0.5, hash_fn="md5")
    new = cluster_spectra_multi(spectra, "usi", **kw)
    old = cluster_spectra_multi(spectra, "usi", max_bucket=10**9, **kw)
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0
    # all 8 copies of a spectrum share one cluster, labeled by the min key
    labels = {(r["method"], r["key"]): r["clusterId"] for r in new.collect()}
    for m in ("block", "lsh"):
        for i in range(40):
            assert len({labels[(m, f"{i:03d}_{c}")] for c in range(8)}) == 1
            assert labels[(m, f"{i:03d}_0")] <= f"{i:03d}_0"


def test_collapse_duplicates_composes_with_cap(spark):
    """collapse_duplicates=True + max_bucket: the cap meters DISTINCT
    content, so a duplicate mass that would blow the raw-row cap
    survives as one representative — every dup group still unifies."""
    from pride_spark.operators.spectral_cluster import cluster_spectra

    rows = []
    for i in range(6):
        for c in range(40):  # 40 copies; raw bucket size 240 >> cap 50
            rows.append((
                f"{i}_{c:02d}", 400.0,
                [100.0 + j * 13.7 + i for j in range(12)],
                [float(j + 1) for j in range(12)],
            ))
    spectra = spark.createDataFrame(
        rows, "usi string, precursorMz double, masses array<double>, intensities array<double>"
    )
    out = cluster_spectra(
        spectra, "usi", method="lsh", top_k=12, threshold=0.5,
        max_bucket=50, collapse_duplicates=True,
    )
    labels = {r["key"]: r["clusterId"] for r in out.collect()}
    assert len(labels) == 240
    for i in range(6):
        group = {labels[f"{i}_{c:02d}"] for c in range(40)}
        assert group == {f"{i}_00"}


def test_duplicate_probe_and_null_pmz_collapse(spark):
    """r8: the collapse window is probe-gated (skipped on duplicate-free
    corpora, where it measured +2.5 s of pure overhead at sf0.1), and
    null-pmz rows are NEVER collapsed — they can't co-block in the
    uncollapsed graph, so merging them would break label identity."""
    from pride_spark.operators.spectral_cluster import (
        _has_duplicates,
        _rep_collapse,
        cluster_spectra,
    )

    binned = spark.createDataFrame(
        [
            ("a", 400.0, [1, 2, 3]),
            ("b", 400.0, [4, 5, 6]),
            ("c", None, [7, 8, 9]),
            ("d", None, [7, 8, 9]),  # null-pmz dup: must not count
        ],
        "key string, pmz double, bins array<int>",
    )
    assert _has_duplicates(binned) is False
    dup = binned.union(
        spark.createDataFrame([("e", 400.0, [1, 2, 3])], binned.schema)
    )
    assert _has_duplicates(dup) is True
    # null-pmz rows keep rep = key even with identical bins
    reps = {r["key"]: r["rep"] for r in _rep_collapse(binned).collect()}
    assert reps == {"a": "a", "b": "b", "c": "c", "d": "d"}

    # end-to-end: identical-peak null-pmz spectra stay singletons while a
    # real duplicate group (which trips the probe) still unifies
    rows = [
        ("n1", None, [100.0 + j * 13.7 for j in range(12)], [float(j + 1) for j in range(12)]),
        ("n2", None, [100.0 + j * 13.7 for j in range(12)], [float(j + 1) for j in range(12)]),
        ("p1", 400.0, [100.0 + j * 13.7 for j in range(12)], [float(j + 1) for j in range(12)]),
        ("p2", 400.0, [100.0 + j * 13.7 for j in range(12)], [float(j + 1) for j in range(12)]),
    ]
    spectra = spark.createDataFrame(
        rows, "usi string, precursorMz double, masses array<double>, intensities array<double>"
    )
    out = cluster_spectra(spectra, "usi", method="block", top_k=12, threshold=0.5)
    labels = {r["key"]: r["clusterId"] for r in out.collect()}
    assert labels["n1"] == "n1" and labels["n2"] == "n2"
    assert labels["p1"] == labels["p2"] == "p1"


def test_cluster_spectra_keeps_no_peak_spectra_as_singletons(spark):
    """r9 review: empty/null peak arrays must not vanish from the output
    — one row per input spectrum, no-peak rows as their own cluster."""
    from pride_spark.operators.spectral_cluster import cluster_spectra

    rows = [
        ("u1", [100.0, 200.0], [1.0, 2.0], 400.0),
        ("u2", [100.0, 200.0], [1.0, 2.0], 400.0),
        ("u3", [], [], 500.0),            # no peaks
        ("u4", None, None, None),         # null arrays AND null pmz
    ]
    df = spark.createDataFrame(
        rows, "usi string, masses array<double>, intensities array<double>,"
        " precursorMz double"
    )
    out = {r["key"]: r["clusterId"] for r in cluster_spectra(df).collect()}
    assert set(out) == {"u1", "u2", "u3", "u4"}
    assert out["u1"] == out["u2"]         # real near-dups still cluster
    assert out["u3"] == "u3" and out["u4"] == "u4"


def test_connected_components_nonconvergence_raises(spark):
    """r9 review: exhausting max_iterations must raise, not silently
    return a partially-contracted (wrong) labeling."""
    import pytest as _pytest

    from pride_spark.operators.graph import connected_components

    # a long path graph needs multiple contraction rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, "src", "dst", max_iterations=1)
    # and with enough rounds the same graph is one component
    ok = connected_components(edges, "src", "dst")
    assert ok.select("component").distinct().count() == 1


def test_cluster_spectra_multi_empty_methods_raises(spark):
    import pytest as _pytest

    from pride_spark.operators.spectral_cluster import cluster_spectra_multi

    df = spark.createDataFrame(
        [("u1", [100.0], [1.0], 400.0)],
        "usi string, masses array<double>, intensities array<double>,"
        " precursorMz double",
    )
    with _pytest.raises(ValueError, match="method"):
        cluster_spectra_multi(df, methods=())


def test_connected_components_up_pointing_star_base(spark):
    """r13 star-forest convergence test soundness: a base whose edges all
    point UP (leaf < center, e.g. (1,5),(2,5)) satisfies the two set
    conditions (u-unique, u∩v=∅) but is NOT a valid fixpoint — labeling
    it directly would give node 2 the label 2 instead of 1.  The
    orientation condition must force a contraction round.  Exercised on
    every path combination: pre-contraction on/off × auto/window/groupBy
    star steps."""
    edges = spark.createDataFrame([(1, 5), (2, 5)], "src long, dst long")
    want = {1: 1, 2: 1, 5: 1}
    for pre in (True, False):
        for mode in ("auto", False, True):
            out = {
                r["node"]: r["component"]
                for r in connected_components(
                    edges, skew_safe=mode, pre_contract=pre
                ).collect()
            }
            assert out == want, (pre, mode, out)


def test_connected_components_zero_round_exit_correct(spark):
    """r13: a pre-contracted base that is already a min-oriented star
    forest exits with ZERO contraction rounds — labels must still be
    complete and correct (incl. self-loop singletons and an empty list)."""
    # one partition => the local union-find IS the global answer
    edges = spark.createDataFrame(
        [(5, 1), (3, 1), (9, 7), (20, 20)], "src long, dst long"
    ).coalesce(1)
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 3: 1, 5: 1, 7: 7, 9: 7, 20: 20}
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
