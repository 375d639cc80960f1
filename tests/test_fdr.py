"""FDR / q-value correctness: window implementation vs a pure-Python
re-derivation of the published PIA semantics (SURVEY §2.6)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pride_spark.operators.fdr import add_fdr_qvalue, repair_zero_qvalues, top_n_per_spectrum


def python_fdr(rows, better="higher"):
    """Reference implementation: best-first scan, tie-inclusive counts."""
    key = (lambda r: -r[1]) if better == "higher" else (lambda r: r[1])
    ordered = sorted(rows, key=key)
    # group rows by tied score, best-first
    groups: list[list[tuple]] = []
    for r in ordered:
        if groups and groups[-1][0][1] == r[1]:
            groups[-1].append(r)
        else:
            groups.append([r])
    fdr, group_fdr = {}, []
    cd = ct = 0
    for members in groups:
        for _id, _s, dec in members:
            cd += bool(dec)
            ct += not dec
        f = cd / max(ct, 1)
        group_fdr.append(f)
        for _id, _s, _d in members:
            fdr[_id] = f
    qs = {}
    running = float("inf")
    for members, f in zip(reversed(groups), reversed(group_fdr)):
        running = min(running, f)
        for _id, _s, _d in members:
            qs[_id] = running
    return fdr, qs


@pytest.fixture(scope="module")
def scored(spark):
    random.seed(7)
    rows = [(i, round(random.random() * 50, 2), random.random() < 0.4) for i in range(3000)]
    return rows, spark.createDataFrame(rows, "id long, score double, isDecoy boolean")


def test_fdr_matches_reference_python(scored, spark):
    rows, df = scored
    got = {
        r["id"]: (r["fdr"], r["qvalue"])
        for r in add_fdr_qvalue(df, "score", "isDecoy", scalable=False).collect()
    }
    fdr, q = python_fdr(rows)
    for i, (f, qq) in got.items():
        assert abs(f - fdr[i]) < 1e-12, f"fdr mismatch id={i}"
        assert abs(qq - q[i]) < 1e-12, f"qvalue mismatch id={i}"


def test_scalable_equals_naive(scored):
    rows, df = scored
    naive = add_fdr_qvalue(df, "score", "isDecoy", scalable=False)
    scal = add_fdr_qvalue(df, "score", "isDecoy", scalable=True, num_range_partitions=5)
    n = {r["id"]: (r["fdr"], r["qvalue"]) for r in naive.collect()}
    s = {r["id"]: (r["fdr"], r["qvalue"]) for r in scal.collect()}
    assert n == s


def test_fine_bucket_monotone_on_adversarial_doubles(spark):
    """r14: the one-pass histogram bucketing is correct ONLY if the fine
    map is monotone under Spark's double ordering (with -0.0 = 0.0 and
    NaN largest) — pin it on denormals, decade/ulp edges, infinities."""
    import math
    import struct as _struct

    from pride_spark.operators.partitioning import fine_bucket_sql as _fine_bucket_sql

    def ulp_next(x, up=True):
        b = _struct.unpack("<q", _struct.pack("<d", x))[0]
        b += 1 if (x >= 0) == up else -1
        return _struct.unpack("<d", _struct.pack("<q", b))[0]

    vals = [float("-inf"), -1.8e308, -1e3, -1.0005, -1e-300, -5e-324,
            -0.0, 0.0, 5e-324, 1e-320, 1e-300, 0.1, 0.5, 1.0, 1.0005]
    for base in (1e-3, 1.0, 10.0, 1e3, 1e10, 1e300):
        vals += [ulp_next(base, False), base, ulp_next(base, True),
                 -ulp_next(base, False), -base]
    import random
    rnd = random.Random(11)
    vals += [rnd.uniform(-1e6, 1e6) for _ in range(200)]
    vals += [rnd.uniform(-1, 1) * 10 ** rnd.randint(-308, 308) for _ in range(200)]
    vals += [float("inf"), float("nan")]
    df = spark.createDataFrame([(v,) for v in vals], "k double")
    rows = df.selectExpr("k", f"{_fine_bucket_sql('k')} AS fine").collect()
    fines = {}
    for r in rows:
        key = repr(r["k"])
        fines.setdefault(key, set()).add(r["fine"])
    for k, f in fines.items():
        assert len(f) == 1, f"fine not deterministic for {k}: {f}"
    # Spark's ordering of the keys = the sorted frame's order
    ordered = df.orderBy("k").selectExpr(f"{_fine_bucket_sql('k')} AS fine").collect()
    seq = [r["fine"] for r in ordered]
    assert seq == sorted(seq), "fine bucket is not monotone in key order"
    # -0.0 and 0.0 are equal keys and must share a fine value
    zf = {r["fine"] for r in rows if r["k"] == 0.0 and not math.isnan(r["k"])}
    assert len(zf) == 1


def test_scalable_fdr_on_extreme_scores_equals_naive(spark):
    """The fused histogram path must reproduce the single-window result
    even when scores span denormals/huge magnitudes and include +/-inf
    and repeated values.  (Null scores are exercised separately in
    test_null_scores_rank_worst: the scalable path keys nulls as +inf —
    a pre-existing documented conflation with REAL +inf scores under
    better='lower', identical before and after the r14 histogram fusion,
    so this test keeps infinities and nulls apart.)"""
    import random
    rnd = random.Random(3)
    rows = []
    for i in range(800):
        kind = i % 8
        if kind == 0:
            s = rnd.choice([1.8e308, -1.8e308, 12345.678])
        elif kind == 1:
            s = float("inf") if i % 16 else float("-inf")
        elif kind == 2:
            s = rnd.choice([5e-324, 1e-320, -5e-324, 0.0, -0.0])
        elif kind == 3:
            s = rnd.uniform(-1, 1) * 10 ** rnd.randint(-308, 307)
        else:
            s = round(rnd.uniform(0, 50), 1)  # plenty of ties
        rows.append((i, s, rnd.random() < 0.4))
    df = spark.createDataFrame(rows, "id long, score double, isDecoy boolean")
    for better in ("higher", "lower"):
        naive = add_fdr_qvalue(df, "score", "isDecoy", better=better, scalable=False)
        scal = add_fdr_qvalue(
            df, "score", "isDecoy", better=better, scalable=True,
            num_range_partitions=7,
        )
        n = {r["id"]: (r["fdr"], r["qvalue"]) for r in naive.collect()}
        s = {r["id"]: (r["fdr"], r["qvalue"]) for r in scal.collect()}
        assert n == s, f"mismatch (better={better})"


def test_lazy_two_pass_equals_eager(scored):
    """r10: lazy=True (the plan-only escape hatch) skips the eager
    localCheckpoint but yields identical values; the eager default's
    plan shows the checkpointed scan where the lazy plan keeps the
    window pipeline."""
    rows, df = scored
    eager = add_fdr_qvalue(df, "score", "isDecoy", num_range_partitions=5)
    lazy = add_fdr_qvalue(df, "score", "isDecoy", num_range_partitions=5, lazy=True)
    e = {r["id"]: (r["fdr"], r["qvalue"]) for r in eager.collect()}
    l = {r["id"]: (r["fdr"], r["qvalue"]) for r in lazy.collect()}
    assert e == l
    # eager: the returned frame IS a checkpointed RDD scan; lazy: still
    # the un-materialized window pipeline
    assert "LogicalRDD" in eager._jdf.queryExecution().analyzed().toString()
    assert "Window" in lazy._jdf.queryExecution().optimizedPlan().toString()


def test_qvalue_monotone_in_score(scored):
    _, df = scored
    out = add_fdr_qvalue(df, "score", "isDecoy", scalable=True).collect()
    by_score = sorted(out, key=lambda r: -r["score"])
    qs = [r["qvalue"] for r in by_score]
    assert qs == sorted(qs), "q-values must be non-decreasing from best to worst score"


def test_partitioned_fdr(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0, False), ("a", 2, 9.0, True), ("b", 3, 8.0, False), ("b", 4, 7.0, False)],
        "grp string, id long, score double, isDecoy boolean",
    )
    out = {r["id"]: r["fdr"] for r in
           add_fdr_qvalue(df, "score", "isDecoy", partition_cols=["grp"]).collect()}
    assert out[1] == 0.0 and out[2] == 1.0  # group a: 1 decoy / 1 target at rank 2
    assert out[3] == 0.0 and out[4] == 0.0  # group b: no decoys


def test_repair_zero_qvalues(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, 0.004), (3, 0.02)], "id long, qvalue double"
    )
    got = {r["id"]: r["qvalue"] for r in repair_zero_qvalues(df).collect()}
    # min positive q = 0.004 → zero replaced by round(0.0004, 6)
    assert got[1] == pytest.approx(0.0004)
    assert got[2] == 0.004 and got[3] == 0.02


def test_top_n_per_spectrum(spark):
    df = spark.createDataFrame(
        [("s1", "p1", 5.0), ("s1", "p2", 7.0), ("s1", "p3", 7.0), ("s2", "p4", 1.0)],
        "spectrumId string, psmId string, searchEngineScore double",
    )
    top1 = top_n_per_spectrum(df, n=1).collect()
    by_spec = {r["spectrumId"]: r["psmId"] for r in top1}
    assert by_spec == {"s1": "p2", "s2": "p4"}  # tie broken on psmId

def test_combined_fdr_score_interpolation(spark):
    from pride_spark.operators.fdr import combined_fdr_score

    # one engine group; scores desc: T T D T T D
    rows = [
        (1, 10.0, False), (2, 9.0, False), (3, 8.0, True),
        (4, 7.0, False), (5, 6.0, False), (6, 5.0, True),
    ]
    df = spark.createDataFrame(rows, "id long, score double, isDecoy boolean")
    df = df.withColumn("eng", F.lit("A+B"))

    stepped = {
        r["id"]: r["combinedFdrScore"]
        for r in combined_fdr_score(df, "score", "isDecoy", "eng", interpolate=False).collect()
    }
    # monotone per-group q-values: 0, 0, .25, .25, .25, .5
    assert [round(stepped[i], 6) for i in range(1, 7)] == [0.0, 0.0, 0.25, 0.25, 0.25, 0.5]

    interp = {
        r["id"]: r["combinedFdrScore"]
        for r in combined_fdr_score(df, "score", "isDecoy", "eng").collect()
    }
    # step points at (10, 0), (8, .25), (5, .5); plateau rows interpolate
    expect = {1: 0.0, 2: 0.125, 3: 0.25, 4: 0.25 + 0.25 / 3, 5: 0.25 + 0.25 * 2 / 3, 6: 0.5}
    for i, v in expect.items():
        assert abs(interp[i] - v) < 1e-12, (i, interp[i], v)
    # interpolation is the distinguishing behavior on plateau rows
    assert interp[2] != stepped[2] and interp[4] != stepped[4]


def test_combined_fdr_score_tie_stable_across_partitionings(spark):
    # Regression (caught by the sf1 gate, not the small gates): with tied
    # scores, ROWS-framed knot windows made interpolation bounds depend on
    # the intra-tie row order — a different shuffle produced different
    # values.  RANGE frames include all score-peers, so the result must be
    # identical for any partitioning AND every tied row must agree.
    import random

    from pride_spark.operators.fdr import combined_fdr_score

    rng = random.Random(5)
    rows = []
    rid = 0
    for s in [50.0, 40.0, 40.0, 30.0, 20.0, 20.0, 20.0, 10.0]:  # heavy ties
        for copy in range(25):
            rid += 1
            rows.append((rid, s, rng.random() < 0.4, "A+B"))
    df = spark.createDataFrame(rows, "id long, score double, isDecoy boolean, eng string")

    a = {
        r["id"]: r["combinedFdrScore"]
        for r in combined_fdr_score(df, "score", "isDecoy", "eng").collect()
    }
    b = {
        r["id"]: r["combinedFdrScore"]
        for r in combined_fdr_score(
            df.repartition(13, "id"), "score", "isDecoy", "eng"
        ).collect()
    }
    assert a == b
    # all rows sharing a score must share the interpolated value
    by_score = {}
    for (rid_, s, _, _) in rows:
        by_score.setdefault(s, set()).add(a[rid_])
    assert all(len(v) == 1 for v in by_score.values()), by_score


def _psm_row(file, pid, spec, seq, mods, z, score, decoy, acc="MS:1002257"):
    return (file, pid, spec, seq, mods, z, float(score), decoy, acc)


_PSM_COLS = [
    "fileName", "psmId", "sourceId", "peptideSequence", "modifications",
    "precursorCharge", "score", "isDecoy", "scoreAccession",
]
_PSM_SCHEMA = (
    "fileName string, psmId string, sourceId string, peptideSequence string, "
    "modifications array<struct<position:int,accession:string,name:string>>, "
    "precursorCharge int, score double, isDecoy boolean, scoreAccession string"
)


def test_group_psm_sets_merged_files(spark):
    """PIA createPSMSets(true) parity (PIAModelerService.java:111-114):
    identical (spectrum, peptidoform, charge) identifications from
    DIFFERENT result files collapse into one set with the best member's
    score; a target member anywhere makes the set a target; distinct
    peptidoforms on the same spectrum stay separate sets."""
    from pride_spark.operators.fdr import group_psm_sets

    phos = [(3, "UNIMOD:21", "Phospho")]
    rows = [
        # spectrum s1, PEPTIDEK/2 identified by BOTH engines -> one set
        _psm_row("a.mzid", "A1", "s1", "PEPTIDEK", [], 2, 10.0, False, "MS:A"),
        _psm_row("b.mzid", "B1", "s1", "PEPTIDEK", [], 2, 30.0, False, "MS:B"),
        # same spectrum+sequence but phosphorylated in b -> SEPARATE set
        _psm_row("b.mzid", "B2", "s1", "PEPTIDEK", phos, 2, 20.0, False, "MS:B"),
        # same sequence, different charge -> separate set
        _psm_row("a.mzid", "A2", "s1", "PEPTIDEK", [], 3, 5.0, False, "MS:A"),
        # decoy in a + target in b on s2 -> set is TARGET
        _psm_row("a.mzid", "A3", "s2", "LNGVK", [], 2, 8.0, True, "MS:A"),
        _psm_row("b.mzid", "B3", "s2", "LNGVK", [], 2, 7.0, False, "MS:B"),
        # decoy in both on s3 -> set stays decoy
        _psm_row("a.mzid", "A4", "s3", "DECOYP", [], 2, 3.0, True, "MS:A"),
        _psm_row("b.mzid", "B4", "s3", "DECOYP", [], 2, 4.0, True, "MS:B"),
    ]
    df = spark.createDataFrame(rows, _PSM_SCHEMA)
    out = group_psm_sets(df).collect()
    sets = {(r["sourceId"], r["peptideSequence"], r["precursorCharge"],
             len(r["modifications"] or [])): r for r in out}
    assert len(out) == 5  # 8 PSMs -> 5 sets

    merged = sets[("s1", "PEPTIDEK", 2, 0)]
    assert merged["score"] == 30.0 and merged["psmId"] == "B1"  # best member wins
    assert merged["setSize"] == 2
    assert [(m["fileName"], m["psmId"]) for m in merged["setMembers"]] == [
        ("a.mzid", "A1"), ("b.mzid", "B1")]
    assert merged["engineSet"] == "MS:A;MS:B"

    assert sets[("s1", "PEPTIDEK", 2, 1)]["setSize"] == 1  # peptidoform split
    assert sets[("s1", "PEPTIDEK", 3, 0)]["setSize"] == 1  # charge split

    mixed = sets[("s2", "LNGVK", 2, 0)]
    assert mixed["isDecoy"] is False and mixed["score"] == 8.0  # any-target
    assert sets[("s3", "DECOYP", 2, 0)]["isDecoy"] is True  # all-decoy


def test_group_psm_sets_consider_modifications_false(spark):
    """PIA considerModifications=false (the merged path's setting,
    PIAModelerService.java:124): the plain sequence is the set key, so
    peptidoform variants of one sequence merge."""
    from pride_spark.operators.fdr import group_psm_sets

    phos = [(3, "UNIMOD:21", "Phospho")]
    rows = [
        _psm_row("a.mzid", "A1", "s1", "PEPTIDEK", [], 2, 10.0, False, "MS:A"),
        _psm_row("b.mzid", "B2", "s1", "PEPTIDEK", phos, 2, 20.0, False, "MS:B"),
    ]
    df = spark.createDataFrame(rows, _PSM_SCHEMA)
    assert group_psm_sets(df).count() == 2
    merged = group_psm_sets(df, consider_modifications=False).collect()
    assert len(merged) == 1 and merged[0]["score"] == 20.0


def test_group_psm_sets_fdr_hand_oracle(spark):
    """The full merged-analysis composition (PIAModelerService.java
    :111-124): set grouping -> top-1 per spectrum -> FDR -> combined FDR
    score, against hand-computed counts on a two-engine fixture where
    every spectrum is identified by both files."""
    from pride_spark.operators.fdr import (
        combined_fdr_score,
        group_psm_sets,
        top_n_per_spectrum,
    )

    rows = []
    # 10 spectra; both engines agree on every identification; spectra
    # s7..s9 are decoys.  Scores descend with the spectrum index.
    for i in range(10):
        decoy = i >= 7
        seq = f"PEP{i}K"
        rows.append(_psm_row("a.mzid", f"A{i}", f"s{i}", seq, [], 2, 100 - i, decoy, "MS:A"))
        rows.append(_psm_row("b.mzid", f"B{i}", f"s{i}", seq, [], 2, 90 - i, decoy, "MS:B"))
    df = spark.createDataFrame(rows, _PSM_SCHEMA)

    # WITHOUT set grouping every identification double-counts: 20 rows
    naive = add_fdr_qvalue(df, "score", "isDecoy", scalable=False)
    assert naive.count() == 20

    sets = group_psm_sets(df)
    top1 = top_n_per_spectrum(
        sets, 1, spectrum_cols=("sourceId",), score_col="score", tie_cols=("psmId",)
    )
    out = add_fdr_qvalue(top1, "score", "isDecoy", scalable=False)
    got = {r["sourceId"]: r for r in out.collect()}
    assert len(got) == 10  # one set per spectrum, single-counted
    # every set took engine A's (higher) score and carries both engines
    assert all(r["engineSet"] == "MS:A;MS:B" and r["setSize"] == 2 for r in got.values())
    # hand FDR: best-first s0..s6 targets then s7..s9 decoys ->
    # fdr 0 through s6; s7 1/7, s8 2/7, s9 3/7
    assert got["s6"]["fdr"] == 0.0
    assert got["s7"]["fdr"] == pytest.approx(1 / 7)
    assert got["s9"]["fdr"] == pytest.approx(3 / 7)
    # combined FDR score composes on the set frame's engineSet column
    comb = combined_fdr_score(out, "score", "isDecoy", "engineSet")
    assert comb.count() == 10 and "combinedFdrScore" in comb.columns


def test_group_psm_sets_null_score_never_wins(spark):
    """r9 (self-review): with better='lower' a null-score member (e.g. a
    PRIDE XML identification whose score failed to parse) must not
    become the set representative — asc() alone is nulls-FIRST."""
    from pride_spark.operators.fdr import group_psm_sets, top_n_per_spectrum

    rows = [
        ("a.xml", "A1", "s1", "PEPTIDEK", None, 2, None, False, None),
        ("b.mzid", "B1", "s1", "PEPTIDEK", None, 2, 0.001, False, "MS:B"),
    ]
    df = spark.createDataFrame(rows, _PSM_SCHEMA)
    out = group_psm_sets(df, better="lower").collect()
    assert len(out) == 1
    assert out[0]["psmId"] == "B1" and out[0]["score"] == 0.001
    # engine key falls back to the file name for the unscored member
    assert out[0]["engineSet"] == "MS:B;a.xml"
    # same discipline in top-N per spectrum
    top = top_n_per_spectrum(
        df, 1, spectrum_cols=("sourceId",), score_col="score",
        better="lower", tie_cols=("psmId",),
    ).collect()
    assert len(top) == 1 and top[0]["psmId"] == "B1"


@pytest.mark.parametrize("better", ["higher", "lower"])
@pytest.mark.parametrize("scalable", [False, True])
def test_null_scores_rank_worst(spark, better, scalable):
    """r9: a null score (unparseable legacy value) must rank WORST in the
    target–decoy ranking — in every path.  Before the fix, better='lower'
    ordered nulls FIRST in the per-group windows, and the global two-pass
    bucketed null keys into bucket 0 (best): a null-score decoy then
    poisoned the FDR of every real identification."""
    good, bad = (9.0, 1.0) if better == "higher" else (1.0, 9.0)
    df = spark.createDataFrame(
        [(1, good, False), (2, bad, False), (3, None, True)],
        "id long, score double, isDecoy boolean",
    )
    out = {
        r["id"]: (r["fdr"], r["qvalue"])
        for r in add_fdr_qvalue(
            df, "score", "isDecoy", better=better, scalable=scalable,
            num_range_partitions=2,
        ).collect()
    }
    # the two scored targets see NO decoy above them
    assert out[1] == (0.0, 0.0) and out[2] == (0.0, 0.0)
    # the null-score decoy ranks last: 1 decoy / 2 targets
    assert out[3][0] == pytest.approx(0.5) and out[3][1] == pytest.approx(0.5)


def test_null_scores_rank_worst_rollup_and_cluster(spark):
    """r9: same nulls-last discipline for the A3 representative row and
    the per-cluster best PSM (better='lower' defaults)."""
    from pride_spark.operators.cluster import best_psm_per_cluster
    from pride_spark.operators.rollup import protein_rollup

    df = spark.createDataFrame(
        [
            ("P1", "PEPK", "PEPK/2", None, 2, 400.0, "usi:a", False, []),
            ("P1", "PEPK", "PEPK/2", 0.01, 2, 400.0, "usi:b", False, []),
        ],
        "proteinAccession string, peptideSequence string, peptidoform string,"
        " qvalue double, precursorCharge int, precursorMz double, usi string,"
        " isDecoy boolean, modificationNames array<string>",
    )
    rolled = protein_rollup(df).collect()
    assert len(rolled) == 1
    # the scored row is the A3 representative (usi:b), not the null one
    assert [m["usi"] for m in rolled[0]["psmAccessions"]] == ["usi:b"]

    psms = spark.createDataFrame(
        [
            ("c1", "PEPK", "PEPK/2", None, "usi:a"),
            ("c1", "PEPK", "PEPK/2", 0.01, "usi:b"),
        ],
        "clusterId string, peptideSequence string, peptidoform string,"
        " qvalue double, usi string",
    )
    best = best_psm_per_cluster(psms, score_col="qvalue", better="lower").collect()
    assert len(best) == 1 and best[0]["usi"] == "usi:b"


def test_protein_rollup_best_score_honors_better(spark):
    """r9 review: bestSearchEngineScoreValue must be the max under
    better='higher' (it was unconditionally F.min)."""
    from pride_spark.operators.rollup import protein_rollup

    df = spark.createDataFrame(
        [
            ("P1", "PEPK", "PEPK/2", 10.0, 2, 400.0, "usi:a", False, []),
            ("P1", "QEPR", "QEPR/2", 90.0, 2, 500.0, "usi:b", False, []),
        ],
        "proteinAccession string, peptideSequence string, peptidoform string,"
        " score double, precursorCharge int, precursorMz double, usi string,"
        " isDecoy boolean, modificationNames array<string>",
    )
    hi = protein_rollup(df, score_col="score", better="higher").collect()[0]
    lo = protein_rollup(df, score_col="score", better="lower").collect()[0]
    assert hi["bestSearchEngineScoreValue"] == 90.0
    assert lo["bestSearchEngineScoreValue"] == 10.0


def test_group_psm_sets_composite_spectrum_key(spark):
    """r9 review: spectrum identity may be composite — identical scan
    numbers in two spectra namespaces (fractions) must NOT collapse into
    one set, while same-spectrum identifications across result files
    still do."""
    from pride_spark.operators.fdr import group_psm_sets

    rows = [
        # same spectrum (run1, scan 9), two engines → ONE set
        ("a.mzid", "A1", "9", "PEPTIDEK", None, 2, 0.9, False, "MS:A", "run1.mgf"),
        ("b.mzid", "B1", "9", "PEPTIDEK", None, 2, 0.8, False, "MS:B", "run1.mgf"),
        # same scan number in ANOTHER fraction → its own set
        ("a.mzid", "A2", "9", "PEPTIDEK", None, 2, 0.7, False, "MS:A", "run2.mgf"),
    ]
    schema = (_PSM_SCHEMA + ", specFile string")
    df = spark.createDataFrame(rows, schema)
    out = group_psm_sets(
        df, spectrum_key_col=("specFile", "sourceId"), better="higher"
    ).collect()
    assert len(out) == 2
    by_file = {r["specFile"]: r for r in out}
    assert by_file["run1.mgf"]["setSize"] == 2
    assert by_file["run2.mgf"]["setSize"] == 1
    # the single-column form still collapses all three (old callers)
    assert group_psm_sets(df, better="higher").count() == 1


def test_two_pass_driver_frames_are_local_relations(spark):
    """The global two-pass FDR joins two driver-built frames (bucket
    offsets, suffix minima) back in; both must be ``LocalRelation``s —
    a list-backed frame shows as ``LogicalRDD`` and costs Python-worker
    tasks on every read."""
    df = spark.range(200).select(
        F.col("id").cast("string").alias("id"),
        (F.col("id") % 17).cast("double").alias("score"),
        (F.col("id") % 5 == 0).alias("isDecoy"),
    )
    out = add_fdr_qvalue(df, "score", "isDecoy", num_range_partitions=4, lazy=True)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan
    assert plan.count("LocalRelation") == 2
