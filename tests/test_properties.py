"""Property-based checks (hypothesis): distributed operators vs
pure-Python references on adversarial random inputs.

The fixed oracles compare against DuckDB on one dataset; these compare
against an independent Python implementation on many generated ones,
aimed at the boundaries the two-pass designs must get right — score
ties spanning range-bucket edges, all-decoy prefixes, single-row and
single-bucket degenerate shapes.

Spark jobs per example are slow, so max_examples is small and each
example packs ties deliberately (scores drawn from a 6-value pool).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pride_spark.operators.fdr import add_fdr_qvalue
from pride_spark.operators.joins import positional_zip_join

# small score pool → dense ties; decoy flag free
_ROWS = st.lists(
    st.tuples(st.sampled_from([1, 2, 3, 5, 8, 13]), st.booleans()),
    min_size=1,
    max_size=60,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _ref_fdr_qvalue(rows: list[tuple[int, bool]], better: str = "higher"):
    """Independent reference: per-distinct-score cumulative counts
    (range-frame tie semantics), then suffix-min for q-values."""
    scores = sorted({s for s, _ in rows}, reverse=(better == "higher"))
    dec = {s: 0 for s in scores}
    tgt = {s: 0 for s in scores}
    for s, d in rows:
        (dec if d else tgt)[s] += 1
    fdr, cum_d, cum_t = {}, 0, 0
    for s in scores:
        cum_d += dec[s]
        cum_t += tgt[s]
        fdr[s] = cum_d / max(cum_t, 1)
    qval, running = {}, float("inf")
    for s in reversed(scores):
        running = min(running, fdr[s])
        qval[s] = running
    return fdr, qval


@given(rows=_ROWS, better=st.sampled_from(["higher", "lower"]))
@_SETTINGS
def test_fdr_two_pass_matches_reference(spark, rows, better):
    df = spark.createDataFrame(
        [(float(s), d) for s, d in rows], "score double, decoy boolean"
    )
    out = add_fdr_qvalue(
        df, "score", "decoy", better=better, scalable=True, num_range_partitions=3
    ).collect()
    fdr, qval = _ref_fdr_qvalue(rows, better)
    for r in out:
        assert abs(r["fdr"] - fdr[int(r["score"])]) < 1e-12, (rows, better, r)
        assert abs(r["qvalue"] - qval[int(r["score"])]) < 1e-12, (rows, better, r)


@given(rows=_ROWS)
@_SETTINGS
def test_fdr_window_and_two_pass_agree(spark, rows):
    df = spark.createDataFrame(
        [(float(s), d) for s, d in rows], "score double, decoy boolean"
    )
    two_pass = add_fdr_qvalue(
        df, "score", "decoy", scalable=True, num_range_partitions=2
    )
    window = add_fdr_qvalue(df, "score", "decoy", scalable=False)
    a = sorted((r["score"], r["decoy"], r["fdr"], r["qvalue"]) for r in two_pass.collect())
    b = sorted((r["score"], r["decoy"], r["fdr"], r["qvalue"]) for r in window.collect())
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x[:2] == y[:2] and abs(x[2] - y[2]) < 1e-12 and abs(x[3] - y[3]) < 1e-12


_WORDS = st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8)


@given(docs=st.lists(_WORDS, min_size=1, max_size=10))
@_SETTINGS
def test_minhash_signatures_match_python_reference(spark, docs):
    import hashlib

    k, n = 4, 3
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], "doc_id long, text string"
    )
    from pride_spark.operators.dedup import minhash_signatures_df

    got = {
        r["id"]: tuple(r[f"mh{i}"] for i in range(k))
        for r in minhash_signatures_df(df, "text", "doc_id", num_hashes=k, shingle_n=n).collect()
    }
    import re

    for doc_id, w in enumerate(docs):
        words = re.split(r"\s+", " ".join(w).strip())
        kk = max(len(words) - n + 1, 1)
        shingles = {" ".join(words[i : i + n]) for i in range(kk)}
        # chunked md5 (dedup.minhash_signatures_df): hash i = 8-hex-char chunk i%4
        # of md5(f"{i//4}|" + shingle)
        want = tuple(
            min(
                hashlib.md5(f"{i // 4}|{s}".encode()).hexdigest()[
                    (i % 4) * 8 : (i % 4) * 8 + 8
                ]
                for s in shingles
            )
            for i in range(k)
        )
        assert got[doc_id] == want, (doc_id, docs)


_PSM_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # clusterId
        st.sampled_from(["PEPA", "PEPB"]),              # peptideSequence (no L/I)
        st.sampled_from(["PEPA", "PEPA[+80]", "PEPB"]),  # peptidoform
        st.integers(min_value=0, max_value=5),          # score
    ),
    min_size=1,
    max_size=24,
)


@given(rows=_PSM_ROWS)
@_SETTINGS
def test_best_psm_per_cluster_matches_python_reference(spark, rows):
    from pride_spark.operators.cluster import best_psm_per_cluster

    data = [
        (cid, f"usi:{i}", pep, form, float(s))
        for i, (cid, pep, form, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "clusterId int, usi string, peptideSequence string, peptidoform string, score double"
    )
    got = {r["clusterId"]: r["usi"] for r in best_psm_per_cluster(df).collect()}
    # reference: purity gates (single isobaric peptide; row's own peptidoform
    # is the strict majority) then min (score, usi)
    want = {}
    for cid in {c for c, *_ in rows}:
        members = [d for d in data if d[0] == cid]
        if len({m[2] for m in members}) != 1:  # sequences contain no L/I
            continue
        total = len(members)
        form_counts = {}
        for m in members:
            form_counts[m[3]] = form_counts.get(m[3], 0) + 1
        survivors = [m for m in members if form_counts[m[3]] * 2 > total]
        if survivors:
            want[cid] = min(survivors, key=lambda m: (m[4], m[1]))[1]
    assert got == want, (rows, got, want)


@given(n=st.integers(min_value=1, max_value=50), m=st.integers(min_value=0, max_value=60))
@_SETTINGS
def test_positional_zip_join_matches_python_zip(spark, n, m):
    # left ordered by key; right indexed 0..m-1; expect pairs for i < min(n, m)
    left = spark.createDataFrame([(i * 10, f"L{i}") for i in range(n)], "k long, lv string")
    right = spark.createDataFrame([(i, f"R{i}") for i in range(m)], "idx long, rv string")
    out = positional_zip_join(
        left, right, left_order=["k"], right_index_col="idx", num_range_partitions=3
    )
    got = sorted((r["lv"], r["rv"]) for r in out.collect())
    want = sorted((f"L{i}", f"R{i}") for i in range(min(n, m)))
    assert got == want


_DOCS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=10),
    min_size=2,
    max_size=12,
)


@given(docs=_DOCS)
@_SETTINGS
def test_lsh_first_collision_pairs_match_any_band_reference(spark, docs):
    # first-collision-wins must emit exactly the pairs that agree on ANY
    # band (uncapped) — same set the old emit-everywhere + distinct gave
    import hashlib

    from pride_spark.operators.dedup import lsh_candidate_pairs

    k, bands, n = 8, 4, 3
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            df, "text", "doc_id", num_hashes=k, bands=bands, shingle_n=n
        ).collect()
    }

    import re

    def sig(words):
        ws = re.split(r"\s+", " ".join(words).strip())
        kk = max(len(ws) - n + 1, 1)
        shingles = {" ".join(ws[i : i + n]) for i in range(kk)}
        return [
            min(
                hashlib.md5(f"{i // 4}|{s}".encode()).hexdigest()[
                    (i % 4) * 8 : (i % 4) * 8 + 8
                ]
                for s in shingles
            )
            for i in range(k)
        ]

    sigs = {i: sig(w) for i, w in enumerate(docs)}

    def bucket(s, b):
        rows = k // bands
        return hashlib.md5("|".join(s[b * rows : (b + 1) * rows]).encode()).hexdigest()

    want = set()
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if any(bucket(sigs[a], x) == bucket(sigs[b], x) for x in range(bands)):
                want.add((a, b))
    assert got == want, (docs, got, want)


# ---------------------------------------------------------------------------
# range_join ≡ naive BETWEEN join on arbitrary integer points/intervals
# (incl. end<start garbage, duplicates, negatives, bin-boundary values)
# ---------------------------------------------------------------------------
_PTS = st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=20)
_IVS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=20,
)


@given(pts=_PTS, ivs=_IVS, w=st.integers(min_value=1, max_value=17))
@_SETTINGS
def test_range_join_matches_between_reference(spark, pts, ivs, w):
    from pride_spark.operators.joins import range_join

    p = spark.createDataFrame([(i, x) for i, x in enumerate(pts)], "pid int, x int")
    v = spark.createDataFrame(
        [(j, s, e) for j, (s, e) in enumerate(ivs)], "iid int, s int, e int"
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(p, v, "x", "s", "e", bin_width=w).collect()
    )
    want = sorted(
        (i, j)
        for i, x in enumerate(pts)
        for j, (s, e) in enumerate(ivs)
        if s <= x <= e
    )
    assert got == want


# ---------------------------------------------------------------------------
# Occam's-razor parsimony: driver loop vs distributed formulation on
# adversarial random peptide->protein maps (VERDICT r5/r6 item).  A tiny
# protein/peptide pool makes identical sets, subset chains and cover
# ties the COMMON case, not the corner.
# ---------------------------------------------------------------------------

_PSM_MAPS = st.lists(
    st.tuples(
        st.sampled_from([f"pep{i}" for i in range(8)]),
        st.lists(
            st.sampled_from([f"P{i}" for i in range(6)]),
            min_size=1, max_size=3, unique=True,
        ),
    ),
    min_size=1,
    max_size=25,
)


def _canon_inference(df):
    return sorted(
        (r["proteinAccession"], r["groupId"], tuple(r["groupMembers"]),
         tuple(r["peptides"]), r["isLeading"], r["category"])
        for r in df.collect()
    )


@given(rows=_PSM_MAPS)
@_SETTINGS
def test_occams_razor_distributed_matches_driver(spark, rows):
    from pride_spark.operators.inference import occams_razor

    psms = spark.createDataFrame(
        rows, "peptideSequence string, proteinAccessions array<string>"
    )
    driver = _canon_inference(occams_razor(psms, max_groups=1_000_000))
    dist = _canon_inference(occams_razor(psms, max_groups=0))  # force joins path
    assert driver == dist


@given(
    vals=st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_sql_double_literal_bit_identity(spark, vals):
    """similarity._d: for ANY float64 (denormals, -0.0, extremes, NaN,
    ±Infinity) the SQL-text literal must parse to the bit pattern F.lit
    produces — the guarantee the one-py4j-call ANN plan construction
    rests on."""
    import struct

    from pyspark.sql import functions as F

    from pride_spark.operators import similarity

    row = spark.range(1).select(
        similarity.lit_vec(vals).alias("sql"),
        F.array(*[F.lit(float(v)) for v in vals]).alias("col"),
    ).collect()[0]
    a = [struct.pack("d", v) for v in row["sql"]]
    b = [struct.pack("d", v) for v in row["col"]]
    assert a == b


_MOD_POS = st.integers(min_value=1, max_value=30)
_MOD_ACC = st.sampled_from(["UNIMOD:4", "UNIMOD:21", "UNIMOD:35", "MOD:00696"])
_MOD_PARAM = st.sampled_from(
    [None, "[MS,MS:1001876,probability,0.8]", "[MS,MS:1001876,probability,0.33]"]
)


@given(
    mods=st.lists(
        st.tuples(st.lists(st.tuples(_MOD_POS, _MOD_PARAM), min_size=1, max_size=3), _MOD_ACC),
        min_size=0,
        max_size=4,
    )
)
@_SETTINGS
def test_mztab_modification_parse_any_qualifier_shape(spark, tmp_path_factory, mods):
    """plans.ingest mzTab mod parse (through the REAL reader): any mix of
    plain / CV-param-qualified / ambiguous ('3[..]|4[..]') positions must
    yield (first position, accession) per entry — the qualifier commas
    must not split entries, and 'null' stays an empty list."""
    from pride_spark.plans.ingest import read_psms_any

    entries = []
    want = []
    for positions, acc in mods:
        arms = "|".join(f"{p}{q or ''}" for p, q in positions)
        entries.append(f"{arms}-{acc}")
        want.append((positions[0][0], acc))
    raw = ",".join(entries) if entries else "null"

    tab = (
        "MTD\tmzTab-version\t1.0.0\n"
        "MTD\tms_run[1]-location\tfile:///data/run1.mzML\n"
        "PSH\tsequence\tPSM_ID\taccession\tunique\tsearch_engine_score[1]\t"
        "modifications\tspectra_ref\tretention_time\tcharge\texp_mass_to_charge\n"
        f"PSM\tPEPTIDEK\t1\tP12345\t1\t0.001\t{raw}\tms_run[1]:scan=42\t55.2\t2\t445.12\n"
    )
    p = tmp_path_factory.mktemp("mztab_prop") / "m.mztab"
    p.write_text(tab)
    row = read_psms_any(spark, [str(p)]).collect()[0]
    got = [(m["position"], m["accession"]) for m in row["modifications"]]
    assert got == want


# --- r9: PSM-set grouping vs a python reference ---------------------------

_PSM_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a.mzid", "b.mzid", "c.mztab"]),          # file
        st.integers(0, 5),                                          # spectrum
        st.sampled_from(["PEPK", "LNGVK", "AEFVEVTK"]),             # sequence
        st.integers(2, 3),                                          # charge
        st.integers(0, 40),                                         # score (int -> exact)
        st.booleans(),                                              # decoy
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_PSM_ROWS)
@_SETTINGS
def test_group_psm_sets_matches_python_reference(spark, rows):
    """For ANY multi-file PSM frame: one output row per distinct
    (spectrum, sequence, charge) key; the row is the best-scoring
    member (ties broken on (file, psmId)); the set is decoy iff every
    member is; engineSet is the sorted distinct engine list."""
    from pyspark.sql import functions as F

    from pride_spark.operators.fdr import group_psm_sets

    data = [
        (f, f"{f}:{i}", f"s{spec}", seq, z, float(score), d, f"ENG:{f[0]}")
        for i, (f, spec, seq, z, score, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "fileName string, psmId string, sourceId string, peptideSequence string, "
        "precursorCharge int, score double, isDecoy boolean, scoreAccession string",
    ).withColumn(
        "modifications",
        F.array().cast("array<struct<position:int,accession:string,name:string>>"),
    )
    got = {
        (r["sourceId"], r["peptideSequence"], r["precursorCharge"]): r
        for r in group_psm_sets(df).collect()
    }

    ref: dict = {}
    for f, pid, spec, seq, z, score, d, eng in data:
        ref.setdefault((spec, seq, z), []).append((f, pid, score, d, eng))
    assert set(got) == set(ref)
    for k, members in ref.items():
        best = min(members, key=lambda m: (-m[2], m[0], m[1]))
        r = got[k]
        assert r["psmId"] == best[1] and r["score"] == best[2]
        assert r["isDecoy"] is all(m[3] for m in members)
        assert r["setSize"] == len(members)
        assert r["engineSet"] == ";".join(sorted({m[4] for m in members}))
        assert [(m["fileName"], m["psmId"]) for m in r["setMembers"]] == sorted(
            (m[0], m[1]) for m in members
        )


# --- connected components vs union-find -------------------------------------

# node ids from a small pool → dense multi-edges, self-loops, and hubs;
# edge lists may contain duplicates (the operator dedups internally)
_EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=24), st.integers(min_value=0, max_value=24)),
    min_size=1,
    max_size=80,
)


def _ref_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Independent union-find; component label = min node id (the
    engine's star-contraction contract)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@given(edges=_EDGES, skew_safe=st.booleans())
@_SETTINGS
def test_connected_components_match_union_find(spark, edges, skew_safe):
    from pride_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "u", "v", skew_safe=skew_safe).collect()
    }
    assert got == _ref_components(edges)
