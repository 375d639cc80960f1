"""Session factory guards: static conf that cannot be applied at
runtime must be loudly diagnosed on borrowed sessions."""

from __future__ import annotations

import pathlib
import warnings

import pytest

from pride_spark import session as S
from pride_spark.operators.fdr import add_fdr_qvalue
from pride_spark.operators.graph import connected_components
from pride_spark.operators.inference import GROUP_SCHEMA, occams_razor


class _FakeConf:
    def __init__(self, values):
        self._v = dict(values)

    def set(self, k, v):
        self._v[k] = v

    def get(self, k, default=None):
        return self._v.get(k, default)


class _FakeSession:
    """Just enough surface for tune(): a .conf with get/set."""

    def __init__(self, values):
        self.conf = _FakeConf(values)


def test_tune_warns_on_borrowed_session_with_default_codegen_cache():
    """r12 verdict watch item: spark.sql.codegen.cache.maxEntries is
    applied only at session build; a borrowed session silently keeps the
    100-entry default (the key is not runtime-settable) and the bench
    numbers regress with no code change.  tune() must read the live
    value back and warn, naming the consequence."""
    borrowed = _FakeSession({"spark.sql.codegen.cache.maxEntries": "100"})
    with pytest.warns(RuntimeWarning, match="codegen"):
        S.tune(borrowed)
    # and the runtime keys were still applied despite the warning
    assert borrowed.conf.get("spark.sql.session.timeZone") == "UTC"


def test_tune_is_silent_when_static_conf_matches(spark):
    """The package's own session carries STATIC_CONF, so tune() on it
    must not warn — the guard fires only on genuine drift."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        S.tune(spark)
    assert (
        spark.conf.get("spark.sql.codegen.cache.maxEntries")
        == S.STATIC_CONF["spark.sql.codegen.cache.maxEntries"]
    )


def _package_lines(*needles, skip_session=True):
    """``file:line`` of every package source line containing a needle."""
    pkg = pathlib.Path(S.__file__).parent
    return [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if not (skip_session and p == pkg / "session.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(n in line for n in needles)
    ]


def test_create_dataframe_only_in_session_module():
    """A list-backed ``createDataFrame`` plans a Python RDD whose every
    read runs Python-worker tasks; driver-built frames go through
    :func:`session.local_frame` instead, and only it may call
    ``createDataFrame``."""
    assert _package_lines("createDataFrame(") == []


def test_every_checkpoint_goes_through_session_checkpoint():
    """:func:`session.checkpoint` registers each checkpoint for
    ``pinned_scope`` and ``release_cached_state``; a direct
    ``localCheckpoint`` would escape both.  The helpers it replaced
    stay gone."""
    assert _package_lines("localCheckpoint(") == []
    assert _package_lines(
        "track_cached", "tracking_scope", "checkpoint_handle", skip_session=False
    ) == []


def test_build_once_protocol_only_in_ann_index():
    """Temp-dir artifacts (fingerprint key, sibling GC, ``.build-`` dir,
    atomic rename, serve-touch) go through ``ann_index.build_once``; no
    other module spells out a copy of that protocol, and the query
    registry does no file publishing of its own."""
    assert {
        line.split(":")[0] for line in _package_lines(".build-", skip_session=False)
    } == {"operators/ann_index.py"}
    assert [
        line for line in _package_lines("os.rename(", "shutil", "tempfile", skip_session=False)
        if line.startswith("registry.py:")
    ] == []


_RELEASE_CASES = {
    "connected_components": lambda spark: connected_components(
        spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)] + [(1, 2)], "src long, dst long")
    ),
    "add_fdr_qvalue_two_pass": lambda spark: add_fdr_qvalue(
        spark.createDataFrame(
            [(i, float(i % 17), i % 3 == 0) for i in range(200)],
            "id long, score double, isDecoy boolean",
        ),
        "score", "isDecoy", num_range_partitions=4,
    ),
    "occams_razor_distributed": lambda spark: occams_razor(
        spark.createDataFrame(
            [("pep1", ["P1", "P2"]), ("pep2", ["P1", "P2", "P3"]), ("pep3", ["P5"])],
            "peptideSequence string, proteinAccessions array<string>",
        ),
        max_groups=0,
    ),
}


@pytest.mark.parametrize("case", sorted(_RELEASE_CASES))
def test_release_cached_state_frees_operator_checkpoints(spark, case):
    """Every operator checkpoint is on the session sweep list: after
    ``release_cached_state`` no RDD the call persisted is left."""

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    assert _RELEASE_CASES[case](spark).collect()
    S.release_cached_state(spark)
    assert persisted_ids() - before == set()


_LOCAL_FRAME_CASES = {
    "int_bigint_nulls": ([(1, 2**40), (None, None), (-3, 0)], "a int, b bigint"),
    "double_specials": (
        [(1.5,), (None,), (float("inf"),), (float("-inf"),), (float("nan"),)],
        "x double",
    ),
    "string_boolean": ([("s", True), (None, False), ("", None)], "s string, b boolean"),
    "array_double": ([(0, [1.0, 2.5]), (1, None), (2, [])], "i int, v array<double>"),
    "group_schema": (
        [
            ("P1", "g1", ["P1", "P2"], ["AAK", "CCK"], True, "indistinguishable"),
            ("P3", "g2", ["P3"], [], False, "subset"),
        ],
        GROUP_SCHEMA,
    ),
    "empty": ([], "a int, b string"),
}


@pytest.mark.parametrize("case", sorted(_LOCAL_FRAME_CASES))
def test_local_frame_matches_list_path_as_local_scan(spark, case):
    rows, schema = _LOCAL_FRAME_CASES[case]
    got = S.local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    # repr keeps NaN comparable (nan != nan) and distinguishes None
    assert repr(got.collect()) == repr(want.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
