"""Session factory guards: static conf that cannot be applied at
runtime must be loudly diagnosed on borrowed sessions; a new driver JVM
starts from a class-data-sharing archive."""

from __future__ import annotations

import os
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


def test_map_in_pandas_in_sources_only_in_per_file_reader():
    """Every file-parsing source shares ONE path frame → ``mapInPandas``
    kernel, :func:`xmlstream.per_file_reader`; a second copy of that
    plumbing in ``sources/`` fails here."""
    assert [
        line.split(":")[0]
        for line in _package_lines("mapInPandas(")
        if line.startswith("sources/")
    ] == ["sources/xmlstream.py"]


#: environment variables the package may read: deployment settings, not
#: tuning knobs (cds_launch reads the JVM launcher's own variables)
_DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_PQ_TRAIN_DIR",
    "PYSPARK_SUBMIT_ARGS",
    "SPARK_HOME",
    "SPARK_CONF_DIR",
    "JAVA_HOME",
    "PATH",
    "XDG_CACHE_HOME",
}


def _env_reads(tree) -> set[str]:
    """Names read with a string constant through ``os.environ.get``,
    ``environ.get``, ``os.getenv`` or an ``environ[...]`` subscript."""
    import ast

    def is_environ(node) -> bool:
        return (isinstance(node, ast.Name) and node.id == "environ") or (
            isinstance(node, ast.Attribute) and node.attr == "environ"
        )

    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr == "get" and is_environ(f.value)) or (
                isinstance(f, ast.Attribute) and f.attr == "getenv"
            ) or (isinstance(f, ast.Name) and f.id == "getenv"):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            key = node.slice
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            names.add(key.value)
    return names


def test_no_environment_tuning_knobs():
    """A knob read from the environment changes behaviour with no trace
    in the code or the call; only deployment settings may be read."""
    import ast

    pkg = pathlib.Path(S.__file__).parent
    read = set()
    for p in sorted(pkg.rglob("*.py")):
        read |= _env_reads(ast.parse(p.read_text()))
    assert read - _DEPLOYMENT_ENV == set()
    assert {"SPARK_GRAFT_CPUS", "JAVA_HOME"} <= read  # the scan sees reads


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


def test_jvm_launch_flags_only_in_session_module():
    """JVM launch flags and the conf-dir swap of the class-data-sharing
    launch live in ``get_spark`` alone; no other module sets them."""
    assert _package_lines("JavaOptions", "SPARK_CONF_DIR") == []


# --- JVM start: class-data sharing -------------------------------------------


@pytest.fixture
def cds_env(tmp_path):
    """A fake Spark install (one jar, a template-only conf dir), a fake
    JDK and a private cache: the inputs ``cds_launch`` reads."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("spark.x 1\n")
    (tmp_path / "jdk" / "bin").mkdir(parents=True)
    (tmp_path / "jdk" / "bin" / "java").write_text("")
    return {
        "SPARK_HOME": str(home),
        "JAVA_HOME": str(tmp_path / "jdk"),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
    }


def test_cds_absent_archive_dumps_to_a_part_file(cds_env):
    env = dict(cds_env)
    got = S.cds_launch({}, env, 4242)
    cache = pathlib.Path(cds_env["XDG_CACHE_HOME"]) / "pride_spark" / "cds"
    assert got.archive.startswith(str(cache)) and got.archive.endswith(".jsa")
    assert got.part == f"{got.archive}.4242.part"
    assert got.conf == {
        "spark.driver.defaultJavaOptions": f"-XX:ArchiveClassesAtExit={got.part} -Xlog:cds*=off"
    }
    # the template-only conf dir is swapped for an empty one under the cache
    assert got.env == {"SPARK_CONF_DIR": str(cache / "conf")}
    assert list((cache / "conf").iterdir()) == []
    assert env == cds_env  # the caller's environment is not touched


def test_cds_present_archive_is_mapped(cds_env):
    archive = S.cds_launch({}, cds_env, 1).archive
    pathlib.Path(archive).write_bytes(b"")
    got = S.cds_launch({}, cds_env, 1)
    assert got.part is None
    assert got.conf["spark.driver.defaultJavaOptions"] == (
        f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"
    )


def test_cds_key_follows_the_jar_listing(cds_env):
    before = S.cds_launch({}, cds_env, 1).archive
    (pathlib.Path(cds_env["SPARK_HOME"]) / "jars" / "extra.jar").write_bytes(b"x")
    assert S.cds_launch({}, cds_env, 1).archive != before


def test_cds_keeps_caller_java_options(cds_env):
    conf = {
        "spark.driver.extraJavaOptions": "-Dcaller.extra=1",
        "spark.driver.defaultJavaOptions": "-Dcaller.default=1",
    }
    got = S.cds_launch(conf, cds_env, 1)
    # extraJavaOptions (perfbench's) is appended by Spark after these
    assert "spark.driver.extraJavaOptions" not in got.conf
    opts = got.conf["spark.driver.defaultJavaOptions"].split()
    assert opts[0].startswith("-XX:ArchiveClassesAtExit=")
    assert opts[-1] == "-Dcaller.default=1"


@pytest.mark.parametrize("case", ["live_defaults_conf", "extra_class_path", "dist_classpath"])
def test_cds_off_when_classpath_has_more_than_jars(cds_env, case):
    """A conf dir Spark reads, or any extra classpath entry, would put a
    non-empty directory on the classpath, which aborts a JDK 17 dump: no
    CDS flag, and SPARK_CONF_DIR stays as it is."""
    env, conf = dict(cds_env), {}
    if case == "live_defaults_conf":
        (pathlib.Path(env["SPARK_HOME"]) / "conf" / "spark-defaults.conf").write_text("")
    elif case == "extra_class_path":
        conf["spark.driver.extraClassPath"] = "extra-classes"
    else:
        env["SPARK_DIST_CLASSPATH"] = "hadoop-jars/*"
    assert S.cds_launch(conf, env, 1) is None


def test_cds_off_when_cache_not_writable(cds_env):
    pathlib.Path(cds_env["XDG_CACHE_HOME"]).write_text("")  # a file, not a dir
    assert S.cds_launch({}, cds_env, 1) is None


def test_get_spark_tunes_borrowed_session(spark):
    """getOrCreate returns pre-existing sessions with builder configs
    silently ignored — get_spark must re-apply the runtime defaults so a
    borrowed session's timezone/AQE matches the oracle."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    got = S.get_spark("borrowed")
    assert got is spark  # same session: the borrowed-session path
    assert got.conf.get("spark.sql.session.timeZone") == "UTC"
    for k, v in S.RUNTIME_CONF.items():
        assert got.conf.get(k) == v
    # STATIC_CONF lands at creation (conftest builds via get_spark): the
    # codegen-class cache must be big enough for a many-query session
    for k, v in S.STATIC_CONF.items():
        assert got.conf.get(k) == v


_CDS_CHILD = """
import sys
from pride_spark.session import get_spark
spark = get_spark("cds-test", master="local[1]", shuffle_partitions=1)
assert spark.range(3).count() == 3
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    maps = fh.read()
print("MAPS", sorted({l.split()[-1] for l in maps.splitlines() if l.endswith(".jsa")}))
print("JVM", pid)
"""


def test_cds_archive_published_on_clean_exit_then_mapped(tmp_path):
    """First launch dumps and publishes ``<key>.jsa`` after its JVM exits;
    the second launch's JVM maps it.  Neither prints a CDS log line, and
    neither leaves its JVM running once the Python process returns."""
    import subprocess
    import sys

    root = pathlib.Path(S.__file__).parent.parent
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
        "SPARK_DRIVER_MEMORY": "512m",
    }
    env.pop("SPARK_CONF_DIR", None)
    cache = tmp_path / "pride_spark" / "cds"
    runs = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", _CDS_CHILD], env=env, cwd=tmp_path,
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        runs.append(out.stdout)
        jvm = next(ln.split()[1] for ln in out.stdout.splitlines() if ln.startswith("JVM "))
        assert not os.path.exists(f"/proc/{jvm}"), "driver JVM outlived its Python process"
        assert not [p for p in cache.iterdir() if p.name.endswith(".part")]
    archives = sorted(str(p) for p in cache.glob("*.jsa"))
    assert len(archives) == 1
    assert archives[0] not in runs[0] and archives[0] in runs[1]
    for stdout in runs:
        assert "[cds" not in stdout and "[warning]" not in stdout


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
