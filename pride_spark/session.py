"""SparkSession factory with scale-oriented defaults.

The reference runs one JVM per assay with hand-tuned ehcache tiers
(``/root/reference/src/.../utility/AppCacheManager.java:38-61``); here the
equivalent knobs are AQE + shuffle sizing, which generalize from local[32]
to a 1000-executor cluster without code changes.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import threading
from collections.abc import Mapping
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Config applied to every session this package creates.  All of these are
#: also safe to set at runtime on a borrowed session (see :func:`tune`).
RUNTIME_CONF = {
    # AQE: runtime re-planning, partition coalescing, skew-join splitting —
    # the scale story for the big PSM↔spectrum join (SURVEY §2.4 J5).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Cluster-deployment note (measured, not speculative): on a real
    # cluster raise spark.sql.adaptive.coalescePartitions.initialPartitionNum
    # to several x the executor-core count so AQE sizes shuffles DOWN to
    # the data (it can merge small partitions but cannot split
    # under-partitioned ones outside skew joins).  We deliberately do NOT
    # set it here: at sf0.1 on local[32] both initialPartitionNum=4x and
    # parallelismFirst=false measured ~20% SLOWER end-to-end (per-stage
    # AQE re-planning + task overhead dominate small shuffles, and the
    # advisory-size target serializes the iterative operators).
    # Deterministic timestamp semantics matching the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas-UDF path (the slow-path escape hatch).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The synthetic events table carries TIMESTAMP(NANOS) parquet columns,
    # which Spark only reads as long; sources convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Config that must be set at SESSION CREATION (read once by JVM-static
#: initializers — runtime sets are silently ignored, so these are NOT in
#: RUNTIME_CONF / tune()).
STATIC_CONF = {
    # The whole-stage-codegen compiled-class cache defaults to 100
    # entries; a many-query session (the bench battery, a query server,
    # run-pipeline's DAG) generates far more codegen units than that, so
    # every re-run re-compiles via Janino on the DRIVER — measured ~1s
    # per warm q48_spectral_cluster run lost to recompilation alone
    # (warm median 5.1 -> 4.1 s; the base-edges lazy-checkpoint toRdd
    # 2.1 -> 1.0-1.5 s; STRESS_r12 q48_codegen_cache_ab).
    # 5000 compiled classes cost tens of MB of driver memory — noise
    # against the driver heap, and a pure win at any scale since this is
    # driver-side cost that data size never amortizes.
    "spark.sql.codegen.cache.maxEntries": "5000",
}


def get_spark(
    app_name: str = "pride-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the package defaults applied.

    ``extra_conf`` lets callers layer deployment-specific settings on top
    of the package defaults (e.g. the bench harness disables the UI and
    shrinks listener retention for long many-query sessions).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in STATIC_CONF.items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    from pyspark import SparkContext

    launch = SparkContext._gateway is None  # this call launches the driver JVM
    cds = cds_launch(extra_conf or {}, os.environ, os.getpid()) if launch else None
    if cds is None:
        spark = builder.getOrCreate()
    else:
        for k, v in cds.conf.items():
            builder = builder.config(k, v)
        saved = {k: os.environ.get(k) for k in cds.env}
        os.environ.update(cds.env)
        try:
            spark = builder.getOrCreate()
        finally:
            for k, v in saved.items():
                if v is None:
                    del os.environ[k]
                else:
                    os.environ[k] = v
    proc = spark.sparkContext._gateway.proc if launch else None
    if proc is not None:  # None: spark-submit started the JVM, not this call
        atexit.register(_stop_driver_jvm, proc, cds)
    # getOrCreate RETURNS A PRE-EXISTING SESSION with builder configs
    # silently ignored (r10 review): a borrowed session with a non-UTC
    # timezone would shift every TIMESTAMP_NTZ cast and every window
    # boundary against the DuckDB oracle.  All RUNTIME_CONF keys (and
    # typical extra_conf) are runtime-settable, so re-apply them on the
    # returned session — a no-op on a fresh session, the fix on a
    # borrowed one.
    tune(spark)
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf (e.g. spark.ui.enabled) on a
            pass  # pre-existing session cannot change — keep going
    return spark


# ---------------------------------------------------------------------------
# JVM start: class-data sharing (AppCDS).  A new driver JVM maps the parsed,
# verified metadata of the ~20k classes Spark loads at start from an
# archive instead of loading them from the jars: session start measured
# 4.8-6.6 s -> 2.4-3.6 s on 4 cores (perfbench registry, 10 runs a side).
# JDK 17 has no -XX:+AutoCreateSharedArchive, so the first launch dumps the
# archive at JVM exit into a private ``.part`` file, and
# :func:`_stop_driver_jvm` renames it into place only after a clean
# exit.  The JVM validates an archive against its own build
# and classpath and runs without it on a mismatch: a stale archive can
# lose the gain but never change a result.  Delete the cache dir to reset.
# ---------------------------------------------------------------------------

#: Seconds the exit hook waits for the driver JVM to exit (a dumping JVM
#: writes its archive first).
_DUMP_WAIT_S = 120


class CdsLaunch(NamedTuple):
    conf: dict[str, str]  # session conf of the launch
    env: dict[str, str]  # environment of the launch
    archive: str  # <cache>/<key>.jsa
    part: str | None  # the dump target when the archive is absent


def _cds_key(java: str, spark_home: str) -> str:
    """Hash of what the archive's classes come from: the ``java`` binary,
    the Spark install and its jar listing (name, size, mtime)."""
    h = hashlib.sha256(f"{os.path.realpath(java)}\0{os.path.realpath(spark_home)}".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def cds_launch(conf: Mapping[str, str], environ: Mapping[str, str], pid: int) -> CdsLaunch | None:
    """The class-data-sharing part of a new driver JVM's launch, or None
    when it must not apply.  ``conf`` is the caller's session conf; the
    returned conf and env are set on top of it for the launch only.

    JDK 17 aborts a dump when a non-empty directory is on the classpath,
    and Spark puts its conf dir first.  A conf dir that is absent or holds
    only ``*.template`` files (which Spark never reads) is swapped for an
    empty dir: the same configuration.  A conf dir with any other file, an
    extra classpath entry, or an unwritable cache gets no CDS flag at all.
    """
    from pyspark.find_spark_home import _find_spark_home

    submit_args = environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (
        conf.get("spark.driver.extraClassPath")
        or any(s in submit_args for s in ("class-path", "extraClassPath"))
        # classpath entries the launcher adds, or a JVM this call won't launch
        or any(environ.get(v) for v in (
            "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "PYSPARK_GATEWAY_PORT"
        ))
    ):
        return None
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    conf_dir = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = (
        os.path.join(environ["JAVA_HOME"], "bin", "java")
        if environ.get("JAVA_HOME")
        else shutil.which("java", path=environ.get("PATH"))
    )
    cache = os.path.join(
        environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        "pride_spark",
        "cds",
    )
    if not java or any(c.isspace() for c in cache):  # options split on spaces
        return None
    empty = os.path.join(cache, "conf")
    try:
        if os.path.isdir(conf_dir) and any(
            not n.endswith(".template") for n in os.listdir(conf_dir)
        ):
            return None
        os.makedirs(empty, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return None
        key = _cds_key(java, spark_home)
    except OSError:
        return None
    archive = os.path.join(cache, f"{key}.jsa")
    part = None if os.path.isfile(archive) else f"{archive}.{pid}.part"
    flag = f"-XX:SharedArchiveFile={archive}" if part is None else f"-XX:ArchiveClassesAtExit={part}"
    # caller options go after ours, so a caller's flag wins
    opts = f"{flag} -Xlog:cds*=off {conf.get('spark.driver.defaultJavaOptions', '')}"
    return CdsLaunch(
        {"spark.driver.defaultJavaOptions": opts.strip()},
        {"SPARK_CONF_DIR": empty},
        archive,
        part,
    )


def _stop_driver_jvm(proc, cds: CdsLaunch | None) -> None:
    """Exit hook of every driver JVM launch: stop the session, close the
    gateway's stdin (the JVM exits on EOF, dumping first when ``cds.part``
    is set) and wait for the JVM, so it never outlives this process.  A
    dump is published only if the JVM exited cleanly.  Archives of other
    keys and dumps orphaned by dead processes are removed on publish; this
    launch's ``.part`` file never outlives the hook."""
    from pyspark import SparkContext

    part = cds.part if cds is not None else None
    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        if proc.wait(timeout=_DUMP_WAIT_S) == 0 and part and os.path.isfile(part):
            os.replace(part, cds.archive)
            cache, mine = os.path.split(cds.archive)
            for name in os.listdir(cache):
                stale = name.endswith(".jsa") and name != mine
                orphan = name.endswith(".part") and not os.path.exists(
                    f"/proc/{name.split('.')[-2]}"
                )
                if stale or orphan:
                    os.remove(os.path.join(cache, name))
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        if part:
            with contextlib.suppress(OSError):
                os.remove(part)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side row tuples, planned as a ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` parallelizes the rows as a Python
    RDD, so every job that reads the frame runs ``defaultParallelism``
    Python-worker tasks (a 4-row table measured 0.45 s wall and ~1.1 CPU s
    per evaluation on 4 cores).  Built from a ``pyarrow.Table`` the same
    rows are a ``LocalTableScan``: no Python worker, ~0.05 s.  ``schema``
    is a DDL string or a ``StructType``; values follow the list path's
    conversions (naive datetimes are local time, ``Row`` fills a struct).
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------------------------------
# Storage pins: intermediates an operator pins in executor storage because
# the RETURNED lazy plan still reads them (near-dup verify's candidate
# pairs, spectral clustering's binned frame, the CC rounds' and the
# two-pass FDR's checkpoints).  Only the caller knows when its action has
# completed; the ContextCleaner frees pins on driver GC eventually, but a
# long-lived driver accumulates them meanwhile (measured: 131s vs 26s on
# the same CC query at the tail of a stress sequence).  Four names:
#
# - :func:`register_pinned` records a pin (persisted frame or checkpoint);
# - :func:`checkpoint` is the package's only ``localCheckpoint``;
# - :func:`pinned_scope` frees every pin registered inside it at exit;
# - :func:`release_cached_state` frees every pin in the session.
# ---------------------------------------------------------------------------

_scopes = threading.local()

# Session-global sweep list of checkpoint RDD handles, which live OUTSIDE
# the SQL CacheManager (persisted frames need no entry: clearCache drops
# them all).  Tracking handles lets :func:`release_cached_state` skip the
# private ``_jsc.getPersistentRDDs`` map.  Bounded: past the cap the
# oldest entries fall back to the ContextCleaner, like an untracked pin.
_tracked_lock = threading.Lock()
_tracked: list = []
_TRACK_CAP = 4096


def _unpin(handle) -> None:
    """Non-blocking unpersist that never raises (cleanup must neither fail
    the computation nor mask its error); a freed handle is a no-op."""
    try:
        handle.unpersist(False)
    except Exception:
        pass


def _rdd_handle(df: DataFrame):
    """Java handle of the RDD behind a checkpointed DataFrame (the
    ``LogicalRDD`` node's ``rdd``).  Freeing by DIRECT handle never touches
    a concurrent driver thread's RDDs, unlike a before/after diff of the
    persistent-RDD map.  None if the private accessor fails (version
    drift): the pin then goes untracked rather than guessed."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:
        return None


def register_pinned(handle):
    """Record a pin — a persisted DataFrame, or a checkpoint RDD handle
    from :func:`checkpoint` — against the innermost :func:`pinned_scope`
    on this thread; checkpoint handles also join the session sweep list.
    Returns ``handle`` so call sites can wrap the ``persist()``."""
    if handle is None:
        return handle
    if not isinstance(handle, DataFrame):
        with _tracked_lock:
            _tracked.append(handle)
            if len(_tracked) > _TRACK_CAP:
                del _tracked[: len(_tracked) - _TRACK_CAP]
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(handle)
    return handle


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered via :func:`register_pinned`
    so :func:`pinned_scope` and :func:`release_cached_state` can free it.
    Every checkpoint in the package goes through here."""
    out = df.localCheckpoint(eager=eager)
    register_pinned(_rdd_handle(out))
    return out


@contextlib.contextmanager
def pinned_scope():
    """Free every pin registered on this thread within the block —
    persisted frames AND checkpoints — once the block exits::

        with pinned_scope():
            out = cluster_spectra(spectra)
            result = out.collect()   # action completes inside the scope
        # the binned frame and the CC checkpoints are now freed

    Run the consuming ACTION inside the scope: a plan over a checkpoint
    made in the block cannot recompute after exit (its lineage is cut).
    Registration is per-thread, so concurrent driver threads never free
    each other's pins.  Scopes nest; each frees only its own."""
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    handles: list = []
    stack.append(handles)
    try:
        yield
    finally:
        stack.pop()
        for h in handles:
            _unpin(h)


def release_cached_state(spark: SparkSession) -> None:
    """Drop every cached relation AND every persisted RDD in the session.

    Operators in this package pin small frames deliberately for the
    duration of a returned plan (CC pins its final round, the multi-method
    spectral clusterer pins its binned/signature frames); the
    ContextCleaner only frees them on a driver GC.  A long-lived session
    that runs MANY unrelated plans back-to-back (the bench harness, a
    notebook, a query server) should call this between plans — executor
    storage otherwise accumulates every prior plan's pins and evicts the
    current plan's working set (observed: 131s vs 26s on the same CC query
    at the tail of a stress sequence, BENCH r3/r4).

    Implementation: ``clearCache()`` drops every SQL-cached relation
    (all ``persist()``-ed DataFrames), then the session-global sweep
    list is freed: the pins the CacheManager cannot see, checkpoint RDD
    handles (CC rounds, two-pass FDR, row numbering, Occam's-razor
    groups).  Every checkpoint goes through :func:`checkpoint`, which
    registers it, so no private ``_jsc.getPersistentRDDs`` session-map
    accessor is needed (it was version-fragile and raced concurrent
    driver threads).

    .. warning:: Call this only at a QUIESCENT point — no query in
       flight on ANY driver thread.  The sweep is attribution-safe (it
       frees only handles this package pinned) but not thread-safe
       against concurrent execution: unpersisting another thread's
       ``localCheckpoint`` RDD truncates its lineage unrecoverably and
       fails that thread's job.  bench.py / sf1_gate.py call it between
       queries (quiescent); a multi-threaded query server should
       instead scope pins per query with :func:`pinned_scope`.
    """
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    with _tracked_lock:
        items = _tracked[:]
        _tracked.clear()
    for h in items:
        _unpin(h)


def tune(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable defaults to a session we did not create.

    The correctness driver hands us its own session; timestamp/AQE conf must
    still match the oracle's semantics.

    STATIC_CONF keys cannot be applied here (read once by JVM-static
    initializers; runtime sets are silently ignored), so a BORROWED
    session keeps whatever it was built with — e.g. the 100-entry
    codegen class cache, which silently regresses the many-query bench
    numbers with no code change (r12 verdict watch item).  We can't fix
    that after the fact, but we can refuse to be silent about it: read
    each static key back and warn loudly when the live value differs.
    """
    import warnings

    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on some builds — keep going
            pass
    for k, want in STATIC_CONF.items():
        try:
            live = spark.conf.get(k, None)
        except Exception:
            continue  # key unknown to this build: nothing to compare
        if live is not None and str(live) != str(want):
            warnings.warn(
                f"borrowed SparkSession has {k}={live!r} (package default "
                f"{want!r}); this key is fixed at session creation, so it "
                "cannot be corrected here. Expect driver-side Janino "
                "recompilation thrash in many-query sessions (the r12 "
                "codegen-cache finding: ~10% battery slowdown). Build the "
                "session via pride_spark.session.get_spark() to get the "
                "static defaults.",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
