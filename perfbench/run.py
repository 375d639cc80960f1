"""pride-spark benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (rationale in perfbench/README.md):

* ``index_pipeline`` - the ``run-pipeline`` CLI over seeded, generated
  mzIdentML + MGF inputs; every pass writes to a fresh output directory.
* ``registry`` - the driver-bound registry queries plus one
  execution-bound representative per remaining layer, over seeded
  generated tables; the seed also permutes the query order of each warm pass.

Each run starts one Spark session on ``local[<cores>]``, sets up (inputs,
fixtures), runs one cold pass and then warm passes until ``--seconds``
of warm passes have been measured.  A pass is timed in CPU seconds of
the whole process tree (the JVM and Python workers included); a warm
pass leaves out the JVM's JIT compiler threads.  Every pass's output is
checked outside its timing.  The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
cold pass, then untraced / traced / untraced warm passes, and reports the
per-layer metrics of the traced pass.  All scratch files live under
``.perfbench_run/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402  (the metric catalogue)

#: minimum warm passes per run, whatever ``--seconds`` says
MIN_WARM = 1
#: PSM q-value threshold of the pipeline run (and of its expectations)
QVALUE = 0.01
PIPELINE_ARGS = ["--project", "PXD000001", "--score-better", "lower",
                 "--qvalue-threshold", str(QVALUE), "--min-psms", "100"]


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the JVM it started."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    py, jvm = hwm("self") / 1024, hwm(spark.sparkContext._gateway.proc.pid) / 1024
    _log(f"peak RSS: python {py:.0f} MB, jvm {jvm:.0f} MB")
    return py + jvm


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM, Spark's Python workers, and children that
    have exited and been reaped (their time is in ``cutime``/``cstime``)."""
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        kids.setdefault(int(f[1]), []).append(pid)
        cpu[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads."""
    total = 0
    for t in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{t}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        if st[st.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = st.rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
    return total / _TICK


class Run:
    """State shared by both workloads: isolation, session, pass loop."""

    def __init__(self, args):
        self.args = args
        self.dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        # private temp + Spark local dirs: build-once artifacts that the
        # engine publishes under the temp dir must not leak between runs
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1536m")
        tempfile.tempdir = self.tmp
        sys.path.insert(0, ROOT)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    def start_session(self, app: str):
        from pride_spark.session import get_spark

        self.spark = get_spark(app, extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "10",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # no -Xms: with a fixed heap G1 touches every region and peak
            # RSS reads the configured size, not the program's use.  A fixed
            # set of JIT compiler threads keeps their CPU time readable:
            # a thread that exits takes its count out of /proc
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} "
                                             "-XX:-UseDynamicNumberOfCompilerThreads",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds so far: (process tree, JVM JIT compiler threads)."""
        return tree_cpu_s(), jit_cpu_s(self.jvm_pid)

    def check(self, what: str, fails: list[str]) -> None:
        self.attempted += 1
        if fails:
            self.failures.append(what)
            for f in fails:
                _log(f"CHECK FAILED {what}: {f}")

    def passes(self, one_pass) -> dict:
        """Cold pass, then warm passes until ``--seconds`` of warm wall
        time; returns the timing metrics.  ``one_pass(k, tracer)`` returns
        the pass's (wall, CPU, JIT CPU) seconds.

        JIT compilation is still running after the cold pass (the
        compiler threads take 40-55% of a warm pass's CPU, and how much
        varies with timing), so a warm pass counts its CPU net of the
        compiler threads; the cold pass counts all of it."""
        from spans import Tracer

        _, first_cpu, _ = one_pass(0, Tracer())
        wall: list[float] = []
        net: list[float] = []
        while len(wall) < MIN_WARM or sum(wall) < self.args.seconds:
            w, c, jit = one_pass(len(wall) + 1, Tracer())
            wall.append(w)
            net.append(c - jit)
        return {"first_pass_cpu_s": first_cpu, "pass_cpu_nojit_s.min": min(net)}

    def traced_passes(self, one_pass, collect):
        """Cold pass, then untraced / traced / untraced warm passes; returns
        the tracer, the reference (mean untraced) wall time, and the
        tracing overhead (traced - reference) and the traced pass's JIT
        compiler CPU as metrics."""
        from spans import Tracer, install_py4j_counter, uninstall_py4j_counter

        one_pass(0, Tracer())
        before = one_pass(1, Tracer())[0]
        install_py4j_counter()
        tracer = Tracer(self.spark)
        try:
            traced, _, jit = collect(tracer, lambda: one_pass(2, tracer))
        finally:
            uninstall_py4j_counter()
        tracer.collect()
        _log("spans " + json.dumps([r.report() for r in tracer.roots]))
        # untraced passes on both sides cancel a still-warming trend
        ref = (before + one_pass(3, Tracer())[0]) / 2
        _log(f"tracing overhead: traced {traced:.3f}s - untraced {ref:.3f}s")
        return tracer, ref, {"trace.overhead_s": traced - ref, "jvm.jit_cpu_s": jit}

    def close(self):
        if self.spark is not None:
            from py4j.protocol import Py4JError
            from pyspark import SparkContext

            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it so
            # no process outlives the run
            with contextlib.suppress(Py4JError):
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            with contextlib.suppress(OSError):
                gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.dir))


# ---------------------------------------------------------------------------
# index_pipeline
# ---------------------------------------------------------------------------

def run_index_pipeline(run: Run) -> dict:
    import gen_pipeline
    import checks
    from spans import patched

    args = run.args
    t0 = time.perf_counter()
    run.start_session("run-pipeline")
    t_session = time.perf_counter() - t0
    gen_s = []
    for k in range(3):
        t0 = time.perf_counter()
        inputs = gen_pipeline.generate(os.path.join(run.dir, "in"), args.seed)
        gen_s.append(time.perf_counter() - t0)
    setup_s = t_session + statistics.median(gen_s)
    exp = checks.pipeline_expectations(inputs.psms, QVALUE)
    from pride_spark.cli import main as cli_main
    from pride_spark.session import release_cached_state

    argv0 = ["run-pipeline", "--result-files", inputs.mzid,
             "--spectra-files", inputs.mgf, *PIPELINE_ARGS]

    def one_pass(k: int, tracer) -> tuple[float, float, float]:
        out = os.path.join(run.dir, f"out{k}")
        cpu0, jit0 = run.cpu_s()
        with contextlib.redirect_stdout(sys.stderr), tracer.span("cli", out_path=out) as s:
            rc = cli_main([*argv0, "--output-dir", out])
        cpu1, jit1 = run.cpu_s()
        cpu, jit = cpu1 - cpu0, jit1 - jit0
        run.check(f"pipeline pass {k}", [f"exit code {rc}"] if rc else checks.check_pipeline(out, exp))
        tracer.measure_outputs(checks.dir_bytes)
        shutil.rmtree(out, ignore_errors=True)
        # the CLI leaves its PSM and archive frames persisted: free them so
        # the next pass parses its inputs again, as a fresh CLI run would;
        # the driver GC lets the ContextCleaner drop the pass's shuffle
        # state here rather than inside a timed pass
        release_cached_state(run.spark)
        run.spark.sparkContext._jvm.System.gc()
        _log(f"pipeline pass {k}: wall {s.wall_s:.3f}s, cpu {cpu:.3f}s (jit {jit:.3f}s)")
        return s.wall_s, cpu, jit

    if not args.trace:
        return {"setup_s": setup_s, **run.passes(one_pass),
                "peak_rss_mb": _peak_rss_mb(run.spark)}

    def traced_pass(tracer, go):
        with patched(tracer, M.pipeline_targets()):
            return go()

    tracer, ref, extra = run.traced_passes(one_pass, traced_pass)
    root = tracer.roots[-1]
    layers = M.pipeline_layers(root)
    layers["cli.psm_per_s"] = len(inputs.psms) / ref
    layers["cli.out_bytes_per_in_byte"] = root.out_bytes / inputs.input_bytes
    layers.update(extra)
    return layers


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def run_registry(run: Run) -> dict:
    import gen_tables
    import checks
    import duckdb

    args = run.args
    data = os.path.join(run.dir, "data")
    # q43's trained codebooks read a training corpus; point it at ours
    os.environ["SPARK_GRAFT_PQ_TRAIN_DIR"] = data
    t0 = time.perf_counter()
    run.start_session("pride-spark-bench")
    t_session = time.perf_counter() - t0
    from pride_spark import registry
    from pride_spark.session import release_cached_state

    by_id = {name.split("_")[0]: (name, fn) for name, fn in registry.queries().items()}
    queries = {q: by_id[q] for q in M.REGISTRY_QUERIES}
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        gen_tables.generate(data, args.seed)
        gen_s.append(time.perf_counter() - t0)
    # q43's build stage (IVF index, codebooks); built once per run, into
    # this run's private temp dir
    t0 = time.perf_counter()
    registry.bench_fixtures()["q43_ann_build"](run.spark, data)
    t_fixture = time.perf_counter() - t0
    setup_s = t_session + statistics.median(gen_s) + t_fixture
    _log(f"setup: session {t_session:.2f}s, inputs {statistics.median(gen_s):.2f}s, "
         f"q43 fixture {t_fixture:.2f}s")

    con = duckdb.connect()
    checks.register_tables(con, data)
    oracles = registry.oracle_sql()

    def one_pass(k: int, tracer) -> tuple[float, float, float]:
        # the cold pass runs in catalogue order, so first_pass_cpu_s compares
        # like with like; warm passes run in a seeded order
        order = list(queries)
        if k:
            random.Random(args.seed * 1000 + k).shuffle(order)
        total, cpu, jit, times = 0.0, 0.0, 0.0, []
        for q in order:
            name, fn = queries[q]
            cpu0, jit0 = run.cpu_s()
            with tracer.span(f"registry.{q}") as s:
                with tracer.span("build"):
                    df = fn(run.spark, data)
                with tracer.span("exec"):
                    tbl = df.toArrow()
            total += s.wall_s
            cpu1, jit1 = run.cpu_s()
            cpu, jit = cpu + cpu1 - cpu0, jit + jit1 - jit0
            times.append(f"{q} {s.wall_s:.2f}")
            release_cached_state(run.spark)
            run.check(f"{q} pass {k}", checks.compare_result(name, tbl, con, oracles[name]))
        run.spark.sparkContext._jvm.System.gc()
        _log(f"registry pass {k}: wall {total:.3f}s, cpu {cpu:.3f}s (jit {jit:.3f}s; {', '.join(times)})")
        return total, cpu, jit

    if not args.trace:
        return {"setup_s": setup_s, **run.passes(one_pass),
                "peak_rss_mb": _peak_rss_mb(run.spark)}
    tracer, _ref, extra = run.traced_passes(one_pass, lambda tracer, go: go())
    layers = M.registry_layers(tracer.roots)
    layers.update(extra)
    return layers


WORKLOADS = {"index_pipeline": run_index_pipeline, "registry": run_registry}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pride_spark", "cli.py")):
        _log(f"pride_spark not found under {ROOT}: run from a full checkout")
        return 2
    run = Run(args)
    try:
        values = WORKLOADS[args.workload](run)
    finally:
        run.close()
    names = M.PER_LAYER if args.trace else M.END_TO_END
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
