"""Normalized-plan diff between the working tree and a git rev.

For each named registry query, build the plan under BOTH package
variants inside one SparkSession (the ab_bench module-swap mechanics),
print `explain("formatted")` normalized (expression IDs #123, plan ids,
cache/statistics hashes stripped), and report IDENTICAL / DIFFERENT
with a unified diff.  A SQL-text re-rendering of a Column-API builder
(the r13/r14 plan-construction optimization) must come out IDENTICAL —
this is the equivalence evidence the oracle gate then confirms on data.

Usage (no query names: every registry query; exit 1 on any DIFFERENT):
    python tools/plan_normdiff.py --ref HEAD q13_dedup_exact q24_lsh_near_dup
    python tools/plan_normdiff.py --ref HEAD --sf-dir /path/to/sf0.01
"""

from __future__ import annotations

import argparse
import difflib
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_registry(root: str):
    for m in [m for m in sys.modules if m.split(".")[0] == "pride_spark"]:
        del sys.modules[m]
    sys.path.insert(0, root)
    try:
        import pride_spark.registry as registry  # noqa: PLC0415
        import pride_spark.session as session  # noqa: PLC0415

        return registry, session
    finally:
        sys.path.remove(root)


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#N", plan)
    # lambda variable NAMES are arbitrary binders (Column API: x_7 with a
    # session-global counter; SQL text: whatever the author wrote) — the
    # plan is alpha-equivalent under renaming, so canonicalize them
    plan = re.sub(r"lambda [A-Za-z][A-Za-z0-9_]*#", "lambda V#", plan)
    # F.struct prints CreateNamedStruct as "struct(...)", the SQL parser's
    # named_struct as "named_struct(...)" — same operator, same children
    plan = plan.replace("named_struct(", "struct(")
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=N]", plan)
    plan = re.sub(r"\[id=#?\d+\]", "[id=N]", plan)
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", plan)
    plan = re.sub(r"SQLQueryRDD\[\d+\]", "SQLQueryRDD[N]", plan)
    plan = re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[N]", plan)
    plan = re.sub(r"LogicalRDD \[([^\]]*)\]", "LogicalRDD [cols]", plan)
    plan = re.sub(r"cached: \d+", "cached: N", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(N)", plan)
    # temp/artifact paths carry uuids/fingerprints
    plan = re.sub(r"/tmp/\S+", "/tmp/PATH", plan)
    return plan


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    ref_root = tempfile.mkdtemp(prefix=f"pn_{args.ref.replace('/', '_')}_")
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", args.ref], check=True, stdout=subprocess.PIPE
    )
    subprocess.run(["tar", "-x", "-C", ref_root], input=tar.stdout, check=True)

    registry0, session0 = _load_registry(REPO)
    names = args.queries or list(registry0.queries())
    spark = session0.get_spark(
        "plan-normdiff",
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def plans(root: str) -> dict[str, str]:
        registry, session = _load_registry(root)
        out = {}
        for q in names:
            df = registry.queries()[q](spark, args.sf_dir)
            out[q] = normalize(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
            session.release_cached_state(spark)
        return out

    work = plans(REPO)
    ref = plans(ref_root)
    rc = 0
    for q in names:
        if work[q] == ref[q]:
            print(f"{q}: IDENTICAL")
        else:
            rc = 1
            print(f"{q}: DIFFERENT")
            for line in difflib.unified_diff(
                ref[q].splitlines(), work[q].splitlines(),
                lineterm="", fromfile=f"{q}@{args.ref}", tofile=f"{q}@work", n=1,
            ):
                print(line)
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
