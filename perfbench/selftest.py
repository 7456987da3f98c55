"""Self-tests of the benchmark itself.

1. Inputs are a pure function of the seed: generating twice with one
   seed gives byte-identical files, and another seed gives other bytes.
2. The pruning guard catches a count-style timed action: for a query
   whose plan has a Window, timing ``groupBy().count()`` must be
   flagged, and timing the ``noop`` write must not.

Run with ``python3 perfbench/run.py --selftest`` from the repository
root; exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

import inputs
from workloads import AnalyticsMix, executed_plans, operator_classes, session_conf, stop_spark


def _digest_tree(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(path: str, seed: int) -> str:
    inputs.items_csv(os.path.join(path, "items.csv"), seed)
    inputs.assessment_drops(os.path.join(path, "drops"), seed)
    inputs.analytics_tables(os.path.join(path, "tables"), seed)
    return _digest_tree(path)


def check_seeded_inputs(root: str) -> list[str]:
    a = _generate(os.path.join(root, "a"), 7)
    b = _generate(os.path.join(root, "b"), 7)
    c = _generate(os.path.join(root, "c"), 8)
    errors = []
    if a != b:
        errors.append("same seed gave different input bytes")
    if a == c:
        errors.append("different seeds gave identical input bytes")
    return errors


def check_pruning_guard(root: str) -> list[str]:
    from caliper_poc_data_etl_spark.session import get_spark

    import __spark_entry__

    tables = os.path.join(root, "a", "tables")
    spark = get_spark("perfbench-selftest", cpus=2, driver_memory="1g", extra_conf=session_conf(root))
    errors = []
    try:
        df = __spark_entry__.queries()["window_running_sum"](spark, tables)
        want = operator_classes(df._jdf.queryExecution().optimizedPlan().toString())
        if "Window" not in want:
            errors.append(f"optimized plan classes {want} lack Window")
        sc = spark.sparkContext
        for label, action in (
            ("count", lambda: df.groupBy().count().collect()),
            ("noop", lambda: df.write.format("noop").mode("overwrite").save()),
        ):
            sc.setJobDescription(f"selftest.{label}")
            action()
            sc.setJobDescription(None)
        plans = executed_plans(spark)
        if not want - operator_classes(plans["selftest.count"]):
            errors.append("guard did not flag the count() action")
        if want - operator_classes(plans["selftest.noop"]):
            errors.append("guard flagged the noop write")
        mix = AnalyticsMix.__new__(AnalyticsMix)  # guard only: no inputs needed
        mix.last_frames = {"window_running_sum": df}
        sc.setJobDescription("queries.window_running_sum.exec")
        df.groupBy().count().collect()
        sc.setJobDescription(None)
        if not mix.pruning_guard(spark):
            errors.append("pruning_guard passed a count() timed action")
    finally:
        stop_spark(spark)
    return errors


def main(checkout: str) -> int:
    sys.path.insert(0, checkout)
    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work")
    os.makedirs(work, exist_ok=True)
    root = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        errors = check_seeded_inputs(root) + check_pruning_guard(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for e in errors:
        print(f"FAILED: {e}")
    print("selftest: ok" if not errors else f"selftest: {len(errors)} failed")
    return 1 if errors else 0
