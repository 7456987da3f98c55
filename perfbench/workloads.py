"""The three benchmark workloads.

A workload generates its inputs when constructed (before Spark
starts), warms up outside the timed region (``warm_up``), runs timed
passes as its users run it (``run_pass``), and reports its layers'
metrics for a traced run (``layers``). The correctness gate also runs
outside the timed region, in ``warm_up``; the mix's pruning guard
runs in ``after``. A pass returns the latencies, in ms, of the
operations it delivered (micro-batches, queries), or ``None`` when the
pass is itself one operation; ``wall_s`` reduces the passes to the
workload's end-to-end figure.
Every call a pass makes into the package is wrapped in a tracer span
named after the layer it enters.

- ``items_grouped``: reference ``etl.js`` — per-question CSV rows
  grouped into one ``OutcomeEvent`` list per attempt, committed through
  the bulk JSON sink. One shuffle (ordered ``collect_list``).
- ``attempts_stream``: reference ``etl-assessment-level.js`` as a
  stream of CSV drops, one file per trigger, 1→3 event fan-out into the
  JSON file sink. No shuffle: group-by changes must not move it.
- ``analytics_mix``: four registry queries, each built and
  materialized with a ``noop`` write. The only workload that runs
  joins, windows, parquet scans and an iterative ``graph`` loop.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import time

import inputs

# Every query pays a cold first execution of several seconds in each run
# (codegen and JIT, independent of data size), which bounds how many a
# run can afford. These four cover plans that count() prunes (window,
# point-in-time join, projection-heavy BPE) and an eager graph loop
# (phonetic connected components).
MIX = [
    "window_running_sum",
    "join_pit_feature_store",
    "er_phonetic_cluster_cc",
    "text_bpe_tokenize",
]


def session_conf(root: str) -> dict[str, str]:
    """Spark settings that keep scratch space, the warehouse and temp
    files of the session inside ``root``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    return {
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to end: the JVM exits when
    its stdin, a pipe from this process, closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


class Tally:
    """Operations attempted and failed. An operation is one pass of a
    pipeline workload, or one query of the mix."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def op(self, errors: list[str] = ()) -> None:
        """One operation, failed when its check returned errors."""
        self.attempted += 1
        if errors:
            self.fail(errors[0])

    def fail(self, error: str) -> None:
        """Mark an operation (already counted) as failed."""
        self.failed += 1
        if error not in self.errors:
            self.errors.append(error)


def output_stats(out_dir: str) -> tuple[int, int, int]:
    """(files, bytes, lines) over the data files a sink committed."""
    n_files = n_bytes = lines = 0
    for f in glob.glob(os.path.join(out_dir, "**", "part-*"), recursive=True):
        with open(f, "rb") as fh:
            data = fh.read()
        n_files += 1
        n_bytes += len(data)
        lines += data.count(b"\n")
    return n_files, n_bytes, lines


def _json_lines(out_dir: str):
    for f in sorted(glob.glob(os.path.join(out_dir, "**", "part-*"), recursive=True)):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


class _SinkWorkload:
    """A pipeline whose pass commits files: the first warm-up pass is
    checked in full, every later pass must commit the same bytes and
    lines, and fails with the first pass's errors if that one failed."""

    ops_per_pass = 1
    warmup_passes = 1
    min_passes = 1

    def warm_up(self, spark, tr, root: str, tally: Tally) -> None:
        for k in range(self.warmup_passes):
            out = os.path.join(root, "out", f"warm{k}")
            self.run_pass(spark, tr, out)
            if k == 0:
                self.reference_errors = self.check(out)
                self.reference = output_stats(out)[1:]
                tally.op(self.reference_errors)
            else:
                tally.op(self.check_same(out))
            shutil.rmtree(out)

    def check_same(self, out: str) -> list[str]:
        self.last_stats = output_stats(out)
        got = self.last_stats[1:]
        if got != self.reference:
            return [f"output {got} B/lines != checked {self.reference}"]
        return self.reference_errors

    def wall_s(self, walls: list[float], lats: list) -> float:
        return statistics.median(walls)

    def after(self, spark, tr, root: str, tally: Tally) -> None:
        pass

    def sink_layers(self) -> dict[str, float]:
        files, n_bytes, lines = self.last_stats
        return {"sinks.files_out": files, "sinks.bytes_out_mb": n_bytes / 1e6, "sinks.records_out": lines}

    def event_layers(self, ev, tr, n_passes: int) -> dict[str, float]:
        return {}


class ItemsGrouped(_SinkWorkload):
    name = "items_grouped"
    # Pass time falls over the first passes (JIT): three untimed passes,
    # then the median of at least three timed ones.
    warmup_passes = 3
    min_passes = 3
    # With Spark's CSV column pruning on (its default), the program's
    # permissive read_csv tokenizes only the columns the pipeline uses,
    # so a stale 10-column row is null-padded instead of flagged as
    # corrupt, and becomes an event. Until read_csv guards against
    # that, the session turns pruning off so that malformed rows are
    # dropped as the gate requires.
    spark_conf = {"spark.sql.csv.parser.columnPruning.enabled": "false"}

    def __init__(self, root: str, seed: int):
        self.csv = os.path.join(root, "in", "items.csv")
        self.facts = inputs.items_csv(self.csv, seed)
        self.rows_in = self.facts["rows_in"]

    def run_pass(self, spark, tr, out: str) -> None:
        from caliper_poc_data_etl_spark.pipelines.items import (
            item_outcome_events,
            items_grouped_json_by_attempt,
        )
        from caliper_poc_data_etl_spark.schemas import ASSESSMENT_ITEMS_FIDELITY
        from caliper_poc_data_etl_spark.sinks import write_grouped_json
        from caliper_poc_data_etl_spark.sources import read_csv

        with tr.span("sources.read_csv"):
            items = read_csv(spark, self.csv, ASSESSMENT_ITEMS_FIDELITY)
        with tr.span("pipelines.build"):
            grouped = items_grouped_json_by_attempt(item_outcome_events(items))
        with tr.span("sinks.write"):
            write_grouped_json(grouped, out, layout="bulk")

    def check(self, out: str) -> list[str]:
        """One line per attempt that has valid rows, holding one event per
        valid row of that attempt, in input order; so the rows the
        pipeline dropped are exactly the malformed rows generated."""
        order, malformed = self.facts["order"], self.facts["malformed"]
        seen, events, leaked, wrong = set(), 0, 0, 0
        for doc in _json_lines(out):
            att = doc["attempt_id"]
            items = [e["values"]["target"]["id"] for e in doc["events"]]
            events += len(items)
            leaked += sum(1 for i in items if i in malformed)
            wrong += items != order.get(att)
            seen.add(att)
        errors = []
        if wrong or seen != set(order):
            errors.append(
                f"{wrong} of {len(seen)} attempt lines differ from their valid rows in input "
                f"order ({len(order)} attempts have valid rows); pipeline dropped "
                f"{self.rows_in - events} rows, generated {len(malformed)} malformed, "
                f"{leaked} malformed rows became events"
            )
        return errors

    def layers(self, spark, tr, n_passes: int) -> dict[str, float]:
        m = {
            "sources.read_csv_s": tr.median("sources.read_csv"),
            "pipelines.build_s": tr.median("pipelines.build"),
            "sinks.write_s": tr.median("sinks.write"),
        }
        return m | self.sink_layers() | source_scan(spark, tr, self.csv, "items")


class AttemptsStream(_SinkWorkload):
    name = "attempts_stream"
    warmup_passes = 2
    # Pass times still fall from one pass to the next; a fixed number of
    # timed passes keeps the median from depending on host speed.
    min_passes = 2

    def __init__(self, root: str, seed: int):
        self.drops = os.path.join(root, "in", "drops")
        self.chk_root = os.path.join(root, "chk")
        self.facts = inputs.assessment_drops(self.drops, seed)
        self.rows_in = self.facts["rows_in"]
        self.history: list[list[dict]] = []  # per-batch progress, one list per pass
        self.listener = None

    def run_pass(self, spark, tr, out: str) -> list[float]:
        from caliper_poc_data_etl_spark.streaming import (
            attempt_events_stream,
            read_assessments_stream,
            stream_events_to_json,
        )

        chk = os.path.join(self.chk_root, str(len(self.history)))
        with tr.span("streaming.read_stream"):
            stream = read_assessments_stream(spark, self.drops, max_files_per_trigger=1)
        with tr.span("pipelines.build"):
            events = attempt_events_stream(stream)
        with tr.span("streaming.run"):
            q = stream_events_to_json(events, out, chk)
            tr.alias(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if self.listener is not None:
            batches = self.listener.batches(str(q.runId))
        else:
            batches = [_batch_record(p) for p in q.recentProgress]
        self.history.append(batches)
        return [b["triggerExecution"] for b in batches]

    def check(self, out: str) -> list[str]:
        """Exactly three events per valid row, one of each kind."""
        kinds: dict[tuple, int] = {}
        for doc in _json_lines(out):
            ev = doc["event"]
            key = (ev["type"], ev["values"]["action"])
            kinds[key] = kinds.get(key, 0) + 1
        valid = self.facts["valid"]
        want = {
            ("AssessmentEvent", "STARTED"): valid,
            ("AssessmentEvent", "SUBMITTED"): valid,
            ("AssessmentOutcomeEvent", "GRADED"): valid,
        }
        return [] if kinds == want else [f"event kinds {kinds} != {want}"]

    def layers(self, spark, tr, n_passes: int) -> dict[str, float]:
        runs = self.history[-n_passes:]
        batches = [b for run in runs for b in run]
        m = {
            "pipelines.build_s": tr.median("pipelines.build"),
            "streaming.batches": statistics.median(len(run) for run in runs),
            "streaming.rows_per_batch": statistics.mean(b["numInputRows"] for b in batches),
        }
        for key, out in _BATCH_METRICS.items():
            m[f"streaming.{out}"] = statistics.median(b[key] for b in batches)
        return m | self.sink_layers() | source_scan(spark, tr, self.drops, "assessments")


_BATCH_METRICS = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


def _batch_record(progress) -> dict:
    """Durations (ms) and input rows of one micro-batch's progress."""
    rec = {k: float(progress.durationMs.get(k, 0)) for k in ("triggerExecution", *_BATCH_METRICS)}
    rec["numInputRows"] = float(progress.numInputRows)
    return rec


def make_listener(spark):
    """A ``StreamingQueryListener`` that keeps each batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.by_run: dict[str, list[dict]] = {}
            self.done: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.by_run.setdefault(str(p.runId), []).append(_batch_record(p))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.add(str(event.runId))

        def batches(self, run_id: str, timeout_s: float = 30.0) -> list[dict]:
            # Listener events arrive asynchronously; the terminated event
            # is posted after the last progress event of the run.
            deadline = time.monotonic() + timeout_s
            while run_id not in self.done and time.monotonic() < deadline:
                time.sleep(0.01)
            return self.by_run.get(run_id, [])

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def source_scan(spark, tr, path: str, kind: str) -> dict[str, float]:
    """Scan-only ``noop`` write of the program's CSV reader over the
    workload's input, counting rows read and rows the reader rejects.
    The write reads every column, so the scan is not pruned."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from caliper_poc_data_etl_spark.schemas import (
        ASSESSMENT_ITEMS_FIDELITY,
        ASSESSMENTS_FIDELITY,
    )
    from caliper_poc_data_etl_spark.sources import read_csv
    from caliper_poc_data_etl_spark.sources.readers import CORRUPT_COL

    schema = ASSESSMENT_ITEMS_FIDELITY if kind == "items" else ASSESSMENTS_FIDELITY
    obs = Observation("source_rows")
    with tr.span("sources.scan"):
        t0 = time.perf_counter()
        df = read_csv(spark, path, schema, keep_corrupt=True)
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.count(F.col(CORRUPT_COL)).alias("dropped"),
        ).write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t0
    rows_in, dropped = float(obs.get["rows_in"]), float(obs.get["dropped"])
    return {
        "sources.scan_s": scan_s,
        "sources.rows_in": rows_in,
        "sources.rows_dropped": dropped,
        "sources.kept_ratio": (rows_in - dropped) / rows_in if rows_in else 0.0,
    }


class AnalyticsMix:
    name = "analytics_mix"
    ops_per_pass = len(MIX)
    # The gate's pass runs cold (codegen, JIT) and is not timed. Pass
    # times keep falling through the timed passes as the JIT of the
    # Spark driver JVM warms, so wall_s sums each query's fastest of
    # three timed passes.
    min_passes = 3

    def __init__(self, root: str, seed: int):
        self.tables = os.path.join(root, "in", "tables")
        self.rows_in = sum(inputs.analytics_tables(self.tables, seed).values())
        self.last_frames: dict = {}

    def run_pass(self, spark, tr, out: str) -> list[float]:
        import __spark_entry__

        builders = __spark_entry__.queries()
        sc = spark.sparkContext
        lat = []
        for q in MIX:
            t0 = time.perf_counter()
            with tr.span(f"queries.{q}.build"):
                df = builders[q](spark, self.tables)
            if tr.enabled:
                with tr.span(f"queries.{q}.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"queries.{q}.exec"):
                # Labels the timed action's SQL execution for the pruning
                # guard; an open span has already set the same label.
                if not tr.enabled:
                    sc.setJobDescription(f"queries.{q}.exec")
                df.write.format("noop").mode("overwrite").save()
                if not tr.enabled:
                    sc.setJobDescription(None)
            lat.append((time.perf_counter() - t0) * 1000)
            self.last_frames[q] = df
        return lat

    def warm_up(self, spark, tr, root: str, tally: Tally) -> None:
        """The untimed cold pass is the correctness gate: each query is
        built, collected and compared with its DuckDB twin. A failed
        query is one failed operation."""
        with tr.span("gate"):
            self.oracle_gate(spark, root, tally)

    def wall_s(self, walls: list[float], lats: list[list[float]]) -> float:
        """Sum over the mix of each query's fastest build-plus-write time."""
        return sum(min(q) for q in zip(*lats)) / 1000

    def after(self, spark, tr, root: str, tally: Tally) -> None:
        """After the timed passes: the pruning guard over the last pass's
        actions. A query that fails it fails one of its operations."""
        for error in self.pruning_guard(spark):
            tally.fail(error)

    def oracle_gate(self, spark, root: str, tally: Tally) -> None:
        import duckdb

        import __spark_entry__
        from caliper_poc_data_etl_spark.sources.readers import TABLE_NAMES
        from tools.check_oracle import _canon

        builders = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        # Never fetch extensions, and keep DuckDB's files in the run directory.
        con = duckdb.connect(
            config={
                "autoinstall_known_extensions": False,
                "extension_directory": os.path.join(root, "duckdb"),
            }
        )
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
        for q in MIX:
            try:
                df = builders[q](spark, self.tables)
                got = _canon([tuple(r) for r in df.collect()], df.columns)
                rel = con.sql(oracles[q])
                want = _canon(rel.fetchall(), list(rel.columns))
                same = _digest(got) == _digest(want)
                tally.op([] if same else [f"{q}: hash differs from oracle ({len(got)} vs {len(want)} rows)"])
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed operation
                tally.op([f"{q}: {type(exc).__name__}: {str(exc)[:300]}"])
        con.close()

    def pruning_guard(self, spark) -> list[str]:
        """Fail a query whose timed action ran without an operator class
        (Window, Join, Aggregate, Generate) that its optimized plan has.
        This keeps the timed action from sliding back to ``count()``,
        whose plan Catalyst prunes."""
        plans = executed_plans(spark)
        errors = []
        for q, df in self.last_frames.items():
            want = operator_classes(df._jdf.queryExecution().optimizedPlan().toString())
            ran = plans.get(f"queries.{q}.exec")
            if ran is None:
                errors.append(f"{q}: timed action's SQL execution not found")
            elif want - operator_classes(ran):
                errors.append(f"{q}: timed action dropped {sorted(want - operator_classes(ran))}")
        return errors

    def layers(self, spark, tr, n_passes: int) -> dict[str, float]:
        m: dict[str, float] = {"sources.rows_in": self.rows_in, "sources.kept_ratio": 1.0}
        for q in MIX:
            for step in ("build", "plan", "exec"):
                m[f"queries.{q}.{step}_s"] = tr.median(f"queries.{q}.{step}")
        return m

    def event_layers(self, ev, tr, n_passes: int) -> dict[str, float]:
        """``queries.<q>.build_jobs`` and ``shuffle_mb`` from the event log."""
        m = {}
        for q in MIX:
            jobs, shuffle = [], []
            for p in range(n_passes):
                build = tr.span_ids(f"queries.{q}.build", p)
                run = tr.span_ids(f"queries.{q}.exec", p)
                jobs.append(ev.group_jobs(build))
                shuffle.append(ev.group_sum(build | run, "write_mb"))
            m[f"queries.{q}.build_jobs"] = statistics.median(jobs)
            m[f"queries.{q}.shuffle_mb"] = statistics.median(shuffle)
        return m


_OP_NAME = re.compile(r"^[\s:+\-|*]*(?:\(\d+\)\s*)?([A-Za-z]+)")


def operator_classes(plan_text: str) -> set[str]:
    """Guarded operator classes (Window, Join, Aggregate, Generate) in a
    logical or physical plan's text form."""
    found = set()
    for line in plan_text.splitlines():
        m = _OP_NAME.match(line)
        if not m:
            continue
        name = m.group(1)
        if name.endswith("Join") or name == "CartesianProduct":
            found.add("Join")
        elif name.endswith("Aggregate"):
            found.add("Aggregate")
        elif name.startswith("Window"):
            found.add("Window")
        elif name == "Generate":
            found.add("Generate")
    return found


def executed_plans(spark) -> dict[str, str]:
    """Physical plan text of the latest SQL execution per description,
    from Spark's SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        plans[e.description()] = e.physicalPlanDescription()
    return plans


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (ItemsGrouped, AttemptsStream, AnalyticsMix)}
