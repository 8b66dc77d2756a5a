"""Spans around the engine's layer entry points, attributed to Spark tasks.

Only the traced run (``--trace 1``) installs any of this. A span records
name, parent, operation index, start and end. Entering a span tags the
jobs Spark starts from then on with ``SparkContext.setJobGroup(span_id)``;
leaving it restores the parent's tag. After the session stops, the Spark
event log (enabled only in the traced run) maps each task's counters to
its stage's job group, i.e. to the innermost span that started it.

Wrappers are installed at the names the callers look up: ``runner``
imports ``seed_to_parquet``, ``materialize_table`` and ``evaluate_test``
into its own namespace, so those module attributes are replaced there,
not only in the defining module.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. ``enabled`` switches recording per
    operation so one process can time traced and untraced operations."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"perfbench-{len(self.spans) + len(self._stack)}-{time.perf_counter_ns()}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "attrs": {},
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``before(args)``
        returns state handed to ``after(rec, state, args, result)``, which
        may fill ``rec["attrs"]``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            state = before(args) if before else None
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after:
                    after(rec, state, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def annotate(self, name: str, **attrs: float) -> None:
        """Add attributes to the latest finished span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                rec["attrs"].update(attrs)
                return

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def _files(path: str) -> dict[str, int]:
    """Data files under ``path`` (relative path → bytes)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point named in README.md's layer table."""
    from olist_snowflake_dbt_spark import queries, runner
    from olist_snowflake_dbt_spark.models import tpch
    from olist_snowflake_dbt_spark.operators import dq
    from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable
    from olist_snowflake_dbt_spark.plans import materialize
    from olist_snowflake_dbt_spark.plans.registry import ModelRegistry
    from olist_snowflake_dbt_spark.sources import seeds

    for method in ("seed", "run", "test"):
        tracer.wrap(runner.Engine, method, f"runner.{method}")
    tracer.wrap(runner, "seed_to_parquet", "seeds.seed_to_parquet")
    tracer.wrap(seeds, "infer_seed_schema", "seeds.infer_seed_schema")
    tracer.wrap(ModelRegistry, "build", "registry.build")

    def table_files(rec, _state, _args, rel):
        files = _files(rel.path)
        rec["attrs"].update(files=len(files), bytes=sum(files.values()))

    for owner in (runner, materialize):
        tracer.wrap(owner, "materialize_table", "materialize.table", after=table_files)
        tracer.wrap(owner, "materialize_view", "materialize.view")
    for owner in (runner, dq):
        tracer.wrap(owner, "evaluate_test", "dq.evaluate_test")

    def apply_before(args):
        return _files(args[0].path) if os.path.isdir(args[0].path) else {}

    def apply_after(rec, before, args, _out):
        after = _files(args[0].path)
        new = {p: b for p, b in after.items() if before.get(p) != b}
        rec["attrs"].update(
            files=len(new),
            bytes=sum(new.values()),
            partitions_rewritten=len({os.path.dirname(p) for p in new}),
        )

    tracer.wrap(IncrementalTable, "apply", "incremental.apply",
                before=apply_before, after=apply_after)
    for owner in (queries, tpch):
        tracer.wrap(owner, "read_table", "readers.read_table")


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Per job group: summed task counters, and the number of jobs.

    Returns ``(counters[group][key], jobs[group])``. Stages are mapped to
    groups through the properties each stage was submitted with."""
    stage_group: dict[tuple[int, int], str | None] = {}
    counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs: dict[str, int] = defaultdict(int)
    scans: dict[str, set] = defaultdict(set)
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    files += sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        jobs[group] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    group = stage_group.get(key)
                    m = ev.get("Task Metrics")
                    if not group or not m:
                        continue
                    c = counters[group]
                    c["tasks"] += 1
                    c["executor_run_s"] += m["Executor Run Time"] / 1e3
                    c["cpu_s"] += m["Executor CPU Time"] / 1e9
                    c["gc_s"] += m["JVM GC Time"] / 1e3
                    c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    sw = m["Shuffle Write Metrics"]
                    c["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    sr = m["Shuffle Read Metrics"]
                    c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    read = m["Input Metrics"]["Bytes Read"]
                    c["input_bytes"] += read
                    c["input_records"] += m["Input Metrics"]["Records Read"]
                    c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    if read:
                        scans[group].add(key)
    for group, stages in scans.items():
        counters[group]["input_stages"] = len(stages)
    return counters, jobs


SPARK_KEYS = (
    "tasks", "executor_run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
)


def layer_report(spans: list[dict], counters: dict, jobs: dict, n_ops: int,
                 op_wall_s: float, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics (per traced operation) and a per-span-name table
    of calls, inclusive, self time and Spark counters."""
    by_id = {s["id"]: s for s in spans}
    child_s: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] in by_id:
            child_s[s["parent"]] += s["end"] - s["start"]
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], defaultdict(float))
        dur = s["end"] - s["start"]
        row["calls"] += 1
        row["incl_s"] += dur
        row["self_s"] += dur - child_s[s["id"]]
        row["jobs"] += jobs.get(s["id"], 0)
        for k, v in counters.get(s["id"], {}).items():
            row[k] += v
        for k, v in s["attrs"].items():
            row[k] += v
    per = max(n_ops, 1)

    def get(name: str, key: str) -> float:
        return table.get(name, {}).get(key, 0.0)

    m: dict[str, float] = {}
    m["runner.seed_s"] = get("runner.seed", "incl_s") / per
    m["runner.run_s"] = get("runner.run", "incl_s") / per
    m["runner.test_s"] = get("runner.test", "incl_s") / per
    m["runner.self_s"] = sum(get(f"runner.{x}", "self_s") for x in ("seed", "run", "test")) / per
    m["seeds.infer_s"] = get("seeds.infer_seed_schema", "incl_s") / per
    m["seeds.write_s"] = get("seeds.seed_to_parquet", "self_s") / per
    seed_spans = ("seeds.seed_to_parquet", "seeds.infer_seed_schema")
    m["seeds.rows_in"] = sum(get(n, "input_records") for n in seed_spans) / per
    m["seeds.csv_bytes_in"] = sum(get(n, "input_bytes") for n in seed_spans) / per
    m["seeds.csv_scans"] = sum(get(n, "input_stages") for n in seed_spans) / per
    m["registry.build_s"] = get("registry.build", "self_s") / per
    m["materialize.table_s"] = get("materialize.table", "incl_s") / per
    m["materialize.bytes_written"] = get("materialize.table", "bytes") / per
    m["materialize.files_written"] = get("materialize.table", "files") / per
    n_tests = get("dq.evaluate_test", "calls")
    m["dq.test_s"] = get("dq.evaluate_test", "incl_s") / per
    m["dq.jobs_per_test"] = get("dq.evaluate_test", "jobs") / n_tests if n_tests else 0.0
    m["dq.input_bytes_per_test"] = (
        get("dq.evaluate_test", "input_bytes") / n_tests if n_tests else 0.0
    )
    m["incremental.apply_s"] = get("incremental.apply", "incl_s") / per
    m["incremental.files_written"] = get("incremental.apply", "files") / per
    rewritten = get("incremental.apply", "partitions_rewritten")
    m["incremental.partitions_changed_share"] = (
        get("incremental.apply", "partitions_changed") / rewritten if rewritten else 0.0
    )
    batch_bytes = get("incremental.apply", "batch_bytes")
    m["incremental.bytes_written_per_batch_byte"] = (
        get("incremental.apply", "bytes") / batch_bytes if batch_bytes else 0.0
    )
    m["readers.read_table_s"] = get("readers.read_table", "incl_s") / per
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = sum(row.get(k, 0.0) for row in table.values()) / per
    m["spark.core_busy_share"] = (
        m["spark.executor_run_s"] * per / (op_wall_s * cores) if op_wall_s else 0.0
    )
    return m, {k: dict(v) for k, v in sorted(table.items())}
