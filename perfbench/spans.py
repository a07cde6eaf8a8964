"""Spans around calls into the program's layers, and Spark's own numbers.

The tracer wraps the public functions listed in ``TARGETS`` (one name
per layer boundary) while a traced pass runs, keeps every span in
memory (name, start, end, parent, op id) and turns them into per-layer
``calls`` and ``self_s`` (span time minus the time of its child spans).
Spark's scheduler and executor work comes from the run's event log:
jobs are attributed to the op whose time window they were submitted in
(job groups are not used: the ETL operators reset the job group on
every call).

All per-layer numbers are per traced pass.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

# (module, function or Class.method) for each traced layer boundary
TARGETS = {
    "operators.etl": [
        "load", "executemany", "copy_table_rows", "copy_rows", "iter_chunks",
        "fetchall", "fetchone", "apply_transform",
    ],
    "connect": [
        "SparkConnection.dataframe", "SparkConnection.table_dataframe",
        "SparkConnection.write_dataframe", "SparkConnection.register_tables",
        "SparkConnection.execute_statement",
    ],
    "operators.jdbc_sink": ["validate_rows"],
    "parameters": ["bind_parameters"],
    "sources.parquet": ["read_parquet_table"],
    "functions.util": [
        "footer_spark_schema", "read_parquet_state", "count_parquet_rows",
        "list_fileinfos",
    ],
    # the index, dedup and state-store entry points the workloads reach
    "functions.ann_index": ["query_ivf_index"],
    "functions.ivfpq": ["build_ivfpq_index", "append_ivfpq_index"],
    "functions.similarity": [
        "brute_force_topk", "nearest_pivots", "collect_pivot_rows", "nearest_pivot",
    ],
    "functions.dedup": ["shingle_table", "ngram_jaccard_pairs", "duplicate_clusters"],
    "operators.dedup_state": ["dedup_exact_incremental"],
    "operators.ivm": ["rollup_partial", "merge_rollup"],
    "operators.index_state": ["inverted_index_incremental", "read_index_top"],
    "operators.survivorship_state": ["golden_incremental", "read_golden_state"],
    "operators.erasure": ["forget_from_golden_state"],
    "streaming.windows": ["sliding_value_avg"],
}

SPARK_METRICS = (
    "jobs", "stages", "tasks", "job_busy_s", "driver_gap_s", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_failures",
)
KINDS = (
    ("load", "rows_per_s"), ("copy", "rows_per_s"), ("extract", "rows_per_s"),
    ("fetchone", "p50_ms"), ("transform", "rows_per_s"),
)


def unit_of(name: str) -> str:
    """The unit every per-layer metric is printed with."""
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("reject_ratio", "per_read")):
        return "ratio"
    return "count"


def metric_names() -> list[str]:
    """Every per-layer metric the traced run prints, in order."""
    names = [f"spark.{m}" for m in SPARK_METRICS]
    for layer, funcs in TARGETS.items():
        for func in funcs:
            short = func.split(".")[-1]
            names += [f"{layer}.{short}.calls", f"{layer}.{short}.self_s"]
    names += [
        "operators.etl.executemany.chunks",
        "connect.register_tables.tables",
        "operators.jdbc_sink.reject_ratio",
        "sources.parquet.footer_opens",
        "sources.parquet.footer_opens_per_read",
        "plans.query.calls", "plans.query.self_s",
        "bench.unattributed_s",
        "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
    ]
    names += [f"op.{kind}.{unit}" for kind, unit in KINDS]
    return names


class _Span:
    __slots__ = ("name", "start", "end", "parent", "op_id", "child_s")

    def __init__(self, name, parent, op_id):
        self.name, self.parent, self.op_id = name, parent, op_id
        self.start = time.perf_counter()
        self.end = None
        self.child_s = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[_Span] = []
        self.windows: list[tuple[float, float]] = []  # epoch s, per traced op
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._op_id = 0

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[_Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> _Span:
        stack = self._stack()
        span = _Span(name, stack[-1] if stack else None, self._op_id)
        stack.append(span)
        self.spans.append(span)
        return span

    def _close(self, span: _Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        if span.parent is not None:
            span.parent.child_s += span.end - span.start

    @contextlib.contextmanager
    def op(self):
        """Root span of one timed op; its time window attributes jobs."""
        self._op_id += 1
        t0 = time.time()
        span = self._open("bench.op")
        try:
            yield
        finally:
            self._close(span)
            self.windows.append((t0, time.time()))

    def _wrap(self, name: str, fn):
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                span = self._open(name)
                try:
                    yield from fn(*args, **kwargs)
                finally:
                    self._close(span)
            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(span)
            self._observe(name, args, kwargs, result)
            return result
        return wrapper

    def _observe(self, name, args, kwargs, result) -> None:
        """Counts taken from a traced call's arguments and result."""
        if name == "connect.register_tables":
            self.counts["connect.register_tables.tables"] += len(result)
        elif name in ("operators.etl.copy_rows", "operators.etl.copy_table_rows"):
            if kwargs.get("on_error") is not None:
                self.counts["validated"] += result[0]
                self.counts["rejected"] += result[1]

    # -- patching -----------------------------------------------------
    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        import pyarrow.parquet as pq

        modules = [m for n, m in list(sys.modules.items())
                   if n.startswith("etlhelper_spark") and m is not None]
        for layer, funcs in TARGETS.items():
            mod = importlib.import_module(f"etlhelper_spark.{layer}")
            for func in funcs:
                name = f"{layer}.{func.split('.')[-1]}"
                if "." in func:
                    cls_name, meth = func.split(".")
                    cls = getattr(mod, cls_name)
                    self._patch(cls, meth, self._wrap(name, cls.__dict__[meth]))
                    continue
                orig = getattr(mod, func)
                wrapped = self._wrap(name, orig)
                # rebind every module-level reference, so calls made
                # through `from x import f` names are traced too
                for m in modules:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            self._patch(m, attr, wrapped)
        # query bodies are looked up in the QUERIES registry, not by name
        from etlhelper_spark.plans import QUERIES

        for qname, fn in list(QUERIES.items()):
            self._patch_item(QUERIES, qname, self._wrap("plans.query", fn))
        etl = importlib.import_module("etlhelper_spark.operators.etl")
        for helper in ("_write_chunk", "_execute_custom_chunk"):
            self._patch(etl, helper, self._counter("operators.etl.executemany.chunks",
                                                   getattr(etl, helper)))
        self._patch(pq, "read_schema", self._counter("footer_opens", pq.read_schema))
        self._patch(pq, "read_metadata", self._counter("footer_opens", pq.read_metadata))
        counts = self.counts

        class CountingParquetFile(pq.ParquetFile):
            def __init__(self, *args, **kwargs):
                counts["footer_opens"] += 1
                super().__init__(*args, **kwargs)

        self._patch(pq, "ParquetFile", CountingParquetFile)

    def _counter(self, key: str, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            self.counts[key] += 1
            return fn(*args, **kwargs)
        return counted

    def _patch_item(self, mapping, key, new) -> None:
        self._patches.append((mapping, key, mapping[key]))
        mapping[key] = new

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line: name, start, end (seconds
        on the run's monotonic clock), parent index and op id."""
        index = {id(span): i for i, span in enumerate(self.spans)}
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps({
                    "name": span.name, "start": span.start, "end": span.end,
                    "parent": index.get(id(span.parent)), "op": span.op_id,
                }) + "\n")

    # -- metrics ------------------------------------------------------
    def metrics(self, traced, pass_s: dict, event_log_dir: str, kinds: dict) -> dict:
        """Per-layer metrics per traced pass. *traced* holds the traced
        op records, *pass_s* the median traced and untraced pass times,
        *kinds* the per-kind throughputs of the untraced passes."""
        n_pass = max(1, len({r.pass_no for r in traced}))
        out: dict[str, dict] = {}

        def put(name, value):
            out[name] = {"value": value, "unit": unit_of(name)}

        spark = spark_metrics(event_log_dir, self.windows)
        spark["driver_gap_s"] = sum(r.wall for r in traced) - spark["job_busy_s"]
        for m in SPARK_METRICS:
            put(f"spark.{m}", spark[m] / n_pass)

        calls: dict[str, int] = defaultdict(int)
        self_s: dict[str, float] = defaultdict(float)
        for span in self.spans:
            if span.end is None:
                continue
            calls[span.name] += 1
            self_s[span.name] += span.end - span.start - span.child_s
        for layer, funcs in TARGETS.items():
            for func in funcs:
                name = f"{layer}.{func.split('.')[-1]}"
                put(f"{name}.calls", calls[name] / n_pass)
                put(f"{name}.self_s", self_s[name] / n_pass)
        c = self.counts
        put("operators.etl.executemany.chunks", c["operators.etl.executemany.chunks"] / n_pass)
        put("connect.register_tables.tables", c["connect.register_tables.tables"] / n_pass)
        put("operators.jdbc_sink.reject_ratio",
            c["rejected"] / c["validated"] if c["validated"] else 0.0)
        put("sources.parquet.footer_opens", c["footer_opens"] / n_pass)
        reads = calls["sources.parquet.read_parquet_table"]
        put("sources.parquet.footer_opens_per_read",
            c["footer_opens"] / reads if reads else 0.0)
        put("plans.query.calls", calls["plans.query"] / n_pass)
        put("plans.query.self_s", self_s["plans.query"] / n_pass)
        put("bench.unattributed_s", self_s["bench.op"] / n_pass)

        put("trace.pass_s", pass_s["traced"])
        put("trace.untraced_pass_s", pass_s["untraced"])
        put("trace.overhead_s", pass_s["traced"] - pass_s["untraced"])
        for kind, unit in KINDS:
            value = (kinds.get(kind) or {}).get(unit) or 0.0
            put(f"op.{kind}.{unit}", value)
        return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def spark_metrics(event_log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum the event log's jobs, stages and task metrics over the jobs
    submitted inside one of *windows* (epoch seconds)."""
    windows = sorted(windows)

    def window_of(t_ms: float):
        t = t_ms / 1000.0
        for start, end in windows:
            if start <= t <= end:
                return start, end
        return None

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    completed_stages: set[int] = set()
    tasks: list[dict] = []
    # Spark 4 writes a directory of rolled event files per application
    paths = glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    win = window_of(ev["Submission Time"])
                    if win is not None:
                        jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0, "win": win}
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    completed_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    busy = [
        (max(j["start"], j["win"][0]), min(j.get("end", j["win"][1]), j["win"][1]))
        for j in jobs.values()
    ]
    out = {
        "jobs": len(jobs),
        "stages": sum(1 for s in completed_stages if s in stage_job),
        "job_busy_s": _union_s(busy),
    }
    sums = defaultdict(float)
    for ev in tasks:
        if ev["Stage ID"] not in stage_job:
            continue
        sums["tasks"] += 1
        info = ev.get("Task Info", {})
        if info.get("Failed") or info.get("Killed"):
            sums["task_failures"] += 1
        m = ev.get("Task Metrics") or {}
        sums["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        sums["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sums["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sums["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sums["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        sums["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sums["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sums["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for key in ("tasks", "task_failures", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "input_bytes", "output_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[key] = sums[key]
    return out
