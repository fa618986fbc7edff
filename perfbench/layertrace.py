"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``Tracer.install``
wraps the engine's module-level functions and methods at the call
boundary of each layer (one layer per repo module), records a span
(name, start, end, parent) in memory, and sets the Spark job group to
the innermost span, so every Spark job is tagged with the layer that
ran it. Jobs started from threads the engine creates itself (the
enricher's eval-collect pool) carry no group and are reported as
``unattributed``.

Lazy layers would otherwise be charged for nothing while the first
action downstream pays for the whole chain. In a traced pass every
wrapped call that returns a DataFrame materializes it before returning
(``localCheckpoint``, inside its own span), so a layer's self time is
the difference between the materialized prefix it produces and the one
it was given. The rows are unchanged; the extra writes show up as
``trace_overhead_s``.

Spark's own event log (uncompressed, local files) supplies the counters
per job group: jobs, Exchange nodes in each SQL execution's initial
plan, shuffle bytes written, spill, executor run time, Python-worker
time and the task skew of the slowest stage.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

LAYERS = [
    "pipeline.enricher",
    "joins.asof",
    "plans.feature_dag",
    "operators.timeseries",
    "pipeline.normalizer",
    "functions.dedup",
    "pipeline.record_ids",
    "functions.sampling",
    "pipeline.cv",
    "pipeline.metrics",
    "functions.stats",
    "functions.similarity",
    "functions.tokens",
    "functions.text",
]

COUNTERS = [
    "self_s",
    "jobs",
    "exchanges",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "python_worker_s",
    "task_skew",
]

# (module, attribute, layer). A dotted attribute is a method. Functions
# that other engine modules import by name are wrapped where they are
# looked up at call time.
HOOKS = [
    ("upgini_spark.pipeline.enricher", "SparkFeaturesEnricher.fit", "pipeline.enricher"),
    ("upgini_spark.pipeline.enricher", "SparkFeaturesEnricher.transform", "pipeline.enricher"),
    ("upgini_spark.pipeline.enricher", "SparkFeaturesEnricher.calculate_metrics", "pipeline.enricher"),
    ("upgini_spark.pipeline.enricher", "SparkFeaturesEnricher.clean_duplicates", "pipeline.enricher"),
    ("upgini_spark.pipeline.enricher", "SparkFeaturesEnricher.with_record_ids", "pipeline.enricher"),
    ("upgini_spark.pipeline.enricher", "asof_join", "joins.asof"),
    ("upgini_spark.pipeline.enricher", "compile_features", "plans.feature_dag"),
    ("upgini_spark.pipeline.enricher", "add_system_record_id", "pipeline.record_ids"),
    ("upgini_spark.operators.timeseries", "sessionize", "operators.timeseries"),
    ("upgini_spark.pipeline.normalizer", "normalize_types", "pipeline.normalizer"),
    ("upgini_spark.pipeline.normalizer", "validate_features", "pipeline.normalizer"),
    ("upgini_spark.functions.dedup", "remove_fintech_duplicates", "functions.dedup"),
    ("upgini_spark.functions.dedup", "drop_full_duplicates", "functions.dedup"),
    ("upgini_spark.functions.sampling", "hash_sample_exact", "functions.sampling"),
    ("upgini_spark.pipeline.cv", "stratified_kfold_column", "pipeline.cv"),
    ("upgini_spark.pipeline.metrics", "calculate_metrics_report", "pipeline.metrics"),
    ("upgini_spark.functions.stats", "define_task", "functions.stats"),
    ("upgini_spark.functions.stats", "psi_monthly_report", "functions.stats"),
    ("upgini_spark.functions.similarity", "cosine_topk_bruteforce", "functions.similarity"),
    ("upgini_spark.functions.tokens", "build_word_vocab", "functions.tokens"),
    ("upgini_spark.functions.tokens", "encode_words", "functions.tokens"),
    ("upgini_spark.functions.tokens", "chunk_tokens_sliding", "functions.tokens"),
    ("upgini_spark.functions.text", "bm25_score", "functions.text"),
]

# row filters whose in/out counts give functions.dedup.kept_ratio
KEPT_RATIO_CALLS = {"remove_fintech_duplicates", "drop_full_duplicates"}
# the top-n sampler whose heap input gives functions.sampling.candidate_ratio
HEAP_SAMPLER = "hash_sample_exact"


@dataclass
class Span:
    idx: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    call: str = ""
    epoch: float = 0.0  # wall-clock start, to match event-log timestamps

    @property
    def group(self) -> str:
        return f"span-{self.idx}"


@dataclass
class Call:
    """Input and output frames of one wrapped call, kept for the row
    counts behind the ratio counters."""
    span: int
    call: str
    df_in: object
    df_out: object
    pandas_rows: int = 0


class Tracer:
    """Records spans around the wrapped layer calls of one process."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.calls: list[Call] = []
        self._stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, call: str = ""):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.idx if parent else None,
                  time.perf_counter(), call=call, epoch=time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, layer: str, call: str):
        import pandas as pd
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._stack:  # outside a traced pass
                return fn(*args, **kwargs)
            with self.span(layer, call) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                df_in = next((a for a in args if isinstance(a, DataFrame)), None)
                # driver-side frames handed to the layer (the metrics collect)
                frames = [a for a in (*args, *kwargs.values()) if isinstance(a, pd.DataFrame)]
                frames += [f for a in kwargs.values() if isinstance(a, list)
                           for f in a if isinstance(f, pd.DataFrame)]
                self.calls.append(Call(sp.idx, call, df_in, out, sum(map(len, frames))))
            return out

        return traced

    def install(self) -> None:
        for module, attr, layer in HOOKS:
            owner = importlib.import_module(module)
            *path, name = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = owner.__dict__[name]
            self._originals.append((owner, name, original))
            setattr(owner, name, self._wrap(original, layer, name))

    def uninstall(self) -> None:
        while self._originals:
            owner, name, original = self._originals.pop()
            setattr(owner, name, original)

    def ratio_counts(self, first_span: int) -> dict[str, float]:
        """Row counts of the ratio counters for the calls of one pass
        (spans numbered ``first_span`` and later); run after the pass,
        untimed. Outputs are checkpointed, so counting them is cheap."""
        calls = [c for c in self.calls if c.span >= first_span]
        dedup = [c for c in calls if c.call in KEPT_RATIO_CALLS]
        heap = [c for c in calls if c.call == HEAP_SAMPLER]
        return {
            "dedup_in": float(dedup[0].df_in.count()) if dedup else 0.0,
            "dedup_out": float(dedup[-1].df_out.count()) if dedup else 0.0,
            "heap_in": float(sum(c.df_in.count() for c in heap)),
            "heap_kept": float(sum(c.df_out.count() for c in heap)),
            "collect_rows": float(sum(c.pandas_rows for c in calls)),
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time is its duration minus the durations of its
    direct children."""
    out = {s.idx: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


# ---------------------------------------------------------------- event log

EXCHANGES = {"Exchange", "BroadcastExchange"}  # plan node names
PYTHON_RUN_METRIC = "time to run Python workers"
UNATTRIBUTED = "unattributed"


@dataclass
class GroupStats:
    jobs: int = 0
    exchanges: int = 0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    executor_run_s: float = 0.0
    python_worker_s: float = 0.0
    # rows out of Filter nodes per SQL execution (the heap candidates)
    filter_rows: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))
    stage_submit_s: dict[int, float] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task run time of the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        slowest = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(slowest)
        return max(slowest) / med if med > 0 else 1.0


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the one application logged under ``log_dir``, in
    order (Spark rolls the log into numbered files)."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Aggregate Spark listener events (JSON lines) per job group; jobs
    without a group land in ``unattributed``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    stage_exec: dict[int, str] = {}
    metric_kind: dict[int, tuple[str, str, str]] = {}  # acc id -> node, metric, type
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            info = e["sparkPlanInfo"]
            for node in _plan_nodes(info):
                for m in node.get("metrics", []):
                    metric_kind[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
            if kind.endswith("SQLExecutionStart"):
                g = e.get("jobGroupId") or UNATTRIBUTED
                groups[g].exchanges += sum(
                    1 for n in _plan_nodes(info) if n["nodeName"] in EXCHANGES
                )
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            groups[props.get("spark.jobGroup.id") or UNATTRIBUTED].jobs += 1
            for sid in e["Stage IDs"]:
                stage_exec[sid] = props.get("spark.sql.execution.id", "")
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or UNATTRIBUTED
            info = e["Stage Info"]
            stage_group[info["Stage ID"]] = g
            groups[g].stage_submit_s[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if not tm:
                continue
            stage = e["Stage ID"]
            gs = groups[stage_group.get(stage, UNATTRIBUTED)]
            run_s = tm["Executor Run Time"] / 1000.0
            gs.executor_run_s += run_s
            gs.stage_tasks[stage].append(run_s)
            gs.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            gs.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            for acc in e["Task Info"].get("Accumulables", []):
                node, name, mtype = metric_kind.get(acc["ID"], ("", acc.get("Name", ""), ""))
                update = float(acc.get("Update") or 0)
                if name == PYTHON_RUN_METRIC:
                    gs.python_worker_s += update / (1e9 if mtype == "nsTiming" else 1e3)
                elif node == "Filter" and name == "number of output rows":
                    gs.filter_rows[stage_exec.get(stage, "")] += update
    return groups


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    def lines():
        for fn in event_log_files(log_dir):
            with open(fn) as f:
                yield from f
    return parse_event_log(lines())


# ---------------------------------------------------------------- per layer

def layer_metrics(
    spans: list[Span],
    groups: dict[str, GroupStats],
    pass_idx: int,
    counts: dict[str, float],
) -> dict[str, float]:
    """Per-layer counters of one traced pass rooted at span ``pass_idx``."""
    root = spans[pass_idx]
    mine = [s for s in spans if s.idx == pass_idx or s.start >= root.start and s.end <= root.end]
    selfs = self_times(mine)
    out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
    skew_stages: dict[str, dict[int, list[float]]] = defaultdict(dict)
    heap_filter_rows = 0.0
    for s in mine:
        if s.idx == pass_idx:
            continue
        gs = groups.get(s.group, GroupStats())
        p = s.name + "."
        out[p + "self_s"] += selfs[s.idx]
        out[p + "jobs"] += gs.jobs
        out[p + "exchanges"] += gs.exchanges
        out[p + "shuffle_write_bytes"] += gs.shuffle_write_bytes
        out[p + "spill_bytes"] += gs.spill_bytes
        out[p + "executor_run_s"] += gs.executor_run_s
        out[p + "python_worker_s"] += gs.python_worker_s
        skew_stages[s.name].update(gs.stage_tasks)
        if s.call == HEAP_SAMPLER and gs.filter_rows:
            heap_filter_rows += max(gs.filter_rows.values())
    for layer, stages in skew_stages.items():
        out[f"{layer}.task_skew"] = GroupStats(stage_tasks=stages).task_skew()
    named = sum(out[f"{layer}.self_s"] for layer in LAYERS)
    out["unattributed_s"] = (root.end - root.start) - named
    # jobs without a group (engine-owned threads) submitted during the pass
    un = groups.get(UNATTRIBUTED, GroupStats())
    t0, t1 = root.epoch, root.epoch + (root.end - root.start)
    out["unattributed.executor_run_s"] = sum(
        sum(tasks) for stage, tasks in un.stage_tasks.items()
        if t0 <= un.stage_submit_s.get(stage, -1.0) <= t1
    )
    out["functions.dedup.kept_ratio"] = (
        counts["dedup_out"] / counts["dedup_in"] if counts["dedup_in"] else 0.0
    )
    # the heap sees the pre-filtered candidates when the sampler filters
    # first, every input row otherwise
    candidates = heap_filter_rows or counts["heap_in"]
    out["functions.sampling.candidate_ratio"] = (
        candidates / counts["heap_kept"] if counts["heap_kept"] else 0.0
    )
    out["pipeline.enricher.collect_rows"] = counts["collect_rows"]
    out["pass_s"] = root.end - root.start
    return out
