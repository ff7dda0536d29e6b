"""Span recorder, Spark counters and summary statistics for the benchmark.

A span wraps one call into a public function of the program. It records
name, start, end, parent span and request id; spans stay in memory until
the run ends. When a SparkContext is attached, each span runs its jobs
under its own job group, so the stages, tasks and failed tasks of the
jobs it launched directly are read back from the status tracker when the
span closes (child spans have their own group, so counts are self counts).

The pure functions at the bottom (``self_times``, ``summarize``) carry no
Spark dependency and are unit-tested.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

P = "erkg_tutorials_spark."
# Every span: its name -> the (module, attribute) pairs the program's own
# callers look the function up by (``module:Class`` for a method). The
# wrappers of ``instrument.py`` are installed at exactly these sites.
SPAN_SITES: dict[str, list[tuple[str, str]]] = {
    "sources.read_senzing_report": [(P + "pipelines.senzing_pipeline", "read_senzing_report"),
                                    (P + "sources.senzing", "read_senzing_report")],
    "sources.graph_tables": [(P + "pipelines.senzing_pipeline", "graph_tables"),
                             (P + "sources.senzing", "graph_tables")],
    "sources.write_jsonl": [(P + "pipelines.senzing_pipeline", "write_jsonl")],
    "graph.k_hop": [(P + "pipelines.senzing_pipeline", "k_hop"), (P + "graph.frames", "k_hop")],
    "graph.bfs": [(P + "graph.frames:PropertyGraph", "bfs")],
    "graph.pagerank": [(P + "text.textrank", "pagerank")],
    "graph.connected_components": [(P + "dedup.clusters", "connected_components")],
    "pipelines.generate_entities": [(P + "pipelines.senzing_pipeline", "generate_entities")],
    "pipelines.generate_aliases": [(P + "pipelines.senzing_pipeline", "generate_aliases")],
    "pipelines.extract_mentions": [(P + "pipelines.entity_linking", "extract_mentions")],
    "pipelines.review_report": [(P + "pipelines.entity_linking", "review_report")],
    "linking.alias_candidates": [(P + "pipelines.entity_linking", "alias_candidates")],
    "linking.embed_column": [(P + "pipelines.entity_linking", "embed_column"),
                             (P + "linking.embed", "embed_column")],
    "linking.disambiguate": [(P + "pipelines.entity_linking", "disambiguate")],
    "text.textrank_phrases": [(P + "pipelines.entity_linking", "textrank_phrases")],
    "dedup.minhash_lsh_dedup": [(P + "dedup.minhash", "minhash_lsh_dedup")],
    "dedup.dedup_assign": [(P + "dedup.clusters", "dedup_assign")],
    "similarity.cosine_knn_ivf": [(P + "similarity.ivf", "cosine_knn_ivf")],
}
SPAN_NAMES = tuple(SPAN_SITES)
FIELD_UNITS = {"calls": "count", "self_s": "s", "rows_out": "count",
               "spark_stages": "count", "spark_tasks": "count", "failed_tasks": "count"}
SPAN_FIELDS = tuple(FIELD_UNITS)
EXTRA_METRICS = {
    "graph.k_hop.plan_ms": "ms",
    "graph.k_hop.exec_ms": "ms",
    "sources.write_jsonl.bytes_written": "bytes",
    "linking.embed_column.rows_per_batch": "count",
    "dedup.lsh_precision": "ratio",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    rows_out: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; with a SparkContext, also each span's
    Spark stage and task counts."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def request(self, rid: str | None) -> None:
        """Set the request id attached to spans opened by this thread."""
        self._local.request = rid

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        sp = Span(name, sid, stack[-1].sid if stack else None,
                  getattr(self._local, "request", None), time.perf_counter())
        group = f"bench-span-{sid}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self._collect_counters(sp, group)
                if stack:
                    self.sc.setJobGroup(f"bench-span-{stack[-1].sid}", stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    def _collect_counters(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            for stid in job.stageIds:
                stage = st.getStageInfo(stid)
                # skipped stages (shuffle reuse) never ran: no attempt
                if stage is None or stage.numActiveTasks + stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue
                sp.stages += 1
                sp.tasks += stage.numCompletedTasks
                sp.failed_tasks += stage.numFailedTasks


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval covered by
    its direct children (overlapping children are merged first, so two
    concurrent children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def summarize(spans: list[Span]) -> dict[str, float]:
    """Per-layer totals: for every name in ``SPAN_NAMES``,
    ``<name>.<field>`` for each of ``SPAN_FIELDS`` (a span never opened
    reads 0)."""
    selfs = self_times(spans)
    acc = {f"{n}.{f}": 0.0 for n in SPAN_NAMES for f in SPAN_FIELDS}
    for s in spans:
        if s.name not in SPAN_NAMES:
            continue
        acc[f"{s.name}.calls"] += 1
        acc[f"{s.name}.self_s"] += selfs[s.sid]
        acc[f"{s.name}.rows_out"] += s.rows_out
        acc[f"{s.name}.spark_stages"] += s.stages
        acc[f"{s.name}.spark_tasks"] += s.tasks
        acc[f"{s.name}.failed_tasks"] += s.failed_tasks
    return acc


def extra_mean(spans: list[Span], name: str, key: str) -> float:
    """Mean of ``span.extra[key]`` over spans called ``name`` (0 if none)."""
    vals = [s.extra[key] for s in spans if s.name == name and key in s.extra]
    return sum(vals) / len(vals) if vals else 0.0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in a stable order."""
    out = {f"{n}.{f}": FIELD_UNITS[f] for n in SPAN_NAMES for f in SPAN_FIELDS}
    out.update(EXTRA_METRICS)
    return out
