"""Per-layer tracing from the benchmark's side of the API.

The traced run wraps the package's public functions (one layer = one module)
so that each top-level call
  - runs under its own Spark job group,
  - materializes its output inside the span (``localCheckpoint``), so the
    work a lazy DataFrame defers is charged to the layer that defined it,
and records the span's wall time. Spark's own event log then gives, per job
group, the task time, GC, shuffle, spill, job count and skew. Nothing in the
package is modified; the wrappers are removed when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# layer -> (module, public functions timed): the top-level calls the two
# workloads make; helpers they call inside are charged to the caller
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "pipeline.extract": ("rdf2hk_spark.pipeline.extract", ("extract_text",)),
    "pipeline.relations": (
        "rdf2hk_spark.pipeline.relations",
        ("detect_mentions", "extract_relations", "relation_quads"),
    ),
    "operators.parse": ("rdf2hk_spark.operators.parse", ("parse_quads",)),
    "operators.serialize": (
        "rdf2hk_spark.operators.serialize", ("serialize_entities",),
    ),
    "sources.nquads": ("rdf2hk_spark.sources.nquads", ("write_nquads",)),
    "plans.sparql": ("rdf2hk_spark.plans.sparql", ("run_sparql",)),
    "plans.query": ("rdf2hk_spark.plans.query", ("context_closure",)),
    "ops.graph": ("rdf2hk_spark.ops.graph", ("pagerank",)),
    "ops.dedup": (
        "rdf2hk_spark.ops.dedup",
        ("lsh_band_keys", "lsh_candidate_pairs_from_keys", "duplicate_clusters"),
    ),
    "ops.similarity": ("rdf2hk_spark.ops.similarity", ("ann_topk_lsh",)),
    "ops.textstats": ("rdf2hk_spark.ops.textstats", ("tfidf_top_terms",)),
}

# counts a layer reports beside the common set, keyed by the function whose
# output rows they are
ROW_COUNTS = {
    "detect_mentions": "mentions",
    "extract_relations": "relations",
    "relation_quads": "quads",
    "parse_quads": "entities",
    "serialize_entities": "quads",
    "lsh_candidate_pairs_from_keys": "candidate_pairs",
}
# frames a layer reads that were persisted upstream (InMemoryRelation leaves
# of its output plan): for the relations layer, scans of the extracted text
SCAN_COUNTS = {"pipeline.relations": "text_scans"}


@dataclass
class Span:
    layer: str
    fn: str
    group: str
    t0: float
    t1: float
    call_s: float
    rows: int | None = None
    extra: dict = field(default_factory=dict)


def _cached_leaves(df) -> int:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        1 for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "InMemoryRelation"
    )


class Tracer:
    """Install with ``install(extra_modules)``; open a pass with
    ``begin_pass(tag)``; ``uninstall()`` restores every wrapped name."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.pass_tag = "setup"
        self.bookkeeping_s: dict[str, float] = defaultdict(float)
        self._depth = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- wrapping ---------------------------------------------------------
    def install(self, extra_modules=()) -> None:
        """Wrap every listed function that exists; a layer whose module or
        functions a later change removed just reports nothing."""
        originals = {}
        for layer, (modname, fns) in LAYERS.items():
            try:
                mod = importlib.import_module(modname)
            except ModuleNotFoundError:
                continue
            for name in fns:
                orig = getattr(mod, name, None)
                if orig is None:
                    continue
                originals[id(orig)] = self._wrap(layer, orig)
                self._patch(mod, name, originals[id(orig)])
        # names imported with ``from module import fn`` elsewhere
        for mod in extra_modules:
            for name, val in list(vars(mod).items()):
                if id(val) in originals:
                    self._patch(mod, name, originals[id(val)])

    def _patch(self, mod, name, new) -> None:
        self._patched.append((mod, name, getattr(mod, name)))
        setattr(mod, name, new)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def _wrap(self, layer: str, fn):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._depth:  # nested call: charged to the outer span
                return fn(*args, **kwargs)
            sc = self.spark.sparkContext
            group = f"{self.pass_tag}|{layer}"
            sc.setJobGroup(group, f"{layer}.{fn.__name__}")
            self._depth += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                call_s = time.perf_counter() - t0
                scans = None
                if isinstance(out, DataFrame):
                    if layer in SCAN_COUNTS:
                        scans = _cached_leaves(out)
                    out = out.localCheckpoint(eager=True)
                t1 = time.perf_counter()
            finally:
                self._depth -= 1
                sc.setJobGroup(f"{self.pass_tag}-trace|count", "bookkeeping")
            span = Span(layer, fn.__name__, group, t0, t1, call_s)
            if isinstance(out, DataFrame):
                span.rows = out.count()
                self.bookkeeping_s[self.pass_tag] += time.perf_counter() - t1
            sc.setJobGroup(f"{self.pass_tag}|run", "unattributed")
            if scans is not None:
                span.extra[SCAN_COUNTS[layer]] = scans
            if fn.__name__ == "write_nquads":
                path = args[1] if len(args) > 1 else kwargs["path"]
                span.extra["out_mb"] = _dir_bytes(path) / 1e6
            self.spans.append(span)
            return out

        return traced

    def begin_pass(self, tag: str) -> None:
        self.pass_tag = tag
        self.spark.sparkContext.setJobGroup(f"{tag}|run", "unattributed")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- event log ------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    intervals: list = field(default_factory=list)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))
    stage_span: dict = field(default_factory=dict)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, task time, GC, shuffle read+write, spill, task
    intervals and per-stage task durations, from Spark's JSON event log."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for path in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, path)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    start, end = info["Launch Time"], info["Finish Time"]
                    g.intervals.append((start, end))
                    g.stage_tasks[ev["Stage ID"]].append(end - start)
                    g.task_s += m.get("Executor Run Time", 0) / 1000
                    g.gc_s += m.get("JVM GC Time", 0) / 1000
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_bytes += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + \
                        m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    group = stage_group.get(si["Stage ID"])
                    if group is not None and "Completion Time" in si:
                        groups[group].stage_span[si["Stage ID"]] = (
                            si["Completion Time"] - si.get("Submission Time", 0)
                        )
    return groups


def covered_s(intervals: list) -> float:
    """Length of the union of task intervals (ms) in seconds."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000


def _skew(g: GroupStats) -> float:
    if not g.stage_span:
        return 0.0
    slowest = max(g.stage_span, key=g.stage_span.get)
    durs = g.stage_tasks.get(slowest) or [0]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def layer_table(spans: list[Span], groups: dict[str, GroupStats], pass_tag: str,
                pass_wall_s: float, static: dict[str, dict] | None = None) -> dict:
    """``{layer: {metric: value}}`` for one pass, plus the ``run`` row that
    reconciles the layers with the pass wall."""
    table: dict[str, dict] = {}
    by_layer: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.group.startswith(pass_tag + "|"):
            by_layer[s.layer].append(s)
    for layer, ss in by_layer.items():
        g = groups.get(f"{pass_tag}|{layer}", GroupStats())
        wall = sum(s.t1 - s.t0 for s in ss)
        row = {
            "wall_s": wall,
            "driver_s": wall - covered_s(g.intervals),
            "task_s": g.task_s,
            "gc_s": g.gc_s,
            "shuffle_mb": g.shuffle_bytes / 1e6,
            "spill_mb": g.spill_bytes / 1e6,
            "jobs": g.jobs,
            "skew": _skew(g),
            "calls": len(ss),
            "rows": sum(s.rows or 0 for s in ss),
        }
        for s in ss:
            if s.fn in ROW_COUNTS and s.rows is not None:
                key = ROW_COUNTS[s.fn]
                row[key] = row.get(key, 0) + s.rows
            for k, v in s.extra.items():
                row[k] = row.get(k, 0) + v
        if layer == "plans.sparql":
            row["compile_s"] = sum(s.call_s for s in ss)
            row["exec_s"] = wall - row["compile_s"]
        row.update((static or {}).get(layer, {}))
        table[layer] = row
    attributed = sum(r["wall_s"] for r in table.values())
    whole = [g for k, g in groups.items() if k.startswith(pass_tag + "|")]
    table["run"] = {
        "pass_wall_s": pass_wall_s,
        "attributed_s": attributed,
        "unattributed_s": pass_wall_s - attributed,
        "jobs": sum(g.jobs for g in whole),
        "task_s": sum(g.task_s for g in whole),
        "gc_s": sum(g.gc_s for g in whole),
        "shuffle_mb": sum(g.shuffle_bytes for g in whole) / 1e6,
        "spill_mb": sum(g.spill_bytes for g in whole) / 1e6,
    }
    return table


def top_layers(table: dict, n: int = 3) -> list[tuple[str, float]]:
    rows = [(k, v["wall_s"]) for k, v in table.items() if "wall_s" in v]
    return sorted(rows, key=lambda kv: -kv[1])[:n]
