"""Benchmark entry point.

    python3 perfbench/run.py --workload {web_kg,query_mix} --seed N \
        --seconds S --trace {0,1} [--smoke] [--inject-mismatch]

Run from the root of a checkout. Prints a JSON line with the host-window
stamp and check details, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Exits 1 when
any answer is wrong, 2 when the engine is not in the checkout.

The work of a run is fixed: one pass with ``--trace 0``, the passes of
TRACED_PASSES with ``--trace 1``. ``--seconds`` belongs to the common
benchmark interface and is only recorded; a pass lasts 25-45 s on a 4-core
host.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_METRICS = {"wall_share": "fraction", "jobs": "count",
                 "shuffle_mb": "MB", "skew": "ratio"}
LAYER_EXTRAS = {
    "pipeline.extract": {"rows": "count", "html_mb": "MB"},
    "pipeline.relations": {"mentions": "count", "relations": "count",
                           "quads": "count", "text_scans": "count"},
    "operators.parse": {"entities": "count"},
    "operators.serialize": {"quads": "count"},
    "sources.nquads": {"out_mb": "MB"},
    "plans.sparql": {"rows": "count"},
    "plans.query": {"rows": "count"},
    "ops.graph": {"rows": "count"},
    "ops.dedup": {"candidate_pairs": "count"},
    "ops.similarity": {"rows": "count"},
    "ops.textstats": {"rows": "count"},
}
RUN_METRICS = {
    "pass_wall_s": "s", "unattributed_s": "s", "trace_overhead_s": "s",
    "driver_s": "s", "task_s": "s", "gc_s": "s", "jobs": "count",
    "shuffle_mb": "MB", "spill_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from perfbench.trace import LAYERS

    units = {"session.start_s": "s"}
    for layer in LAYERS:
        for m, u in {**LAYER_METRICS, **LAYER_EXTRAS.get(layer, {})}.items():
            units[f"{layer}.{m}"] = u
    for m, u in RUN_METRICS.items():
        units[f"run.{m}"] = u
    return units


def _workload(name: str):
    if name == "web_kg":
        from perfbench import web_kg as wl
    else:
        from perfbench import query_mix as wl
    return wl


def run_checked(wl, st, tag: str, args, tracer=None) -> list:
    """One pass, then its checks (outside the timed region, and in traced
    runs under their own job group). Returns ``[(name, s, ok, detail)]``."""
    timed = wl.run_pass(st, tag)
    if tracer is not None:
        tracer.begin_pass(f"{tag}-check")
    return [(name, s, *check(args.inject_mismatch)) for name, s, check in timed]


def measured(wl, st, args) -> tuple[list, dict]:
    """Exactly one pass, the first of the process. The pass count is fixed,
    never derived from ``--seconds``, so a faster pass cannot change what
    the metrics mean."""
    ops = run_checked(wl, st, "p1", args)
    return ops, {"first_pass_s": sum(s for _, s, _, _ in ops)}


# pass tag -> traced. A (cold) gives the per-layer numbers; the trace
# overhead is C - B. A fourth pass would cancel B's residual warm-up (a few
# seconds on web_kg, which makes the overhead read low) but would take a
# traced run past its time limit on a slow host.
TRACED_PASSES = (("A", True), ("B", False), ("C", True))
# a profile whose traced warm pass differs from the untraced one by more
# than this share of the untraced pass does not describe the measured program
MAX_TRACE_OVERHEAD = 0.25


def traced(wl, st, args, spark):
    """Run TRACED_PASSES (only A with ``--smoke``)."""
    import __spark_entry__ as entry
    from perfbench import trace

    tracer = trace.Tracer(spark)
    walls = {}
    ops: list = []
    for tag, on in TRACED_PASSES[:1] if args.smoke else TRACED_PASSES:
        if on:
            tracer.install(extra_modules=[entry])
        tracer.begin_pass(tag)
        res = run_checked(wl, st, tag, args, tracer)
        tracer.uninstall()
        walls[tag] = sum(s for _, s, _, _ in res)
        ops += res
    return ops, tracer, walls


def trace_overhead(walls: dict) -> tuple[float, float]:
    """(traced - untraced, untraced) warm-pass wall; (0, A) when only the
    cold pass ran."""
    if "C" not in walls:
        return 0.0, walls["A"]
    return walls["C"] - walls["B"], walls["B"]


def per_layer_result(tracer, walls, log_dir, static, start_s) -> tuple[dict, dict]:
    from perfbench import trace

    groups = trace.read_event_log(log_dir)
    table = trace.layer_table(tracer.spans, groups, "A", walls["A"], static)
    run = table["run"]
    run["trace_overhead_s"], untraced_s = trace_overhead(walls)
    run["driver_s"] = walls["A"] - trace.covered_s(
        [iv for k, g in groups.items() if k.startswith("A|") for iv in g.intervals]
    )
    run["bookkeeping_s"] = tracer.bookkeeping_s.get("A", 0.0)
    table["session"] = {"start_s": start_s}
    flat = {}
    for name in per_layer_units():
        layer, metric = name.rsplit(".", 1)
        row = table.get(layer, {})
        if metric == "wall_share":
            value = row.get("wall_s", 0.0) / walls["A"]
        else:
            value = row.get(metric, 0)
        flat[name] = value
    summary = {
        "layers": table,
        "top3_by_wall_s": trace.top_layers(table),
        "pass_walls_s": walls,
        "trace_overhead_share": abs(run["trace_overhead_s"]) / untraced_s,
        "reconciles": reconciles(run, untraced_s),
    }
    return flat, summary


def reconciles(run: dict, untraced_s: float) -> bool:
    """The layer walls partition the traced pass by construction; the
    profile reconciles with the measured program only when tracing also
    changed the pass by no more than MAX_TRACE_OVERHEAD of its wall."""
    return (0 <= run["unattributed_s"] < run["pass_wall_s"]
            and abs(run["trace_overhead_s"]) <= MAX_TRACE_OVERHEAD * untraced_s)


def _phases(t: float, marks: dict) -> dict:
    """Seconds between consecutive marks, starting at ``t``; ends with the
    stamp (which runs the hw_ceiling probe)."""
    out = {}
    for name, at in {**marks, "stamp": time.perf_counter()}.items():
        out[name], t = at - t, at
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("web_kg", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one pass, all checks on")
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="drop one row of every engine answer before checking")
    args = ap.parse_args(argv)
    load_before = os.getloadavg()[0]

    if not host.package_present():
        print("perfbench: rdf2hk_spark and __spark_entry__.py must sit in the "
              f"checkout root ({host.ROOT})", file=sys.stderr)
        return 2

    wl = _workload(args.workload)
    cpus = len(os.sched_getaffinity(0))
    work = host.work_dir(f"{args.workload}-s{args.seed}")
    log_dir = os.path.join(work, "eventlog") if args.trace else None

    with host.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = host.start_spark(cpus, log_dir)
        start_s = time.perf_counter() - t0
        try:
            st = wl.setup(spark, cpus, args.seed, work, args.smoke)
            setup_s = time.perf_counter() - T_START
            wl.references(st)
            marks = {"references": time.perf_counter()}
            if args.trace:
                ops, tracer, walls = traced(wl, st, args, spark)
            else:
                ops, e2e = measured(wl, st, args)
            marks["passes_and_checks"] = time.perf_counter()
        finally:
            rss.sample()
            host.stop_spark(spark)
    marks["stop"] = time.perf_counter()

    failed = sum(1 for _, _, ok, _ in ops if not ok)
    info = {
        "workload": args.workload,
        "stamp": host.stamp(args.seed, {"cpus": cpus, **wl.sizes(args.smoke)},
                            load_before),
        "seconds_arg": args.seconds,
        # where the run's wall time went, for sizing the run budget
        "phases_s": _phases(T_START + setup_s, marks),
        "error_rate": failed / len(ops),
        "ops": [{"name": n, "s": s, "ok": ok, **d} for n, s, ok, d in ops],
    }
    if args.trace:
        metrics, info["trace"] = per_layer_result(
            tracer, walls, log_dir, wl.static_layer_metrics(st), start_s
        )
        units = per_layer_units()
    else:
        metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb, **e2e}
        info["session_start_s"] = start_s
        info["peak_rss_parts_mb"] = rss.peak_parts_mb()
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
