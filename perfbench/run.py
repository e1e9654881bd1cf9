"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 15 --trace 0

Run from the repository root. Set-up (session start, input generation
and persisting, the program's own set-up, a warm-up operation unless the
workload times the session's first one) comes first and is reported as
``setup_s``; then operations run back to back
until ``--seconds`` of operation time have passed, each one's output is
checked, and the last line of standard output is one JSON object with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A traced run also writes every layer metric it measured
to ``.perfbench_work/trace/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

#: name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}
#: per-layer metrics every workload reports on standard output
PER_LAYER = {
    "session.start_s": "s",
    "inputs.gen_s": "s",
    "trace.overhead_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.max_task_skew": "ratio",
    "exec.busy_frac": "ratio",
    "exec.driver_gap_s": "s",
}
#: traced queries per search run
TRACED_QUERIES = 20
#: workload whose layers a traced run of the key workload also measures
SIDE = {"search_serve": "curate_docs"}
#: job groups of one operation, per workload
OP_GROUPS = {
    "crawl_fresh": ["frontier.claim", "frontier.run", "output.write"],
    "recrawl_chained": ["frontier.claim", "frontier.run", "output.write"],
    "curate_docs": ["pipeline.run"],
    "search_serve": ["search.query"],
}


def tail(walls: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its name; the maximum when that percentile would not be above the
    median (fewer than 21 samples)."""
    s = sorted(walls)
    n = len(s)
    if n < 21:
        return s[-1], "max"
    return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}"


def measure(wl, seconds: float) -> dict:
    """Operations back to back until ``seconds`` of operation time."""
    walls, rates, errors = [], [], []
    busy, i = 0.0, 0
    while busy < seconds:
        t0 = time.perf_counter()
        try:
            wall, items, err = wl.op(i)
        except Exception:
            traceback.print_exc()
            wall, items, err = time.perf_counter() - t0, 0.0, "raised"
        walls.append(wall)
        rates.append(items / wall)
        if err:
            errors.append(err)
        busy += wall
        i += 1
    if hasattr(wl, "check_all"):
        errors += wl.check_all()
    for e in errors[:5]:
        print(f"check failed: {e}", file=sys.stderr)
    return {"walls": walls, "rates": rates, "busy": busy, "attempted": i, "failed": len(errors)}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "thecrowler_spark", "__init__.py")):
        print("run from the repository root: thecrowler_spark/ not found", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import env
    from tracing import EventLog, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    env.pin(root)
    base = env.work_dir(root)
    work = os.path.join(base, "run")
    cache = os.path.join(base, "cache")
    trace_dir = os.path.join(base, "trace")
    events = os.path.join(trace_dir, "events")
    cls = WORKLOADS[args.workload]
    baseline_path = cls(None, work, cache, args.seed, None).cache_path("untraced")
    if args.trace and cls.cold and cold_baseline(baseline_path, args.seed) is None:
        # the traced operation is the session's first, so its untraced
        # twin must be too: with no untraced run in this checkout to
        # compare with, make one first
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=root, stdout=sys.stderr, check=True,
        )
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(events, ignore_errors=True)

    spark, start_s = env.start_session(root, events if args.trace else None)
    try:
        tracer = Tracer(spark, enabled=False)
        wl = cls(spark, work, cache, args.seed, tracer)
        phases = {"session.start_s": start_s}
        phases.update(wl.setup())
        t0 = time.perf_counter()
        phases.update(wl.program_setup())
        phases["program_setup_s"] = time.perf_counter() - t0
        wl.expected()
        if not wl.cold:
            t0 = time.perf_counter()
            wl.warmup()
            phases["warmup_s"] = time.perf_counter() - t0
        setup_s = start_s + phases["inputs.gen_s"] + phases["program_setup_s"] + phases.get("warmup_s", 0.0)
        print(f"{args.workload} seed {args.seed}: set-up phases "
              f"{json.dumps({k: round(v, 3) for k, v in phases.items()})}", file=sys.stderr)

        attempted = failed = 0
        e2e = {}
        if not (args.trace and wl.cold):
            m = measure(wl, args.seconds)
            attempted, failed = m["attempted"], m["failed"]
            walls = m["walls"]
            tail_s, tail_name = tail(walls)
            e2e = {
                "setup_s": setup_s,
                # a closed loop's throughput; a batch job's median rate
                "items_per_s": m["attempted"] / m["busy"] if wl.name == "search_serve"
                else statistics.median(m["rates"]),
                "op_p50_ms": 1000.0 * statistics.median(walls),
                "op_tail_ms": 1000.0 * tail_s,
                "peak_rss_mb": env.jvm_peak_rss_mb(spark),
                "ok_frac": (attempted - failed) / attempted,
            }
            print(f"{args.workload} seed {args.seed}: {attempted} operations, "
                  f"op_tail_ms is the {tail_name}", file=sys.stderr)
        if args.trace:
            if wl.cold:
                baseline, basis = cold_baseline(baseline_path, args.seed)
            else:
                baseline, basis = statistics.median(walls), "same run"
            layers, n, bad = traced(wl, tracer, baseline)
            layers["trace.overhead_basis"] = basis
            attempted, failed = attempted + n, failed + bad
            layers.update(phases)
            if e2e:
                layers.update(e2e, op_tail_percentile=tail_name)
            groups, spans = OP_GROUPS[args.workload], dict(tracer.spans)
        else:
            os.makedirs(cache, exist_ok=True)
            with open(baseline_path, "w") as f:
                json.dump({"op_p50_s": e2e["op_p50_ms"] / 1000.0}, f)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        env.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        log = EventLog(events)
        op = log.summary(groups, [iv for g in groups for iv in spans.get(g, [])])
        layers.update({f"exec.{k}": v for k, v in op.items()})
        layers.update(layer_events(log, spans, tracer.counts))
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "item": wl.item,
                       "metrics": layers}, f, indent=1, sort_keys=True)
        print(f"per-layer metrics written to {path}", file=sys.stderr)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def cold_baseline(path: str, seed: int) -> tuple[float, str] | None:
    """Median operation time of earlier untraced runs in this checkout:
    of the same seed if there is one, else of every other seed."""
    same = [path] if os.path.exists(path) else []
    d, name = os.path.split(path)
    runs = same or glob.glob(os.path.join(d, name.replace(f"-s{seed}-", "-s*-", 1)))
    if not runs:
        return None
    times = []
    for r in runs:
        with open(r) as f:
            times.append(json.load(f)["op_p50_s"])
    return statistics.median(times), "same seed" if same else f"median of {len(runs)} other seeds"


def traced_ops(wl, tracer) -> tuple[list[float], int]:
    """Operations of ``wl`` with tracing on; records how many ran and the
    result rows they returned. Returns their wall times and how many
    failed their check."""
    n = TRACED_QUERIES if wl.name == "search_serve" else 1
    walls, errors = [], []
    for i in range(n):
        wall, _, err = wl.op(10_000 + i)
        walls.append(wall)
        if err:
            errors.append(err)
    tracer.counts[wl.name] = (n, sum(len(got) for _, got in getattr(wl, "results", [])))
    if hasattr(wl, "check_all"):
        errors += wl.check_all()
    for e in errors[:5]:
        print(f"traced {wl.name} check failed: {e}", file=sys.stderr)
    return walls, len(errors)


def traced(wl, tracer, baseline_s: float) -> tuple[dict, int, int]:
    """Traced operations, then the layer probes, then the layers of the
    side workload (set up untraced, then its first operation traced in
    the same session, with no warm-up of its own: a warm-up pipeline job
    would cost as much again). ``baseline_s`` is the untraced operation's median
    wall time on the same seed. Returns the layer metrics and the
    operations attempted and failed."""
    from workloads import WORKLOADS

    tracer.enabled = True
    walls, failed = traced_ops(wl, tracer)
    layers = {"trace.overhead_s": statistics.median(walls) - baseline_s}
    layers.update(wl.probe())
    attempted = len(walls)
    side_name = SIDE.get(wl.name)
    if side_name:
        side = WORKLOADS[side_name](wl.spark, os.path.join(wl.work, side_name), wl.cache_dir, wl.seed, tracer)
        tracer.enabled = False
        side.setup()
        layers.update(side.program_setup())
        side.expected()
        tracer.enabled = True
        side_walls, side_failed = traced_ops(side, tracer)
        attempted, failed = attempted + len(side_walls), failed + side_failed
        layers[f"{side_name}.op_p50_ms"] = 1000.0 * statistics.median(side_walls)
        layers.update(side.probe())
    for name, (n, _) in tracer.counts.items():
        for g in OP_GROUPS[name]:
            layers[g + "_s"] = tracer.seconds(g) / n
    return layers, attempted, failed


def layer_events(log, spans: dict, counts: dict) -> dict:
    """Per-layer numbers from the event log, by the spans' job groups."""
    def summ(*groups):
        return log.summary(list(groups), [iv for g in groups for iv in spans.get(g, [])])

    out = {}
    if "crawl_fresh" in counts or "recrawl_chained" in counts:
        run, write = summ("frontier.run"), summ("output.write")
        out.update({
            "frontier.jobs": run["jobs"],
            "frontier.driver_gap_s": run["driver_gap_s"],
            "frontier.busy_frac": run["busy_frac"],
            "state.write_jobs": run["write_jobs"],
            "state.write_s": run["write_s"],
            "state.bytes_written_mb": run["bytes_written_mb"],
            "state.write_amp": run["bytes_written_mb"] / write["bytes_written_mb"]
            if write["bytes_written_mb"] else 0.0,
            "seen.udf_mb": summ("seen.build", "seen.probe", "seen.insert")["python_mb"],
        })
    if "search_serve" in counts:
        q = summ("search.query")
        n, results = counts["search_serve"]
        out.update({
            "search.jobs_per_query": q["jobs"] / n,
            "search.exec_ms": 1000.0 * q["task_s"] / n,
            "search.driver_ms": 1000.0 * q["driver_gap_s"] / n,
            "search.rows_scanned_per_result": q["records_read"] / max(1, results),
        })
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
