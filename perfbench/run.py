"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run starts its own Spark session
(see ``session.py``), stages seeded inputs, warms up by repeating the
workload's own op, then measures ops in a closed loop for ``--seconds``
of op time, checking every measured op's output against the DuckDB
oracle.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The line before it describes the run: machine,
versions, Spark confs, the setup split, warm-up and per-kind op counts,
and every measured op's time.

The traced run measures three half-length windows: untraced; then, after
restarting Spark in the same JVM with its event log on, traced, with
spans around every layer call, followed by the workload's probes; then
untraced again.  ``trace.overhead_ratio`` compares the traced window
with the two untraced ones.  Spans and per-layer numbers are also
written to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _measure(wl, first_op: int, seconds: float, min_cycles: int = 1) -> list:
    """Closed loop from op ``first_op`` until the ops' own time reaches
    ``seconds``, at least ``min_cycles`` cycles ran and the current
    cycle is complete."""
    samples = []
    timed = 0.0
    i = first_op
    while (
        timed < seconds
        or len(samples) < min_cycles * wl.ops_per_cycle
        or (i - first_op) % wl.ops_per_cycle
    ):
        s = wl.op(i, check=True)
        samples.append(s)
        timed += s.seconds
        i += 1
    return samples


def _by_kind(samples) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s.kind, []).append(s.seconds)
    return out


def _end_to_end(wl, samples, setup_s: float) -> dict[str, float]:
    timed = sum(s.seconds for s in samples)
    # median over cycles of the mean op time in a cycle: a graph_rw cycle
    # mixes op kinds of different cost, and a median over single ops
    # would jump between them
    n = wl.ops_per_cycle
    cycles = [samples[i:i + n] for i in range(0, len(samples), n)]
    return {
        "setup_s": setup_s,
        "throughput_per_s": len(samples) * wl.work_per_op / timed,
        "op_p50_s": statistics.median(sum(s.seconds for s in c) / n for c in cycles),
    }


def _overhead(wl, untraced, traced) -> float:
    """Traced over untraced time of one cycle, from per-kind medians."""
    u, t = _by_kind(untraced), _by_kind(traced)
    num = sum(n * statistics.median(t[k]) for k, n in wl.cycle_mix.items())
    den = sum(n * statistics.median(u[k]) for k, n in wl.cycle_mix.items())
    return num / den


def _restart(wl, work: str, first_op: int, event_log_dir: str | None = None) -> int:
    """Start a new SparkContext in the same JVM, so JIT state carries over;
    one untraced cycle re-warms its new Python workers.  Returns the
    next op id."""
    from perfbench import session, trace

    wl.spark.stop()
    wl.bind(session.start(work, event_log_dir), trace.Tracer())
    for i in range(first_op, first_op + wl.ops_per_cycle):
        wl.op(i, check=False)
    return first_op + wl.ops_per_cycle


def _traced(wl, work: str, first_op: int, window: float, untraced: list, spec: dict):
    """The traced run after its first untraced window: a traced window
    with the event log on and the probes, then a second untraced window,
    so warm-up drift cancels in ``trace.overhead_ratio``."""
    from perfbench import session, trace

    log_dir = os.path.join(work, "event-log")
    next_op = _restart(wl, work, first_op, log_dir)
    tracer = trace.Tracer(wl.spark)
    wl.bind(wl.spark, tracer)
    traced = _measure(wl, next_op, window)
    op_ids = list(range(next_op, next_op + len(traced)))
    probe_ok = wl.probe()
    rss_mb = trace.peak_rss_mb()
    after = _measure(wl, _restart(wl, work, op_ids[-1] + 1), window)
    session.shutdown()

    groups = trace.parse_event_log(trace.event_log_file(log_dir))
    metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
    metrics.update(wl.layer_metrics(groups, tracer, op_ids))
    # Spark engine totals per traced op
    in_ops = [g for (_, op), g in groups.items() if op in set(op_ids)]
    metrics["spark.gc_s"] = sum(g.gc_s for g in in_ops) / len(traced)
    metrics["spark.executor_cpu_s"] = sum(g.cpu_s for g in in_ops) / len(traced)
    metrics["spark.spill_bytes"] = sum(g.spill_bytes for g in in_ops) / len(traced)
    metrics["trace.overhead_ratio"] = _overhead(wl, untraced + after, traced)
    metrics["peak_rss_mb"] = rss_mb
    unknown = set(metrics) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return metrics, traced + after, probe_ok, tracer.spans


def run(args, work: str, spec: dict) -> tuple[dict, dict]:
    from perfbench import session
    from perfbench.workloads import WORKLOADS

    clock = [time.perf_counter()]
    spark = session.start(work)
    clock.append(time.perf_counter())
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    wl.stage()
    clock.append(time.perf_counter())
    for i in range(wl.warmup_ops):
        wl.op(i, check=False)
    clock.append(time.perf_counter())
    setup_s = clock[-1] - clock[0]
    if args.trace:
        # three windows (untraced, traced, untraced) of half the length,
        # to stay near the untraced run's duration
        window, min_cycles = args.seconds / 2, 1
    else:
        window, min_cycles = args.seconds, wl.min_cycles
    samples = _measure(wl, wl.warmup_ops, window, min_cycles)
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "input_rows": wl.rows,
        "warmup_ops": wl.warmup_ops,
        "setup_parts_s": {
            part: round(b - a, 3)
            for part, a, b in zip(("session", "stage", "warmup"), clock, clock[1:])
        },
        "measured_ops": len(samples),
        "op_seconds": [round(s.seconds, 3) for s in samples],
        "op_p50_s_by_kind": {k: statistics.median(v) for k, v in _by_kind(samples).items()},
        "ops_by_kind": {k: len(v) for k, v in _by_kind(samples).items()},
        "environment": session.environment(),
        "conf": session.settings(work),
    }
    failed = 0
    if not args.trace:
        session.shutdown()
        metrics = _end_to_end(wl, samples, setup_s)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        metrics, more, probe_ok, spans = _traced(
            wl, work, wl.warmup_ops + len(samples), window, samples, spec
        )
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        samples = samples + more
        failed += not probe_ok
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({
                "info": info,
                "metrics": metrics,
                "spans": [vars(s) for s in spans],
            }, f, indent=1)
    failed += sum(not s.ok for s in samples)
    result = {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return info, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "jsonld_ex_spark", "__init__.py")):
        print(f"no jsonld_ex_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    # the Python workers Spark forks must import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        path for path in (ROOT, os.environ.get("PYTHONPATH")) if path
    )
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    try:
        info, result = run(args, work, spec)
    finally:
        from perfbench import session

        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
