"""Benchmark entry point.

    python3 cdcbench/run.py --workload backfill_cow --seed 1 --seconds 20 --trace 0

Runs one workload on one ``local[nproc]`` session from the root of a
checkout, checks every sink against an independent reference, prints a
report and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(the traced run also reports its overhead against the last untraced run
of the same workload and seed). ``--selftest`` corrupts one sink row
before the check and exits 0 only if the check catches it.

Everything the run writes lives under ``.cdcbench/`` in the checkout; the
work directory is deleted when the run ends.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("backfill_cow", "tail_fanout", "mor_serve", "commit_log")
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
    "space_amp": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("embulk_filter_copy_spark") is None:
        print(f"engine package embulk_filter_copy_spark not found under {ROOT}", file=sys.stderr)
        return 2

    import harness
    import tracing
    from workloads import WORKLOADS, Ctx

    ticks0 = harness.cpu_ticks()
    state = os.path.join(ROOT, ".cdcbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    tracer = spark = None
    try:
        t = time.time()
        spark = harness.start_session(work, event_log)
        ctx = Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds, work=work,
            tracer=None, corrupt=args.selftest,
        )
        ctx.setup["session_s"] = time.time() - t
        if args.trace:
            tracer = ctx.tracer = tracing.Tracer()
            tracer.install()
        try:
            out = WORKLOADS[args.workload](ctx)
        finally:
            if tracer is not None:
                tracer.uninstall()
        rss = harness.peak_rss_mb(spark)
        steal, total = (b - a for a, b in zip(ticks0, harness.cpu_ticks()))
        host = {
            "nproc": harness.nproc(),
            "spark": spark.version,
            "python": platform.python_version(),
            "driver_heap": harness.DRIVER_HEAP,
            "work_fs": harness.fs_type(work),
            "cpu_steal_frac": steal / total if total else 0.0,
        }
        harness.stop_session(spark)
        e2e = {
            "setup_s": out.first_timed_at - PROCESS_START - ctx.setup["gen_s"],
            "op_p50_s": harness.median(out.op_walls),
            "work_per_s": out.work_units / sum(out.op_walls),
            "peak_rss_mb": rss,
            "space_amp": out.space_amp,
        }
        failed = sum(1 for c in out.checks if not c["ok"])
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host, "setup": ctx.setup,
            "end_to_end": e2e, "details": details(args.workload, out),
            "checks": out.checks,
        }
        if args.trace:
            log = tracing.read_event_log(event_log)
            layer = tracing.layer_metrics(tracer, out.layer, log, host["nproc"], ctx.setup)
            report["per_layer"] = layer
            report["self_time"] = tracing.self_time_table(tracer)
            report["trace_overhead"] = overhead(state, args, e2e)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in tracing.PER_LAYER.items()}
            tracer.dump(os.path.join(state, f"spans-{args.workload}.json"))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        report["run_wall_s"] = time.time() - PROCESS_START
        report["after_timed_s"] = time.time() - out.op_windows[-1][1]
        with open(os.path.join(state, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        print_report(report)
        if args.selftest:
            print(f"selftest: {failed} check(s) failed after corrupting one row", file=sys.stderr)
            return 0 if failed else 1
        print(json.dumps({
            "correct": failed == 0,
            "attempted": out.ops + len(out.checks),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def details(workload: str, out) -> dict:
    """Workload-specific figures, named as in README.md. Tail percentiles
    appear only where a run has at least ten samples beyond p75."""
    from harness import median, tail

    d: dict = {"op_samples": len(out.op_walls)}
    tl = tail(out.op_walls)
    if tl:
        d["op_tail"] = tl
    ex = out.extra
    if workload in ("backfill_cow", "tail_fanout"):
        d["epoch_p50_s"] = median(out.op_walls)
        key = "events_per_s" if workload == "backfill_cow" else "sink_applies_per_s"
        d[key] = out.work_units / sum(out.op_walls)
        d["epochs_timed"] = ex["epochs_timed"]
        d["epoch_walls_s"] = out.op_walls
    elif workload == "mor_serve":
        d["events_per_s"] = out.work_units / sum(ex["apply_walls"])
        d["lookup_p50_s"] = median(ex["lookup_walls"])
        tl = tail(ex["lookup_walls"])
        if tl:
            d["lookup_tail"] = tl
        d["feed_read_p50_s"] = median(ex["feed_walls"])
        d["compact_p50_s"] = median(ex["compact_walls"])
    elif workload == "commit_log":
        d["commit_p50_s"] = median(out.op_walls)
        if tl:
            d["commit_tail"] = tl
        d["meta_bytes_per_commit"] = ex["meta_bytes_per_commit"]
    return d


def overhead(state: str, args, e2e: dict) -> dict:
    """Traced minus untraced for every end-to-end metric, against the last
    untraced run of the same workload and seed in this checkout."""
    path = os.path.join(state, f"last-{args.workload}-trace0.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload in this checkout yet"}
    with open(path) as f:
        base = json.load(f)
    if base.get("seed") != args.seed or base.get("seconds") != args.seconds:
        return {"note": "last untraced run used another seed or --seconds"}
    return {
        k: {"traced": v, "untraced": base["end_to_end"][k], "diff": v - base["end_to_end"][k]}
        for k, v in e2e.items()
    }


def print_report(r: dict) -> None:
    h = r["host"]
    print(
        f"# {r['workload']} seed={r['seed']} seconds={r['seconds']} trace={r['trace']}"
        f" | nproc={h['nproc']} spark={h['spark']} python={h['python']}"
        f" heap={h['driver_heap']} work_fs={h['work_fs']}"
        f" cpu_steal={h['cpu_steal_frac']:.3f}"
    )
    for c in r["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c}")
    for k, v in r["end_to_end"].items():
        print(f"{k} = {v:.6g} {E2E_UNITS[k]}")
    print("setup parts: " + ", ".join(
        f"{k}={v:.3f}" for k, v in r["setup"].items() if isinstance(v, float)
    ))
    print(f"run wall = {r['run_wall_s']:.1f} s, of which {r['after_timed_s']:.1f} s after"
          " the timed phase (checks, space, shutdown)")
    for k, v in r["details"].items():
        if isinstance(v, dict):
            print(f"{k} = p{v['pct']} {v['value']:.6g} s over {v['samples']} samples"
                  f" ({v['beyond']} beyond)")
        elif not isinstance(v, list):
            print(f"{k} = {v:.6g}")
    if "per_layer" in r:
        import tracing

        for k, v in r["per_layer"].items():
            print(f"{k} = {v:.6g} {tracing.PER_LAYER[k]}")
        print("self time by span (count, total s, self s):")
        for k, v in sorted(r["self_time"].items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {k:28s} {v['count']:5d} {v['total_s']:9.3f} {v['self_s']:9.3f}")
        print(f"trace overhead: {json.dumps(r['trace_overhead'])}")


if __name__ == "__main__":
    sys.exit(main())
