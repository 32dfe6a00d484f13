"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ann --seed 7 --seconds 15 --trace 0

Runs one workload in this process against the sif_spark package of the
checkout it sits in, prints a report line (run environment, every metric
with its sample counts) and, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Exits 1 when an output check fails, 2 when the checkout has no sif_spark.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytic_mix", "cdc_ann")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "mem_mb": "MB",
}


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sif_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _environment(args, op_counts: dict) -> dict:
    import harness

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": harness.CORES,
        "driver_memory": harness.DRIVER_MEMORY,
        "git_sha": _git_sha(),
        "source_sha256": _source_digest(),
        "op_counts": op_counts,
        "python": sys.version.split()[0],
    }


def _measure(args, run, out: dict) -> tuple[dict, dict]:
    """(end-to-end metrics, report) from a finished workload; reads /proc
    and the JVM, so Spark must still be up."""
    from harness import kind_geomean, median, vm_hwm_kb

    by_kind = run.by_kind(None)
    e2e = {
        "setup_s": out["setup_s"],
        "pass_s": median(run.passes),
        "op_geomean_s": kind_geomean(by_kind),
        "mem_mb": run.mem_mb(),
    }
    # Workload-specific figures, reported beside the gated metrics: not
    # every workload has commits, reads or a change feed.
    figures = {
        "commit_p50_s": median(run.times("commit")),
        "freshness_p50_s": median([x for v in run.by_kind("freshness").values() for x in v]),
        "read_p50_s": median(run.times("read")),
        "query_geomean_s": kind_geomean(run.by_kind("query")),
        "fail_ratio": run.failed / max(run.attempted, 1),
        "peak_rss_mb": (vm_hwm_kb("self") + vm_hwm_kb(run.jvm_pid)) / 1024.0,
    }
    if "changed_rows" in out:
        figures["write_bytes_per_changed_row"] = out["written_bytes"] / max(out["changed_rows"], 1)
    report = {
        "environment": _environment(args, out["op_counts"]),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "figures": {k: v for k, v in figures.items() if not (isinstance(v, float) and math.isnan(v))},
        "passes_s": run.passes,
        "p50_by_kind_s": {k: median(v) for k, v in sorted(by_kind.items())},
        "samples_by_kind": {k: len(v) for k, v in sorted(by_kind.items())},
        "measured_s": run.phase[1] - run.phase[0],
        "problems": run.problems[:20],
    }
    report.update(out.get("report", {}))
    return e2e, report


def _per_layer(run, out: dict, e2e: dict) -> dict:
    import tracing

    tracer = run.tracer
    jobs, stages = tracing.fetch_status(run.spark)
    m = dict.fromkeys(tracing.per_layer_units(), 0.0)
    m.update(tracing.spark_metrics(run, jobs, stages))
    m.update(tracing.layer_metrics(tracer, run, jobs))
    m.update({k: v for k, v in run.cpu.items() if k in m})
    if "manifest" in out:
        path, first, last = out["manifest"]
        m.update(tracing.manifest_metrics(path, first, last, out["changed_rows"]))
        m["table.write_bytes_per_changed_row"] = out["written_bytes"] / max(out["changed_rows"], 1)
    for name, (query, start_s) in out.get("streams", {}).items():
        m.update(tracing.stream_metrics(query, name, run.phase, start_s))
    if "builds" in out:
        m.update(tracing.query_metrics(run, out["builds"], jobs))
    m.update(out.get("layer", {}))
    for k in ("setup_s", "pass_s", "op_geomean_s"):
        m[f"traced.{k}"] = e2e[k]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sif_spark", "__init__.py")):
        print(f"perfbench: no sif_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    import harness

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    workload = importlib.import_module(args.workload)
    run = harness.Run(args.workload, args.seed, args.seconds, ROOT, tracer)
    try:
        out = workload.run(run)
        e2e, report = _measure(args, run, out)
        per_layer = _per_layer(run, out, e2e) if tracer is not None else None
    finally:
        run.stop()
        if tracer is not None:
            tracer.uninstall()

    for k, v in e2e.items():
        if not (isinstance(v, (int, float)) and math.isfinite(v) and v > 0):
            run.check(False, f"end-to-end metric {k} = {v!r} is not a positive number")
    correct = not run.problems
    if per_layer is not None:
        units = tracing.per_layer_units()
        report["per_layer"] = per_layer
        metrics = {k: {"value": per_layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    report["correct"] = correct
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
