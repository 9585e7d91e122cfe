"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload presencia_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (JVM start, session, input
generation from the seed, untimed warm-up) is timed as ``setup_s``; the
timed loop then runs closed-loop cycles of the workload's operations
(one client, ``local[4]``) until ``--seconds`` have passed, at least one
cycle. Every operation's output is checked. With ``--trace 1`` the run
times an untraced loop, a traced loop with spans around each layer's
public functions and a second untraced loop, and prints the per-layer
metrics; spans are written to ``.perfbench_work/traces/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
from metrics import END_TO_END, OPS, PER_LAYER  # noqa: E402

WORKLOADS = {
    "presencia_sync": "presencia",
    "bulk_merge": "bulk",
}


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_program() -> None:
    """Fail before doing any work when the program is not beside us."""
    for mod in ("presencia_etl_spark", "__spark_entry__"):
        if not (common.ROOT / mod).exists() and not (common.ROOT / f"{mod}.py").exists():
            print(f"perfbench: {mod} not found under {common.ROOT}", file=sys.stderr)
            sys.exit(2)


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 tiny: bool = False, corrupt: bool = False, spark=None,
                 work: Path | None = None) -> dict:
    """Run one workload; returns the result object (metrics include the
    human-readable op medians under ``ops``). When ``spark`` is given the
    session is reused and not stopped (self-test)."""
    mod = importlib.import_module(WORKLOADS[workload])
    work = work or common.WORK / f"{workload}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_env(work)
    t0 = time.perf_counter()
    own = spark is None
    get_spark_s = 0.0
    if own:
        spark, get_spark_s = common.start_spark(work)
    try:
        b = common.Bench(spark, seed, work, tiny=tiny, corrupt=corrupt)
        ctx: dict = {}
        mod.setup(b, ctx)
        setup_s = time.perf_counter() - t0
        b.reset_samples()
        mod.measure(b, ctx, seconds)
        mod.finish(b, ctx)
        ops = mod.op_metrics(b, ctx)
        cycle = mod.cycle_s(ops)
        layers = {}
        if trace:
            b.reset_samples()
            b.tracer = common.Tracer()
            mod.install_trace(b, ctx)
            try:
                mod.measure(b, ctx, seconds)
                traced_cycle = mod.cycle_s(mod.op_metrics(b, ctx))
                layers = mod.layer_metrics(b, ctx)
            finally:
                b.tracer.unpatch()
            b.tracer.dump(work.parent / "traces" / f"{workload}-{seed}.jsonl")
            b.tracer = None
            # The reference is an untraced loop run after the traced one:
            # it is at least as warm, so warm-up still under way cannot
            # read as a gain from tracing.
            b.reset_samples()
            mod.measure(b, ctx, seconds)
            mod.finish(b, ctx)
            reference = mod.cycle_s(mod.op_metrics(b, ctx))
            layers["trace.overhead_s"] = traced_cycle - reference
            layers["trace.overhead_ratio"] = (traced_cycle - reference) / reference
            layers["session.get_spark_s"] = get_spark_s
            layers["session.jvm_peak_rss_mb"] = common.jvm_peak_rss_mb(spark)
    finally:
        if own:
            common.stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
    ratio = b.failed / b.attempted if b.attempted else 1.0
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "setup_s": setup_s,
        "cycle_s": cycle,
        "ops": ops,
        "failed_ops_ratio": ratio,
        "errors": b.errors,
    }
    if trace:
        per_layer = {name: 0.0 for name, _ in PER_LAYER}
        per_layer.update(ops)
        per_layer.update(layers)
        per_layer["failed_ops_ratio"] = ratio
        result["per_layer"] = per_layer
    return result


def main(argv=None) -> int:
    args = parse(argv)
    require_program()
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    units = dict(END_TO_END + OPS)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# setup_s {res['setup_s']:.3f} s")
    print(f"# cycle_s {res['cycle_s']:.3f} s")
    for name, v in res["ops"].items():
        print(f"# {name[3:]} {v:.4f} {units[name]}")
    print(f"# failed_ops_ratio {res['failed_ops_ratio']:.4f} ({res['failed']}/{res['attempted']})")
    for e in res["errors"]:
        print(f"# error: {e}")
    if args.trace:
        layer_units = dict(PER_LAYER)
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in res["per_layer"].items()}
    else:
        metrics = {name: {"value": res[name], "unit": units[name]} for name, _ in END_TO_END}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
