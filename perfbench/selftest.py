"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at a tiny size in one Spark session, first clean
with tracing on (every operation must pass and every per-layer metric
must be reported), then with a deliberately corrupted output (a deleted
warehouse file, a deleted MOR base file), which
must raise ``failed_ops_ratio``. Also checks that ``BENCHMARK.json``
lists exactly the metrics the code reports. Exits non-zero on any
failure.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOADS, require_program, run_workload  # noqa: E402


def main() -> int:
    problems = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    expect([m["name"] for m in spec["end_to_end"]] == [n for n, _ in END_TO_END],
           "BENCHMARK.json end_to_end matches metrics.END_TO_END")
    expect([m["name"] for m in spec["per_layer"]] == [n for n, _ in PER_LAYER],
           "BENCHMARK.json per_layer matches metrics.PER_LAYER")
    expect(sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS),
           "BENCHMARK.json workloads match run.WORKLOADS")

    require_program()
    work = common.WORK / "selftest"
    common.prepare_env(work)
    spark, _ = common.start_spark(work)
    try:
        for name in WORKLOADS:
            clean = run_workload(name, 1, 0.0, trace=True, tiny=True, spark=spark,
                                 work=work / f"{name}-clean")
            expect(clean["failed"] == 0 and clean["attempted"] > 0,
                   f"{name}: clean run {clean['failed']}/{clean['attempted']} failed "
                   f"{clean['errors'][:2]}")
            expect(set(clean["per_layer"]) == {n for n, _ in PER_LAYER},
                   f"{name}: traced run reports every per-layer metric")
            expect(all(clean[n] > 0 for n, _ in END_TO_END),
                   f"{name}: end-to-end metrics are positive")
            bad = run_workload(name, 1, 0.0, trace=True, tiny=True, corrupt=True,
                               spark=spark, work=work / f"{name}-corrupt")
            expect(bad["failed_ops_ratio"] > clean["failed_ops_ratio"],
                   f"{name}: corrupted output raises failed_ops_ratio "
                   f"({clean['failed_ops_ratio']:.3f} -> {bad['failed_ops_ratio']:.3f})")
    finally:
        common.stop_spark(spark)
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
