"""The benchmark of tei-chunker-spark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md for why each was chosen and what each metric
should move):

* ``extract_service``  -- ``extract_pipeline`` at the service config
  20000/200 over a seeded corpus; one operation is one pass.  Its traced
  run also measures ``manifest.run_resumable`` at the flagship config
  500/50 (a crash-and-resume cycle) and the N -> 4N scaling efficiency.
* ``operator_queries`` -- the ten headline ``__spark_entry__.queries()``
  over the fixed sf0.01 test tables in ``data/``; one operation is one
  sweep of the ten.

Every operation's output is checked.  The report lines name every figure
with its unit; the last line of stdout is one JSON object with the metrics
BENCHMARK.json declares: the end-to-end ones with ``--trace 0``, the
per-layer ones with ``--trace 1``.  The exit code is 1 when any check
failed.  The extraction corpus is made from ``--seed`` and cached under
``.perfbench_work/``; generating it is not part of any timing.  The
operator tables are fixed (``data/sf0.01``).
"""
from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("extract_service", "operator_queries")


def declared_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def run(workload: str, seed: int, seconds: float, trace: bool) -> harness.Bench:
    harness.prepare_env()
    mod = importlib.import_module(f"w_{workload}")
    b = harness.Bench(workload, seed, seconds, trace, T_START)
    try:
        mod.run(b)
    finally:
        b.shutdown()
    if b.attempted:
        b.put("failed_ops_frac", b.failed / b.attempted, "ratio")
    return b


def result(b: harness.Bench) -> dict:
    metrics = {}
    for m in declared_metrics(b.trace):
        value, unit = b.report[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit} != declared {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    return {
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    b = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"{b.workload} seed={b.seed} cores={b.cores} trace={int(b.trace)} "
          f"ops={b.attempted} failed={b.failed}")
    print("  untraced op walls (s): " + " ".join(f"{w:.3f}" for w in b.op_walls))
    for name in sorted(b.report):
        value, unit = b.report[name]
        print(f"  {name:<34} {value:>16.6g} {unit}")
    if b.trace:
        path = b.write_trace()
        print(f"  trace written to {os.path.relpath(path, harness.ROOT)}")
    out = result(b)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def entry() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-leg":
        # child process of a traced extract_service run
        harness.prepare_env()
        import w_extract_service

        return w_extract_service.leg_main(sys.argv[2:])
    return main()


if __name__ == "__main__":
    harness.become_subreaper()
    try:
        code = entry()
    finally:
        harness.reap_children()
    sys.exit(code)
