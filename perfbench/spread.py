"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload extract_service --seeds 1-10 [--seconds 16]
                                [--trace 0] [--out perfbench/baseline.json --set 1]
    python3 perfbench/spread.py --compare perfbench/baseline.json

For every metric: the median over the runs, the quartiles from
``statistics.quantiles(values, n=4)`` and the spread (Q3 - Q1) / median.
With ``--out``, the runs are merged into that JSON file under the workload,
trace mode and set label, together with the host's core count and CPU
model.  ``--compare`` reads such a file and, for every workload with two or
more untraced sets, prints how much worse each later set's median of each
end-to-end metric is than the first set's, next to the metric's bound.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def compare(path: str, root: str) -> int:
    """1 when some set's median is worse than the first set's by more
    than the metric's bound, else 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    with open(path) as fh:
        sets: dict[str, list] = {}
        for key, entry in json.load(fh)["runs"].items():
            workload, trace, label = key.split("/")
            if trace == "trace0":
                sets.setdefault(workload, []).append((label, entry["summary"]))
    worst = 0.0
    for workload, entries in sets.items():
        (first, base), *later = sorted(entries)
        for label, summary in later:
            for name, m in spec.items():
                a, b = base[name]["median"], summary[name]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                worst = max(worst, worse - m["bound"])
                print(f"{workload} {name:<12} {first}: {a:10.4f}  {label}: {b:10.4f}  "
                      f"worse by {worse:+.4f}  bound {m['bound']}  "
                      f"spreads {base[name]['spread']:.4f} / {summary[name]['spread']:.4f}")
    return 1 if worst > 0 else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--compare", metavar="BASELINE")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--set", default="1", help="label of this set of runs in --out")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    if args.compare:
        return compare(args.compare, root)
    if not (args.workload and args.seeds):
        ap.error("--workload and --seeds are required")
    if args.seconds is None:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]

    runs = []
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=root,
        )
        lines = proc.stdout.strip().splitlines()
        walls = [ln.strip() for ln in lines if "op walls" in ln]
        print(f"seed {seed}: exit {proc.returncode} in {time.time() - t0:.1f} s  "
              f"{walls[0] if walls else ''}", flush=True)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
            return 1
        report = {}  # every "  <name> <value> <unit>" report line
        for ln in lines[:-1]:
            parts = ln.split()
            if ln.startswith("  ") and len(parts) == 3:
                try:
                    report[parts[0]] = [float(parts[1]), parts[2]]
                except ValueError:
                    pass
        runs.append({"seed": seed, "wall_s": time.time() - t0, "report": report,
                     **json.loads(lines[-1])})

    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
        med = statistics.median(values)
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                         "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
        print(f"{args.workload} {name:<28} median {med:12.4f}  spread {(q3 - q1) / med:.4f}  "
              f"values {' '.join(f'{v:.4g}' for v in values)}")

    if args.out:
        doc = {}
        if os.path.exists(args.out):
            with open(args.out) as fh:
                doc = json.load(fh)
        doc["host"] = {"nproc": len(os.sched_getaffinity(0)), "cpu": cpu_model()}
        doc.setdefault("runs", {})[f"{args.workload}/trace{args.trace}/set{args.set}"] = {
            "seconds": args.seconds, "date": time.strftime("%Y-%m-%d"),
            "summary": summary, "runs": runs,
        }
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
