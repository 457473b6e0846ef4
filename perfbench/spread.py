#!/usr/bin/env python3
"""Run the benchmark on several seeds and print, per metric, the median,
quartiles, min/max and the quartile spread ((q3 - q1) / median) that the
bounds in BENCHMARK.json are judged against.

Usage: python3 perfbench/spread.py --workload made --seeds 1-10 \
           [--seconds 10] [--trace 0] [--out perfbench/out/spread-made.json]
"""

import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in seeds(a.seeds):
        p = subprocess.run([sys.executable, str(BENCH / "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        out = p.stdout.strip().splitlines()
        line = json.loads(out[-1])
        ctx = {k: v for k, _, v in (w.partition("=") for w in out[0].split())
               if k in ("load1_start", "load1_end", "cpu_steal")}
        runs.append({"seed": seed, "context": ctx, **line})
        print(f"seed {seed}: {' '.join(f'{k}={v}' for k, v in ctx.items())} "
              f"correct={line['correct']} "
              + " ".join(f"{k}={v['value']:.6g}"
                         for k, v in line["metrics"].items()), flush=True)
    print(f"{'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'min':>12} {'max':>12} {'spread':>8}")
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3, spread = stats.quartile_spread(vals)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "min": min(vals),
                         "max": max(vals), "spread": spread}
        print(f"{name:<28} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
              f"{min(vals):>12.6g} {max(vals):>12.6g} {spread:>8.4f}")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload,
                                           "runs": runs,
                                           "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
