#!/usr/bin/env python3
"""Run alternating parent/change benchmark pairs and judge a claimed gain.

For each seed, runs `perfbench/run.py --workload W --seed S --seconds T
--trace 0` once in each of two checkouts, the side that runs first
alternating by seed, and then prints:

  - each side's median and quartiles for every end-to-end metric;
  - the change's wins, losses and ties against the parent, pair by pair;
  - the claim verdict for `--claim`: the change must win at least 9 of 10
    pairs (the same share of any other count) and its median must beat the
    parent's by more than the parent's interquartile range;
  - every other metric's median move against its `BENCHMARK.json` bound;
  - whether the answers are the same bits on both sides, per seed:
    `bits_gap`, `qerr_*`, `final_nll_bits` and the `estimates` array.

Usage:
  python3 tools/pairs.py --parent ../parent --change . --workload made \\
      --seeds 11-20 --claim train_tuples_per_s [--seconds 10] [--out f.json]
  python3 tools/pairs.py --selftest

Quartiles are `statistics.quantiles(values, n=4)`, as perfbench/spread.py
reports them. Standard library only.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def better(parent, change, higher):
    """1 if the change is better, -1 if worse, 0 on a tie."""
    if change == parent:
        return 0
    return 1 if (change > parent) == higher else -1


def verdict(parent, change, higher):
    """The claim rule on paired runs: (wins, losses, ties, gap, iqr, met).
    `gap` is how far the change's median is better than the parent's;
    `iqr` is the parent's interquartile range."""
    outcomes = [better(p, c, higher) for p, c in zip(parent, change)]
    wins, losses = outcomes.count(1), outcomes.count(-1)
    q1, med_p, q3 = quartiles(parent)
    med_c = quartiles(change)[1]
    gap = (med_c - med_p) if higher else (med_p - med_c)
    iqr = q3 - q1
    met = 10 * wins >= 9 * len(outcomes) and gap > iqr
    return wins, losses, len(outcomes) - wins - losses, gap, iqr, met


def within_bound(parent, change, higher, bound):
    """(relative move of the median, worse by more than `bound`?)."""
    med_p, med_c = quartiles(parent)[1], quartiles(change)[1]
    if med_p == 0:
        return 0.0, med_c != 0 and better(med_p, med_c, higher) < 0
    move = (med_c - med_p) / abs(med_p)
    worse = -move if higher else move
    return move, worse > bound


def run_one(checkout, workload, seed, seconds):
    """One benchmark run: (metrics dict, raw result dict, correct)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{checkout} seed {seed} failed:\n{p.stderr[-2000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    raw_file = Path(checkout) / "perfbench" / "out" / f"{workload}-seed{seed}-trace0.json"
    raw = json.loads(raw_file.read_text())
    metrics = {k: v["value"] for k, v in line["metrics"].items()}
    return metrics, raw, line["correct"]


def answers(metrics, raw):
    """What must be identical bits on both sides of a pair."""
    return {"bits_gap": metrics.get("bits_gap"), "qerr_p50": metrics.get("qerr_p50"),
            "qerr_p90": metrics.get("qerr_p90"),
            "final_nll_bits": raw.get("final_nll_bits"), "estimates": raw.get("estimates")}


def report(runs, bench, claim):
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    names = [n for n in bounds if n in runs[0]["parent"]]
    print(f"{'metric':<20} {'parent q1 / median / q3':>36} "
          f"{'change q1 / median / q3':>36} {'ratio':>7} {'W/L/T':>8}")
    result = {"metrics": {}}
    for name in names:
        higher = bounds[name]["better"] == "higher"
        par = [r["parent"][name] for r in runs]
        chg = [r["change"][name] for r in runs]
        wins, losses, ties, gap, iqr, met = verdict(par, chg, higher)
        move, worse = within_bound(par, chg, higher, bounds[name]["bound"])
        qp, qc = quartiles(par), quartiles(chg)
        ratio = qc[1] / qp[1] if qp[1] else float("nan")
        print(f"{name:<20} {' / '.join(f'{v:.5g}' for v in qp):>36} "
              f"{' / '.join(f'{v:.5g}' for v in qc):>36} {ratio:>7.3f} "
              f"{f'{wins}/{losses}/{ties}':>8}")
        result["metrics"][name] = {"parent": qp, "change": qc, "wins": wins,
                                   "losses": losses, "ties": ties, "gap": gap,
                                   "parent_iqr": iqr, "claim_met": met, "move": move,
                                   "worse_than_bound": worse}
    print()
    if claim:
        m = result["metrics"][claim]
        print(f"claim {claim}: {m['wins']}/{len(runs)} wins, median gap "
              f"{m['gap']:.5g} vs parent IQR {m['parent_iqr']:.5g} -> "
              f"{'MET' if m['claim_met'] else 'NOT MET'}")
    for name in names:
        if name == claim:
            continue
        m = result["metrics"][name]
        print(f"{name}: median move {m['move']:+.2%}, bound {bounds[name]['bound']:.0%}"
              f" -> {'WORSE THAN BOUND' if m['worse_than_bound'] else 'ok'}")
    same = [r["seed"] for r in runs if r["parent_answers"] == r["change_answers"]]
    print(f"identical answers (bits_gap, qerr, final_nll_bits, estimates): "
          f"{len(same)}/{len(runs)} seeds")
    correct = all(r["parent_correct"] and r["change_correct"] for r in runs)
    print(f"every run correct: {correct}")
    result["identical_seeds"] = same
    result["all_correct"] = correct
    return result


def selftest():
    # Higher is better: 9 wins of 10, gap 11.5 vs IQR 2.5 -> met.
    par = [100, 101, 102, 103, 104, 100, 101, 102, 103, 104]
    chg = [112, 113, 114, 115, 116, 112, 113, 114, 115, 99]
    w, l, t, gap, iqr, met = verdict(par, chg, True)
    assert (w, l, t) == (9, 1, 0), (w, l, t)
    assert quartiles(par) == (100.75, 102.0, 103.25), quartiles(par)
    assert gap == 11.5 and iqr == 2.5 and met, (gap, iqr, met)
    # 8 wins of 10 is not enough, whatever the gap.
    chg8 = chg[:8] + [99, 99]
    assert verdict(par, chg8, True)[0] == 8 and not verdict(par, chg8, True)[5]
    # 10 wins but a gap inside the parent's IQR -> not met.
    spread = [10, 20, 30, 40, 50, 10, 20, 30, 40, 50]
    assert not verdict(spread, [v + 1 for v in spread], True)[5]
    # Lower is better, with a tie.
    w, l, t, gap, iqr, met = verdict([10, 10, 10, 10], [8, 8, 8, 10], False)
    assert (w, l, t) == (3, 0, 1) and gap == 2.0 and iqr == 0.0 and not met
    # Bounds: 30% worse on a higher-is-better metric breaks a 0.25 bound.
    assert within_bound([100, 100], [70, 70], True, 0.25) == (-0.3, True)
    assert within_bound([100, 100], [80, 80], True, 0.25)[1] is False
    assert within_bound([10.0, 10.0], [12.6, 12.6], False, 0.25)[1] is True
    assert within_bound([0.0, 0.0], [0.0, 0.0], False, 0.05) == (0.0, False)
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change", default=".")
    ap.add_argument("--workload", default="made")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--claim")
    ap.add_argument("--out")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.parent:
        ap.error("--parent is required")
    bench = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    runs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        r = {"seed": seed, "first": order[0]}
        for side in order:
            metrics, raw, correct = run_one(getattr(a, side), a.workload, seed, a.seconds)
            r[side], r[f"{side}_answers"], r[f"{side}_correct"] = metrics, answers(metrics, raw), correct
        runs.append(r)
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{k} {r['parent'][k]:.5g} -> {r['change'][k]:.5g}" for k in r["parent"]), flush=True)
    result = report(runs, bench, a.claim)
    if a.out:
        Path(a.out).write_text(json.dumps({"runs": runs, "summary": result}, indent=1))


if __name__ == "__main__":
    main()
