#!/usr/bin/env python3
"""Split a JFR recording's CPU samples into forked and serial work.

    python3 tools/jfr_split.py recording.jfr --within 'graft.nn.Trainer$.step'

Reads the recording's `jdk.ExecutionSample` events through
`jfr print --json` and finds the caller: the thread whose samples have
the `--within` method (`<class>.<method>`, class names dotted) on their
stack. The window runs from the first to the last of those samples. In
it, the caller's samples inside the method are split into

  forked  a `java.util.stream` or ForkJoin frame is on the stack: the
          caller is running a parallel range or waiting for the pool;
  serial  the rest: work no other thread can share;

and every group is broken down by its innermost `graft` method (the
first frame, from the top of the stack, whose class is in `--package`).
The samples of the common pool's workers in the window follow. Record
with enough stack depth to reach the method, e.g.
`-XX:FlightRecorderOptions:stackdepth=128
-XX:StartFlightRecording=settings=profile,filename=r.jfr`.

Standard library only; writes nothing.
"""
import argparse
import json
import subprocess
import sys
from collections import Counter

FORK_PREFIXES = ("java.util.stream.", "java.util.concurrent.ForkJoin")
POOL_PREFIX = "ForkJoinPool.commonPool-worker"


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def instant(ts):
    """Nanoseconds of an ISO-8601 `...T hh:mm:ss.fffffffffZ` stamp, for
    ordering within one recording (the date is kept as a string key)."""
    day, clock = ts.rstrip("Z").split("T")
    hms, _, frac = clock.partition(".")
    h, m, s = (int(x) for x in hms.split(":"))
    return day, ((h * 60 + m) * 60 + s) * 10**9 + int((frac + "000000000")[:9])


def load(path, depth):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(depth),
         "--events", "jdk.ExecutionSample", path],
        check=True, capture_output=True, text=True).stdout
    samples = []
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        thread = v.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or "?"
        trace = v.get("stackTrace") or {"frames": []}
        frames = [frame_name(f) for f in trace["frames"]]
        samples.append((instant(v["startTime"]), name, frames))
    return samples


def innermost(frames, package):
    for f in frames:
        if f.startswith(package):
            return f
    return "(no %s frame)" % package.rstrip(".")


def table(title, counts, total, top):
    n = sum(counts.values())
    print(f"{title}: {n} samples ({100.0 * n / max(1, total):.1f}% of the caller's)")
    for name, k in counts.most_common(top):
        print(f"  {k:6d}  {100.0 * k / max(1, total):5.1f}%  {name}")
    if len(counts) > top:
        rest = n - sum(k for _, k in counts.most_common(top))
        print(f"  {rest:6d}  {100.0 * rest / max(1, total):5.1f}%  ({len(counts) - top} more)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--within", required=True,
                    help="method that bounds the window, e.g. 'graft.nn.Trainer$.step'")
    ap.add_argument("--package", default="graft.",
                    help="class prefix of the methods to attribute samples to")
    ap.add_argument("--top", type=int, default=15, help="rows per table")
    ap.add_argument("--stack-depth", type=int, default=256)
    a = ap.parse_args()

    samples = load(a.recording, a.stack_depth)
    inside = [s for s in samples if a.within in s[2]]
    if not inside:
        sys.exit(f"no sample has {a.within} on its stack")
    callers = Counter(s[1] for s in inside)
    caller = callers.most_common(1)[0][0]
    t0 = min(s[0] for s in inside if s[1] == caller)
    t1 = max(s[0] for s in inside if s[1] == caller)
    window = [s for s in samples if t0 <= s[0] <= t1]

    mine = [s for s in window if s[1] == caller]
    ours = [s for s in mine if a.within in s[2]]
    forked, serial = Counter(), Counter()
    for _, _, frames in ours:
        key = innermost(frames, a.package)
        if any(f.startswith(FORK_PREFIXES) for f in frames):
            forked[key] += 1
        else:
            serial[key] += 1
    workers = Counter(innermost(s[2], a.package) for s in window
                      if s[1].startswith(POOL_PREFIX))

    total = len(ours)
    print(f"caller thread {caller!r}: {len(mine)} samples in the window, "
          f"{total} inside {a.within}")
    table("serial", serial, total, a.top)
    table("forked", forked, total, a.top)
    n_workers = len({s[1] for s in window if s[1].startswith(POOL_PREFIX)})
    print(f"pool workers ({n_workers} threads): {sum(workers.values())} samples")
    for name, k in workers.most_common(a.top):
        print(f"  {k:6d}  {name}")


if __name__ == "__main__":
    main()
