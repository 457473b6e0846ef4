#!/usr/bin/env python3
"""Benchmark: learned COUNT(*) answering through Spark SQL.

Each run builds the library with the benchmark (perfbench/build.sbt) if its
sources changed, starts one JVM with fixed heap, GC and processor flags,
and answers seeded `SELECT count(*) FROM lineitem WHERE ...` texts with the
GraftExtensions rule and a ProgressiveSampling estimator (2000 paths) over
a freshly trained model. It checks every answer and prints one JSON line.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload made --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selfcheck

Workloads: `made` (ResMADE, MaskedLinear kernels) and `transformer`
(Transformer, TDense and attention); both use the same table, query
generator and sampling budget. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run. `--selfcheck` checks
that the benchmark's wrappers leave losses and estimates bit-identical.
Raw samples, spans and JVM logs go to perfbench/out/.
"""

import argparse
import hashlib
import json
import os
import random
import signal
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
DATA_DIR = "/root/testdata/sf0.1"
SELFCHECK_DATA_DIR = "/root/testdata/sf0.001"
WORKLOADS = ("made", "transformer")
# local[k] with k <= nproc, and the JVM told the same count, so the
# library's fork-join chunking and Spark's task slots agree on both commits.
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
BUILD_TIMEOUT_S = 800
RUN_LIMIT_S = 175
DUCKDB_CHECKS = 5

ADD_OPENS = [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")]

# -XX:-UsePerfData: the JVM writes nothing outside the checkout.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             f"-XX:ActiveProcessorCount={CPUS}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={OUT / 'tmp'}"] + ADD_OPENS

END_TO_END = {
    "setup_s": "s",
    "train_tuples_per_s": "tuples/s",
    "bits_gap": "bits",
    "est_ms_p50": "ms",
    "est_ms_p90": "ms",
    "qerr_p50": "ratio",
    "qerr_p90": "ratio",
}

PER_LAYER = {
    "core.table_meta_s": "s",
    "core.encode_collect_s": "s",
    "core.rows_encoded": "count",
    "nn.train_s": "s",
    "nn.train_fwd_s": "s",
    "nn.train_loss_s": "s",
    "nn.train_bwd_s": "s",
    "nn.train_self_s": "s",
    "nn.fwd_calls_per_query": "calls/query",
    "nn.fwd_ms_p50": "ms",
    "nn.fwd_rows_per_s": "rows/s",
    "nn.fwd_param_gflops": "GFLOP/s",
    "nn.encode_ms_per_query": "ms/query",
    "nn.logits_ms_per_query": "ms/query",
    "est.query_ms_p50": "ms",
    "est.query_ms_p90": "ms",
    "est.self_ms_p50": "ms",
    "est.fwd_skip_ratio": "ratio",
    "est.qerr_max": "ratio",
    "plans.parse_ms_p50": "ms",
    "plans.analysis_ms_p50": "ms",
    "plans.optimize_self_ms_p50": "ms",
    "plans.planning_ms_p50": "ms",
    "plans.collect_ms_p50": "ms",
    "plans.rewrite_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_s": "s",
    "spark.task_s_max": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.slot_busy_ratio": "ratio",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.alloc_mb_per_query": "MB/query",
    "trace.est_ms_p50_untraced": "ms",
    "trace.est_ms_p50_traced": "ms",
    "trace.overhead_ms_p50": "ms",
    "trace.spans": "count",
    "trace.child_overruns": "count",
    "run.fail_frac": "ratio",
}


class BenchError(Exception):
    pass


def run_process(cmd, cwd, timeout, log_path, env=None):
    """Run cmd in its own process group with output to log_path; kill the
    whole group and wait for it if it outlives timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{cmd[0]} exceeded {timeout:.0f} s; log: {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        tail = Path(log_path).read_text(errors="replace")[-3000:]
        raise BenchError(f"{cmd[0]} exited {proc.returncode}; log tail:\n{tail}")


def source_digest():
    h = hashlib.sha256()
    files = [p for base in (ROOT / "src" / "main", BENCH / "src")
             for p in base.rglob("*") if p.is_file()]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + benchmark with sbt unless the sources are
    unchanged since the last build; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError(f"library sources not found under {ROOT / 'src'}")
    digest = source_digest()
    build_dir = OUT / "build"
    cp_file, stamp = build_dir / "classpath.txt", build_dir / "stamp"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx3g")
    log = build_dir / "sbt.log"
    run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S,
                log, env)
    lines = [ln.strip() for ln in log.read_text().splitlines()
             if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not lines:
        raise BenchError(f"no classpath in {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1], digest


def cpu_times():
    """(steal, total) jiffies of the machine, or None where unavailable."""
    try:
        # user nice system idle iowait irq softirq steal
        fields = [int(x) for x in Path("/proc/stat").read_text().split()[1:9]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def qerrors(r):
    """q-errors of the pass's answered queries (a failed one has none)."""
    return [stats.qerror(e, t) for e, t in zip(r["estimates"], r["truths"])
            if e >= 0]


def end_to_end(r):
    lat = [ns / 1e6 for ns in r["windows"]["measured"]["lat_ns"]]
    qerrs = qerrors(r)
    setup = r["setup"]
    p50, n, _ = stats.percentile(lat, 50)
    q50, nq, _ = stats.percentile(qerrs, 50)
    return {
        "setup_s": metric(setup["total_s"], "s", 1),
        "train_tuples_per_s": metric(int(r["train_rows"]) * int(r["epochs"])
                                     / setup["train_s"], "tuples/s", 1),
        "bits_gap": metric(r["final_nll_bits"] - r["table_bits"], "bits", 1),
        "est_ms_p50": metric(p50, "ms", n),
        "est_ms_p90": metric(stats.percentile(lat, 90)[0], "ms", n),
        "qerr_p50": metric(q50, "ratio", nq),
        "qerr_p90": metric(stats.percentile(qerrs, 90)[0], "ratio", nq),
    }


def load_spans(path):
    spans = []
    with open(path) as f:
        next(f)
        for line in f:
            i, name, start, end, parent, query, n = line.rstrip("\n").split("\t")
            spans.append({"id": int(i), "name": name, "start": int(start),
                          "end": int(end), "parent": int(parent),
                          "query": int(query), "n": int(n)})
    return spans


def per_layer(r, spans):
    by_name = defaultdict(list)
    for sp in spans:
        by_name[sp["name"]].append(sp)
    own = stats.self_times(spans)

    def dur(sp):
        return sp["end"] - sp["start"]

    def ms(name):
        return [dur(sp) / 1e6 for sp in by_name[name]]

    def p(values, q):
        return stats.percentile(values, q)[0]

    def seconds(name, value=dur):
        return sum(value(sp) for sp in by_name[name]) / 1e9

    queries = len(by_name["query"])
    fwd = by_name["nn.fwd"]
    fwd_rows = sum(sp["n"] for sp in fwd)
    fwd_s = sum(dur(sp) for sp in fwd) / 1e9
    est = by_name["est.query"]
    parse_by_query = {sp["query"]: dur(sp) for sp in by_name["plans.parse_probe"]}
    analysis = [(dur(sp) - parse_by_query[sp["query"]]) / 1e6
                for sp in by_name["plans.sql"]]
    jobs, stages, task_ms, task_ms_max, sh_read, sh_write, spill = (
        int(x) for x in r["setup"]["spark"])
    spark_wall = r["setup"]["table_meta_s"] + r["setup"]["encode_collect_s"]
    measured = r["windows"]["measured"]
    untraced = [ns / 1e6 for ns in measured["lat_ns"]]
    traced = [ns / 1e6 for ns in measured["traced_lat_ns"]]
    attempted = sum(w["attempted"] for w in r["windows"].values())
    failed = sum(w["failed"] for w in r["windows"].values())
    m = {
        "core.table_meta_s": seconds("core.table_meta"),
        "core.encode_collect_s": seconds("core.encode_collect"),
        "core.rows_encoded": int(r["rows_encoded"]),
        "nn.train_s": seconds("nn.train"),
        "nn.train_fwd_s": seconds("nn.train_fwd"),
        "nn.train_loss_s": seconds("nn.train_loss"),
        "nn.train_bwd_s": seconds("nn.train_bwd"),
        "nn.train_self_s": seconds("nn.train", lambda sp: own[sp["id"]]),
        "nn.fwd_calls_per_query": len(fwd) / queries,
        "nn.fwd_ms_p50": p(ms("nn.fwd"), 50),
        "nn.fwd_rows_per_s": fwd_rows / fwd_s,
        "nn.fwd_param_gflops": 2 * fwd_rows * int(r["param_count"]) / fwd_s / 1e9,
        "nn.encode_ms_per_query": sum(ms("nn.encode")) / queries,
        "nn.logits_ms_per_query": sum(ms("nn.logits")) / queries,
        "est.query_ms_p50": p(ms("est.query"), 50),
        "est.query_ms_p90": p(ms("est.query"), 90),
        "est.self_ms_p50": p([own[sp["id"]] / 1e6 for sp in est], 50),
        "est.fwd_skip_ratio": 1 - len(fwd) / (len(est) * int(r["nin"])),
        "est.qerr_max": max(qerrors(r)),
        "plans.parse_ms_p50": p(ms("plans.parse_probe"), 50),
        "plans.analysis_ms_p50": p(analysis, 50),
        "plans.optimize_self_ms_p50": p([own[sp["id"]] / 1e6
                                         for sp in by_name["plans.optimize"]], 50),
        "plans.planning_ms_p50": p(ms("plans.planning"), 50),
        "plans.collect_ms_p50": p(ms("plans.collect"), 50),
        "plans.rewrite_ratio": measured["rewritten"] / measured["attempted"],
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.task_s": task_ms / 1e3,
        "spark.task_s_max": task_ms_max / 1e3,
        "spark.shuffle_read_mb": sh_read / 2**20,
        "spark.shuffle_write_mb": sh_write / 2**20,
        "spark.spill_mb": spill / 2**20,
        "spark.slot_busy_ratio": task_ms / 1e3 / (spark_wall * int(r["cpus"])),
        "jvm.gc_s": int(measured["gc_ms"]) / 1e3,
        "jvm.heap_peak_mb": int(measured["heap_peak_bytes"]) / 2**20,
        "jvm.alloc_mb_per_query": int(measured["allocated_bytes"]) / 2**20
        / measured["attempted"],
        "trace.est_ms_p50_untraced": p(untraced, 50),
        "trace.est_ms_p50_traced": p(traced, 50),
        "trace.overhead_ms_p50": p(traced, 50) - p(untraced, 50),
        "trace.spans": len(spans),
        "trace.child_overruns": len(stats.overruns(spans)),
        "run.fail_frac": failed / attempted,
    }
    samples = {"nn.fwd_ms_p50": len(fwd), "est.query_ms_p50": len(est),
               "est.query_ms_p90": len(est), "est.self_ms_p50": len(est),
               "est.qerr_max": len(r["truths"]),
               "trace.est_ms_p50_untraced": len(untraced),
               "trace.est_ms_p50_traced": len(traced)}
    return {k: metric(v, PER_LAYER[k], samples.get(k, queries if k.startswith(
        ("nn.fwd", "nn.encode", "nn.logits", "est.", "plans.")) else 1))
        for k, v in m.items()}


def duckdb_check(r, seed):
    """Exact counts of a seeded handful of the pass's queries, recomputed
    by DuckDB on the same parquet; returns the mismatching indices."""
    import duckdb
    con = duckdb.connect(config={"threads": 2})
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                f"'{DATA_DIR}/lineitem.parquet')")
    picks = random.Random(seed).sample(range(len(r["where"])), DUCKDB_CHECKS)
    return [i for i in picks if con.execute(
        f"SELECT count(*) FROM lineitem WHERE {r['where'][i]}").fetchone()[0]
        != int(r["truths"][i])]


def selfcheck():
    cp, _ = build()
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    log = OUT / "selfcheck.log"
    run_process(["java"] + JVM_FLAGS + ["-cp", cp, "perfbench.SelfCheck",
                                        SELFCHECK_DATA_DIR,
                                        str(OUT / "spark-local")],
                ROOT, RUN_LIMIT_S, log)
    print("\n".join(ln for ln in log.read_text().splitlines()
                    if ln.startswith("[selfcheck]")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        return selfcheck()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    load1_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    cp, digest = build()
    started = time.time()
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = OUT / f"{tag}.json"
    spans_file = OUT / f"{tag}.json.spans.tsv"
    for stale in (result, spans_file):
        stale.unlink(missing_ok=True)
    run_process(["java"] + JVM_FLAGS + [
        "-cp", cp, "perfbench.Main", "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA_DIR, "--cpus", str(CPUS),
        "--out", str(result)], ROOT, RUN_LIMIT_S - (time.time() - started),
        OUT / f"{tag}.log")
    r = json.loads(result.read_text())

    attempted = sum(w["attempted"] for w in r["windows"].values())
    failed = sum(w["failed"] for w in r["windows"].values())
    problems = [e for w in r["windows"].values() for e in w["errors"]]
    unanswered = sum(1 for e in r["estimates"] if e < 0)
    if unanswered:
        problems.append(f"{unanswered} queries of the pass have no answer")
    mismatched = duckdb_check(r, a.seed)
    failed += len(mismatched)
    problems += [f"query {i}: Spark exact count {r['truths'][i]} "
                 f"disagrees with DuckDB" for i in mismatched]
    if a.trace:
        spans = load_spans(spans_file)
        metrics = per_layer(r, spans)
        if metrics["trace.child_overruns"]["value"]:
            problems.append("a child span lies outside its parent")
    else:
        metrics = end_to_end(r)
    correct = failed == 0 and not problems

    ctx = r["context"]
    cpu_end = cpu_times()
    steal = (f"{(cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1]):.4f}"
             if cpu_start and cpu_end else "n/a")
    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} "
          f"nproc={os.cpu_count()} cpus={CPUS} "
          f"jvm_processors={ctx['jvm_available_processors']} "
          f"heap={HEAP} jdk={ctx['jdk']!r} spark={ctx['spark']} "
          f"master={ctx['spark_master']} commit={git_commit()} "
          f"sources={digest[:16]} load1_start={load1_start:.2f} "
          f"load1_end={os.getloadavg()[0]:.2f} cpu_steal={steal}")
    print("# jvm_args: " + " ".join(arg for arg in ctx["jvm_args"]
                                    if "ALL-UNNAMED" not in arg))
    for p in problems[:20]:
        print(f"# FAILURE {p}")
    print(f"# attempted={attempted} failed={failed} "
          f"fail_frac={failed / attempted:.6f}")
    print(f"# {'metric':<28} {'value':>16} {'unit':<12} samples")
    for name, m in metrics.items():
        print(f"# {name:<28} {m['value']:>16.6g} {m['unit']:<12} {m['n']}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in metrics.items()}}))


if __name__ == "__main__":
    # A terminated run still stops the JVM or sbt it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
