#!/usr/bin/env python3
"""Full-result query benchmark runner.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--sf DIR] [--out DIR]

Builds the repository and the benchmark's own main with sbt (once per
source state, under .bench_build/), runs one JVM that sets up a Spark
session and times the workload's queries with full `collect()` results,
checks every result against DuckDB running the query's oracle SQL, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones. The full result, with the run header and the
per-query ledger, is written to --out (default .bench_build/results/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(BENCH))

import oracle  # noqa: E402
import workloads  # noqa: E402

XMX = "4g"
JVM_TIMEOUT_S = 165


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha1()
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "project", ROOT / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        files += sorted(p for p in r.rglob("*")
                        if p.is_file() and "target" not in p.parts
                        and p.suffix in (".scala", ".java", ".sbt", ".properties"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns (classpath, jvm options)."""
    stamp = source_stamp()
    launch = BENCH / "target" / "launch.txt"
    stamp_file = BUILD / "stamp"
    if not (launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        BUILD.mkdir(exist_ok=True)
        with open(BUILD / "build.log", "w") as log:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/writeLaunch"],
                           cwd=BENCH, env=env, stdout=log, timeout=780)
        if rc != 0 or not launch.exists():
            die(f"build failed (exit {rc}); see {BUILD / 'build.log'}")
        stamp_file.write_text(stamp)
    lines = launch.read_text().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")], stamp


def java_cmd(cp, jvm_opts, tmp, args):
    """The benchmark JVM's command line."""
    return (["java"] + jvm_opts + [f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
                                   "-cp", cp, "perfbench.QueryBench"] + args)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def unstolen(wall_s, rec):
    """wall_s less the share of it the hypervisor stole from the CPUs.

    On a shared virtual machine a runnable vCPU is sometimes kept off its
    core; /proc/stat counts that time as steal. `rec` holds the steal
    and busy jiffies of all CPUs over the interval, and the stolen share
    is steal / (steal + busy). On a machine with no steal this is wall_s.
    """
    st, busy = rec["stolen_jiffies"], rec["busy_jiffies"]
    return wall_s * (1.0 - st / (st + busy)) if st + busy > 0 else wall_s


def median_sweep(lat):
    """One pass at each query's median latency: the sum over the
    workload's queries of each one's median over the timed passes.
    `lat` is a list of (query, latency) pairs."""
    by = {}
    for q, x in lat:
        by.setdefault(q, []).append(x)
    return sum(statistics.median(v) for v in by.values())


def end_to_end(res, failed, attempted, steal=True):
    adjust = unstolen if steal else (lambda x, _: x)
    lat = [(e["query"], adjust(e["wall_s"], e)) for e in res["execs"]]
    timed = [x for _, x in lat]
    return {
        "setup_s": (adjust(res["setup"]["setup_s"], res["setup"]), "s"),
        "sweep_s": (median_sweep(lat), "s"),
        "query_p50_s": (quantile(timed, 0.5), "s"),
        "query_p90_s": (quantile(timed, 0.9), "s"),
        "ok_frac": (1.0 - failed / attempted, "frac"),
    }


def per_pass(execs, passes, field):
    """Median over traced passes of the per-pass sum of one ledger field."""
    return statistics.median(sum(e[field] for e in execs if e["pass"] == p) for p in passes)


def per_layer(res):
    execs = [e for e in res["execs"] if e["traced"]]
    tp = sorted({e["pass"] for e in execs})
    up = [p["sweep_s"] for p in res["passes"] if not p["traced"]]
    tr = [p["sweep_s"] for p in res["passes"] if p["traced"]]
    sweep = statistics.median(tr)
    s = lambda f: per_pass(execs, tp, f)  # noqa: E731
    jobs, rows, wall = s("jobs"), s("rows"), s("wall_s")
    writes = [e for e in execs if e["write_mb"] > 0]
    written = sum(e["write_mb"] for e in writes)
    src = sum(e["source_tables_mb"] for e in writes)
    mean = lambda f: statistics.mean(e[f] for e in execs)  # noqa: E731
    return {
        "setup.session_s": (res["setup"]["session_s"], "s"),
        "setup.tables_s": (res["setup"]["tables_s"], "s"),
        "setup.warm_s": (res["setup"]["warm_s"], "s"),
        "queries.build_s": (s("build_s"), "s"),
        "queries.build_frac": (s("build_s") / wall, "frac"),
        "queries.eager_jobs": (s("eager_jobs"), "count"),
        "operators.collapsed_frac": (statistics.mean(1.0 if e["collapsed"] else 0.0 for e in execs),
                                     "frac"),
        "catalyst.analysis_ms": (mean("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (mean("optimization_ms"), "ms"),
        "catalyst.planning_ms": (mean("planning_ms"), "ms"),
        "exec.action_s": (s("action_s"), "s"),
        "exec.jobs": (s("action_jobs"), "count"),
        "exec.stages": (s("stages"), "count"),
        "exec.tasks": (s("tasks"), "count"),
        "exec.ms_per_job": (1000.0 * s("action_s") / max(s("action_jobs"), 1), "ms"),
        "exec.jobs_per_query": (jobs / len(res["header"]["queries"]), "count"),
        "tasks.run_s": (s("task_run_s"), "s"),
        "tasks.cpu_s": (s("task_cpu_s"), "s"),
        "tasks.core_util": (s("task_run_s") / (sweep * res["header"]["cpus"]), "frac"),
        "shuffle.write_mb": (s("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (s("shuffle_read_mb"), "MB"),
        "shuffle.spill_mb": (s("spill_mb"), "MB"),
        "tables.scan_mb": (s("scan_mb"), "MB"),
        "tables.rows_read_per_row_returned": (s("records_read") / max(rows, 1), "ratio"),
        "tables.write_mb": (s("write_mb"), "MB"),
        "tables.records_written": (s("records_written"), "count"),
        "tables.write_amp": (written / src if src else 0.0, "ratio"),
        "result.rows": (rows, "count"),
        "jvm.gc_s": (statistics.median(p["gc_s"] for p in res["passes"] if p["traced"]), "s"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "trace.overhead_frac": ((sweep - statistics.median(up)) / statistics.median(up), "frac"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=os.environ.get(
        "PERFBENCH_SF", str(Path.home() / "testdata" / "sf0.1")))
    ap.add_argument("--out", default=str(BUILD / "results"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no repository sources next to {BENCH.name}/ (need build.sbt and src/main/scala)")
    sf = Path(a.sf)
    if not sf.is_dir():
        die(f"scale-factor directory {sf} not found")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    load_start = os.getloadavg()
    cp, jvm_opts, stamp = build()
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    run_dir = BUILD / "runs" / tag
    tmp = BUILD / "tmp"
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    qfile = run_dir / "queries.txt"
    wl = workloads.WORKLOADS[a.workload]
    qfile.write_text("\n".join(wl["queries"]) + "\n")
    known = oracle.known_file(BUILD / "oracle", stamp, sf, run_dir)
    cmd = java_cmd(cp, jvm_opts, tmp, [
        "--mode", "bench", "--sf", str(sf), "--queries", str(qfile), "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(run_dir),
        "--known", str(known), "--min-execs", str(wl["min_execs"]),
        "--min-passes", str(wl["min_passes"]), "--warm-passes", str(wl["warm_passes"])])
    with open(run_dir / "jvm.log", "w") as log:
        rc = run_group(cmd, timeout=JVM_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    shutil.rmtree(tmp, ignore_errors=True)
    res_file = run_dir / "jvm_result.json"
    if rc != 0 or not res_file.exists():
        die(f"benchmark JVM exited with {rc}; see {run_dir / 'jvm.log'}", 1)
    res = json.loads(res_file.read_text())

    # Oracle check: every execution's fingerprint must be one DuckDB agreed with.
    verdicts = oracle.check(BUILD / "oracle", stamp, sf, res)
    execs = res["warm"] + res["execs"]
    failures = {}
    for e in execs:
        why = e["error"] or verdicts.get(f"{e['query']} {e['fp']}")
        if why:
            failures.setdefault(e["query"], why)
    timed = res["execs"]
    failed = sum(1 for e in timed if e["error"] or verdicts.get(f"{e['query']} {e['fp']}"))
    attempted = len(timed)
    metrics = per_layer(res) if a.trace else end_to_end(res, failed, attempted)

    jiffies = {k: sum(e[k] for e in timed) for k in ("stolen_jiffies", "busy_jiffies")}
    header = dict(res["header"], workload=a.workload, git_rev=git_rev(), source_sha1=stamp,
                  xmx=XMX, load_avg_start=load_start, load_avg_end=os.getloadavg(),
                  stolen_share=1.0 - unstolen(1.0, jiffies),
                  executions=attempted, passes=len(res["passes"]))
    summary = {"header": header, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
               "peak_rss_mb": res["peak_rss_mb"], "setup": res["setup"], "setup_jobs": res["setup_jobs"], "passes": res["passes"],
               "wall_unadjusted": {k: v for k, (v, _) in
                                   end_to_end(res, failed, attempted, steal=False).items()},
               "failures": failures, "correct": not failures, "attempted": attempted, "failed": failed}
    if a.trace:
        summary["ledger"] = [e for e in res["execs"] if e["traced"]]
    out = Path(a.out)
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{tag}.json").write_text(json.dumps(summary, indent=1) + "\n")
    if a.trace and (run_dir / "spans.jsonl").exists():
        shutil.copy(run_dir / "spans.jsonl", out / f"{tag}.spans.jsonl")
    shutil.rmtree(run_dir / "dumps", ignore_errors=True)
    for q, why in sorted(failures.items()):
        print(f"perfbench: FAIL {q}: {why}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": summary["metrics"]}))


if __name__ == "__main__":
    main()
