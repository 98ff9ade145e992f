#!/usr/bin/env python3
"""One-off all-queries audit: each judged query once with .count() and once
with a full collect().

Usage (from the repository root):
  python3 perfbench/audit.py [--sf DIR] [--out FILE]

Not a workload: the benchmark never runs it. Each query first runs once
untimed with a full collect(), so its first-touch cost (JIT, memos,
per-query set-up) falls on neither timed action. It records, per query,
its source module and the time, Spark jobs, row count and error of both
timed actions as one JSON line (the first line is the run header), then
prints the totals. The session
is set up as graft.Bench sets up its own (tables, shared graph and token
memos), with the graph cache unset.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import run


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default=str(Path.home() / "testdata" / "sf0.1"))
    ap.add_argument("--out", default=str(run.BENCH / "results" / "audit_sf0.1.jsonl"))
    a = ap.parse_args()
    load_start = os.getloadavg()
    cp, jvm_opts, stamp = run.build()
    work = run.BUILD / "audit"
    tmp = run.BUILD / "tmp"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    cmd = run.java_cmd(cp, jvm_opts, tmp, ["--mode", "audit", "--sf", a.sf, "--out", str(work)])
    with open(work / "jvm.log", "w") as log:
        rc = run.run_group(cmd, timeout=4 * 3600, cwd=run.ROOT, stdout=log,
                           stderr=subprocess.STDOUT)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        sys.exit(f"audit JVM exited with {rc}; see {work / 'jvm.log'}")
    lines = (work / "audit.jsonl").read_text().splitlines()
    header = dict(json.loads(lines[0]), git_rev=run.git_rev(), source_sha1=stamp, xmx=run.XMX,
                  load_avg_start=load_start, load_avg_end=os.getloadavg())
    lines[0] = json.dumps(header)
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text("\n".join(lines) + "\n")
    recs = [json.loads(x) for x in lines[1:]]
    print(f"first touch (untimed in the totals below): {sum(r['warm_s'] for r in recs):.1f} s")
    for mode in ("count", "full"):
        ok = [r for r in recs if not r[f"{mode}_error"]]
        print(f"{mode}: {len(ok)}/{len(recs)} ok, {sum(r[f'{mode}_s'] for r in recs):.1f} s, "
              f"{sum(r[f'{mode}_jobs'] for r in recs)} jobs")
        for r in recs:
            if r[f"{mode}_error"]:
                print(f"  {mode} FAILED {r['query']}: {r[f'{mode}_error'][:160]}")


if __name__ == "__main__":
    main()
