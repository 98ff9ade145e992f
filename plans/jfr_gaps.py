#!/usr/bin/env python3
"""Where a query's DataFrame build spends the time its Spark jobs do not.

Usage:
  python3 plans/jfr_gaps.py RECORDING SPANS

RECORDING is a JFR file (read with `jfr print --json --events
jdk.ExecutionSample`) or that command's saved JSON output. SPANS is the
`.spans.jsonl` file a traced perfbench run (`--trace 1`) writes next to
its result. Recipe: README, "Driver paths".

For each query it prints, per timed execution (median over executions):
  build_ms  the `queries.build` span
  jobs_ms   the part of it covered by Spark jobs
  gap_ms    build_ms - jobs_ms: driver-side work (replicas, Catalyst)
and the main-thread execution samples that fall inside a build span and
outside every job, bucketed by the first frame, from the top of the
stack, that names one of:
  decimal   java.math, jdk.internal.math (BigDecimal, Double.toString)
  catalyst  org.apache.spark.sql.catalyst
  graft     graft
  other     none of these
"""
import argparse
import bisect
import collections
import datetime
import json
import statistics
import subprocess
import sys

BUCKETS = (
    ("decimal", ("java/math/", "jdk/internal/math/")),
    ("catalyst", ("org/apache/spark/sql/catalyst/",)),
    ("graft", ("graft/",)),
)


def load_samples(path):
    """Main-thread execution samples as (epoch µs, bucket), time-sorted."""
    if path.endswith(".jfr"):
        out = subprocess.run(
            ["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
            check=True, capture_output=True, text=True).stdout
        doc = json.loads(out)
    else:
        with open(path) as f:
            doc = json.load(f)
    samples = []
    for ev in doc["recording"]["events"]:
        v = ev["values"]
        if (v.get("sampledThread") or {}).get("javaName") != "main":
            continue
        samples.append((epoch_us(v["startTime"]), bucket(v.get("stackTrace"))))
    samples.sort()
    return samples


def epoch_us(iso):
    """'2026-10-19T16:11:45.555404831Z' -> µs since the epoch."""
    head, _, frac = iso.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=datetime.timezone.utc)
    return int(t.timestamp()) * 1_000_000 + int((frac + "000000")[:6])


def bucket(stack):
    for fr in (stack or {}).get("frames", []):
        cls = fr["method"]["type"]["name"]
        for name, prefixes in BUCKETS:
            if cls.startswith(prefixes):
                return name
    return "other"


def merged(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(lo, hi, ivs):
    return sum(max(0, min(e, hi) - max(s, lo)) for s, e in ivs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("spans")
    a = ap.parse_args()

    with open(a.spans) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    jobs = merged((s["start_us"], s["end_us"]) for s in spans if s["name"] == "job")
    builds = [s for s in spans if s["name"] == "queries.build" and s["pass"] >= 0]
    samples = load_samples(a.recording)
    times = [t for t, _ in samples]

    per = collections.defaultdict(lambda: {"build": [], "jobs": [],
                                           "buckets": collections.Counter()})
    for b in builds:
        lo, hi = b["start_us"], b["end_us"]
        in_jobs = covered(lo, hi, jobs)
        q = per[b["query"]]
        q["build"].append((hi - lo) / 1000)
        q["jobs"].append(in_jobs / 1000)
        for i in range(bisect.bisect_left(times, lo), bisect.bisect_right(times, hi)):
            t, name = samples[i]
            j = bisect.bisect_right(jobs, [t, float("inf")]) - 1
            if j < 0 or t >= jobs[j][1]:
                q["buckets"][name] += 1

    names = [n for n, _ in BUCKETS] + ["other"]
    print(f"{'query':<20} {'execs':>5} {'build_ms':>9} {'jobs_ms':>8} {'gap_ms':>7}  "
          + "  ".join(f"{n:>13}" for n in names))
    for query in sorted(per):
        q = per[query]
        gaps = [b - j for b, j in zip(q["build"], q["jobs"])]
        total = sum(q["buckets"].values())
        shares = "  ".join(
            f"{q['buckets'][n]:>5} ({100 * q['buckets'][n] / total if total else 0:>3.0f}%)"
            for n in names)
        print(f"{query:<20} {len(gaps):>5} {statistics.median(q['build']):>9.1f} "
              f"{statistics.median(q['jobs']):>8.1f} {statistics.median(gaps):>7.1f}  {shares}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
