#!/usr/bin/env python3
"""Check that the last stdout line of `sbt --batch "runMain graft.Bench"`
is the bench's bare JSON summary: no sbt `[info]` prefix and no trailing
`[success]` line after it.

Also checks the per-query `compiles` block (classes compiled during each
query's last pass) of the subset artifact: it parses and covers exactly the
--only keys.

With --sf, runs the bench on a SPARK_GRAFT_ONLY subset of keys against
that testdata dir, checks the captured stdout and reads the subset
artifact the summary names (target/BENCH_LOCAL_<dir>_subset.json). With
--capture, checks a saved stdout capture instead, taking the artifact's
content from the full per-query line before the summary.

Usage:
  python3 tools/bench_tail.py --sf <sfDir> [--only q1_agg,ann_ivf]
  python3 tools/bench_tail.py --capture <stdout.txt> [--only q1_agg,ann_ivf]
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUMMARY_KEYS = {"total", "n_queries", "n_failed", "sf", "cpus", "unit", "artifact"}


def run_bench(sf, only):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_ONLY=only)
    r = subprocess.run(["sbt", "--batch", "runMain graft.Bench"], cwd=ROOT,
                       env=env, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("bench exited %d" % r.returncode)
    return r.stdout


def check(capture, only, artifact_from_file):
    lines = [l for l in capture.splitlines() if l.strip()]
    if not lines:
        return "empty capture"
    last = lines[-1]
    try:
        summary = json.loads(last)
    except ValueError:
        return "last line is not JSON: %r" % last[:200]
    if not isinstance(summary, dict) or not SUMMARY_KEYS <= summary.keys():
        return "last line lacks summary keys %s: %r" % (sorted(SUMMARY_KEYS), last[:200])
    if summary["n_failed"] != 0:
        return "%d queries failed" % summary["n_failed"]
    keys = set(only.split(","))
    if summary["n_queries"] != len(keys):
        return "summary covers %d queries, expected %d" % (summary["n_queries"], len(keys))
    if artifact_from_file:
        try:
            with open(os.path.join(ROOT, summary["artifact"])) as fh:
                full = fh.read()
        except OSError as e:
            return "cannot read artifact: %s" % e
    else:
        full = lines[-2] if len(lines) > 1 else ""
    try:
        compiles = json.loads(full)["compiles"]
    except (ValueError, KeyError, TypeError):
        return "artifact has no parseable compiles block: %r" % full[:200]
    if not isinstance(compiles, dict) or not all(
            isinstance(v, int) and v >= 0 for v in compiles.values()):
        return "compiles block is not a map of counts: %r" % compiles
    if set(compiles) != keys:
        return "compiles block covers %s, expected %s" % (sorted(compiles), sorted(keys))
    return None


def main():
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--sf", help="testdata dir to run the bench subset on")
    src.add_argument("--capture", help="saved stdout of a bench subset run")
    ap.add_argument("--only", default="q1_agg,ann_ivf",
                    help="SPARK_GRAFT_ONLY key list (default q1_agg,ann_ivf)")
    a = ap.parse_args()
    capture = run_bench(a.sf, a.only) if a.sf else open(a.capture).read()
    err = check(capture, a.only, artifact_from_file=bool(a.sf))
    if err:
        sys.exit("FAIL: " + err)
    print("OK: last stdout line is the bench summary; compiles cover the --only keys")


if __name__ == "__main__":
    main()
