#!/usr/bin/env python3
"""Check that the last stdout line of `sbt --batch "runMain graft.Bench"`
is the bench's bare JSON summary: no sbt `[info]` prefix and no trailing
`[success]` line after it.

With --sf, runs the bench on a SPARK_GRAFT_ONLY subset of keys against
that testdata dir and checks the captured stdout; the subset artifact the
bench writes (BENCH_LOCAL_<dir>_subset.json) is restored afterwards. With
--capture, checks a saved stdout capture instead.

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
    artifact = os.path.join(ROOT, "BENCH_LOCAL_%s_subset.json" % os.path.basename(
        os.path.normpath(sf)))
    saved = open(artifact, "rb").read() if os.path.exists(artifact) else None
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_ONLY=only)
    try:
        r = subprocess.run(["sbt", "--batch", "runMain graft.Bench"], cwd=ROOT,
                           env=env, stdout=subprocess.PIPE, text=True)
    finally:
        if saved is None:
            if os.path.exists(artifact):
                os.remove(artifact)
        else:
            with open(artifact, "wb") as fh:
                fh.write(saved)
    if r.returncode != 0:
        sys.exit("bench exited %d" % r.returncode)
    return r.stdout


def check(capture, only):
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
    if summary["n_queries"] != len(only.split(",")):
        return "summary covers %d queries, expected %d" % (
            summary["n_queries"], len(only.split(",")))
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
    err = check(capture, a.only)
    if err:
        sys.exit("FAIL: " + err)
    print("OK: last stdout line is the bench summary")


if __name__ == "__main__":
    main()
