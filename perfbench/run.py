#!/usr/bin/env python3
"""graft benchmark: runs one workload of SparkEntry keys in one local
Spark JVM and prints every metric with its unit; the last stdout line is
one JSON object {"correct", "attempted", "failed", "metrics"}.

Usage (from the repository root):
  python3 perfbench/run.py --workload llm_curation|hot_key \
      --seed N --seconds S --trace 0|1

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). The first run in a checkout compiles the
program (perfbench/build.py). Every run works in a fresh directory under
$CARGO_TARGET_DIR (default .bench_build) that holds the generated
inputs, the Spark warehouse, the persisted indexes and the output dumps,
and deletes it before exiting.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import workloads as W  # noqa: E402

# Options build.sbt passes to every forked JVM: the JDK 17 module opens
# Spark needs, UTC, and the larger code cache without which late keys
# run interpreted. The heap is fixed at 2 GB from the start: a heap that
# grows during the run makes pass times drift from run to run.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=512m", "-Xms2g", "-Xmx2g",
]
JVM_TIMEOUT_S = 160
GEN_REPS = 3
# Recall below these fails the run: the approximate ANN and MinHash
# paths must keep finding the true neighbours and near-duplicates.
ANN_RECALL_FLOOR = 0.5
DEDUP_RECALL_FLOOR = 0.75


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def key_medians(execs, passes):
    """Each key's median build + exec latency over the given passes. One
    slow moment then moves one sample of one key, not a whole pass."""
    by_key = {}
    for e in execs:
        if e["pass"] in passes and e["ok"]:
            by_key.setdefault(e["key"], []).append(e["build_s"] + e["exec_s"])
    return [median(v) for v in by_key.values()]


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(n or 1, 8)), os.cpu_count()


def commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, run_dir, plan):
    plan_path = os.path.join(run_dir, "plan.txt")
    with open(plan_path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in plan.items())
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "graftbench.Runner", plan_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(plan["out"]) as fh:
        return json.load(fh)


def layer_metrics(res, wl_keys, ncores):
    """Per-layer metrics from the traced passes: spans give build/exec
    time, the listener's job groups give the counts."""
    layer = {k: W.layer_of(k) for k in wl_keys}
    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    spans = res["spans"]
    per_pass = []
    for p in traced:
        acc = {L: dict(build_s=0.0, exec_s=0.0, jobs=0, stages=0, shuffle_bytes=0,
                       spill_bytes=0, cpu_s=0.0, task_s=0.0, max_task_s=0.0)
               for L in W.LAYERS}
        pass_span = next(s for s in spans if s["kind"] == "pass" and s["name"] == f"pass{p}")
        key_ids = {s["id"] for s in spans if s["parent"] == pass_span["id"]}
        for s in spans:
            if s["parent"] in key_ids and s["kind"] in ("build", "exec"):
                acc[s["layer"]][s["kind"] + "_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        for key in wl_keys:
            a = acc[layer[key]]
            for phase in ("build", "exec"):
                g = res["groups"].get(f"{p}|{key}|{phase}")
                if not g:
                    continue
                a["jobs"] += g["jobs"]
                a["stages"] += g["stages"]
                a["shuffle_bytes"] += g["shuffle_bytes"]
                a["spill_bytes"] += g["spill_bytes"]
                a["cpu_s"] += g["cpu_ns"] / 1e9
                if phase == "exec":
                    a["task_s"] += g["task_ns"] / 1e9
                    a["max_task_s"] += g["max_task_ns"] / 1e9
        per_pass.append(acc)
    out = {}
    for L in W.LAYERS:
        rows = [pp[L] for pp in per_pass]

        def med(f):
            return median([f(r) for r in rows]) if rows else 0.0
        out[f"{L}.build_s"] = (med(lambda r: r["build_s"]), "s")
        out[f"{L}.exec_s"] = (med(lambda r: r["exec_s"]), "s")
        out[f"{L}.jobs"] = (med(lambda r: r["jobs"]), "count")
        out[f"{L}.stages"] = (med(lambda r: r["stages"]), "count")
        out[f"{L}.shuffle_bytes"] = (med(lambda r: r["shuffle_bytes"]), "B")
        out[f"{L}.spill_bytes"] = (med(lambda r: r["spill_bytes"]), "B")
        out[f"{L}.cpu_s"] = (med(lambda r: r["cpu_s"]), "s")
        out[f"{L}.slot_idle_frac"] = (med(
            lambda r: 1 - r["task_s"] / (r["exec_s"] * ncores) if r["exec_s"] > 0 else 0.0), "ratio")
        out[f"{L}.longest_task_frac"] = (med(
            lambda r: r["max_task_s"] / r["exec_s"] if r["exec_s"] > 0 else 0.0), "ratio")
    return out


def trace_overhead(passes):
    """Median over traced passes of the pass's wall time minus the mean
    of the untraced passes just before and after it. Runner traces
    passes 2, 4, ... and ends on an untraced pass, so pass 0, the cold
    one, is never on either side."""
    wall = {p["pass"]: p["wall_s"] for p in passes}
    return median([wall[p["pass"]] - (wall[p["pass"] - 1] + wall[p["pass"] + 1]) / 2
                   for p in passes if p["traced"]])


def key_details(res, wl_keys):
    """One line per key from the first traced pass."""
    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    if not traced:
        return []
    p = traced[0]
    lines = []
    for e in res["executions"]:
        if e["pass"] != p:
            continue
        g = res["groups"].get(f"{p}|{e['key']}|exec", {})
        b = res["groups"].get(f"{p}|{e['key']}|build", {})
        longest = g.get("max_task_ns", 0) / 1e9 / e["exec_s"] if e["exec_s"] > 0 else 0.0
        lines.append(
            f"key {e['key']} layer={W.layer_of(e['key'])} build_s={e['build_s']:.4f} "
            f"exec_s={e['exec_s']:.4f} jobs={g.get('jobs', 0) + b.get('jobs', 0)} "
            f"stages={g.get('stages', 0) + b.get('stages', 0)} "
            f"tasks={g.get('tasks', 0) + b.get('tasks', 0)} "
            f"longest_task_frac={longest:.3f}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on the workload's generated row counts")
    ap.add_argument("--plant-wrong", default="",
                    help="key whose timed outputs get one extra row (self-test)")
    args = ap.parse_args(argv)

    wl = W.WORKLOADS[args.workload]
    keys = wl["keys"]
    if args.plant_wrong and args.plant_wrong not in keys:
        raise SystemExit(f"--plant-wrong {args.plant_wrong} is not a key of {args.workload}")
    classes = build.build()
    ncores, nproc = cores()

    run_dir = os.path.join(build.build_dir(), f"run-{os.getpid()}-{time.time_ns()}")
    try:
        for sub in ("data", "dumps", "local", "tmp", "spark-warehouse"):
            os.makedirs(os.path.join(run_dir, sub))
        fixtures = os.path.join(build.ROOT, "fixtures")
        if os.path.isdir(fixtures):
            shutil.copytree(fixtures, os.path.join(run_dir, "fixtures"))
        data_dir = os.path.join(run_dir, "data")

        def rows(n):
            return max(1, int(n * args.scale)) if n else 0
        gen_s = []
        for _ in range(GEN_REPS):
            t0 = time.perf_counter()
            row_counts = gen.generate(data_dir, args.seed, rows(wl["events"]),
                                      rows(wl["users"]), rows(wl["documents"]),
                                      rows(wl["embeddings"]), wl["skew"])
            gen_s.append(time.perf_counter() - t0)
        plan = {
            "workload": args.workload, "seconds": args.seconds,
            "trace": args.trace, "cores": ncores,
            "keys": ",".join(f"{k}:{W.layer_of(k)}" for k in keys),
            "indexes": ",".join(wl["indexes"]),
            "plant": args.plant_wrong,
            "data_dir": data_dir,
            "dump_dir": os.path.join(run_dir, "dumps"),
            "local_dir": os.path.join(run_dir, "local"),
            "warehouse_dir": os.path.join(run_dir, "spark-warehouse"),
            "out": os.path.join(run_dir, "result.json"),
        }
        res = run_jvm(classes, run_dir, plan)
        res["rows"] = row_counts
        res["gen_s"] = gen_s
        res["input_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                 for d, _, fs in os.walk(data_dir) for f in fs)
        report(args, res, keys, plan, ncores, nproc, classes)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check(res, keys, plan):
    """Marks every execution ok or failed and returns (failures by key,
    recall metrics). Warm-up outputs are checked against DuckDB; timed
    executions must reproduce the warm-up output's fingerprint."""
    dump_dir = plan["dump_dir"]
    con = oracle.connect(plan["data_dir"])
    failures = {}
    reference = {}
    for key in keys:
        warm = next(e for e in res["executions"] if e["key"] == key and e["pass"] < 0)
        why = warm["error"] or oracle.check_key(con, dump_dir, key, res["oracles"].get(key))
        if why:
            failures[key] = why if warm["error"] else "output check: " + why
            warm["error"] = warm["error"] or failures[key]
        else:
            reference[key] = oracle.dump_fingerprint(dump_dir, key)
    for e in res["executions"]:
        if e["pass"] >= 0 and not e["error"] and e["fingerprint"] != reference.get(e["key"]):
            e["error"] = (f"timed output {e['fingerprint']} differs from the checked "
                          f"output {reference.get(e['key'], '(none)')}")
        e["ok"] = not e["error"]
        if e["error"]:
            failures.setdefault(e["key"], e["error"])
    quality = {}
    if W.ANN_RECALL_KEY in keys:
        quality["ann_recall_at_10"] = oracle.ann_recall(
            dump_dir, W.ANN_RECALL_KEY, oracle.ann_truth(con, res["oracles"][W.ANN_TRUTH_KEY]))
    dedup_key = W.WORKLOADS[plan["workload"]]["dedup_recall_key"]
    quality["dedup_recall"] = oracle.dedup_recall(
        dump_dir, dedup_key, oracle.dedup_truth(con, dedup_key))
    con.close()
    return failures, quality


def report(args, res, keys, plan, ncores, nproc, classes):
    failures, quality = check(res, keys, plan)
    execs = res["executions"]
    attempted = len(execs)
    failed = sum(not e["ok"] for e in execs)
    recall_ok = (quality.get("ann_recall_at_10", 1.0) >= ANN_RECALL_FLOOR and
                 quality.get("dedup_recall", 1.0) >= DEDUP_RECALL_FLOOR)

    gen_s = median(res["gen_s"])
    index_s = res["index_wall_s"]
    setup_s = res["start_s"] + gen_s + index_s + res["warmup_s"]
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced_passes = [p for p in res["passes"] if p["traced"]]
    untraced_ids = {p["pass"] for p in untraced}
    lat = key_medians(execs, untraced_ids)
    samples = sum(e["pass"] in untraced_ids and e["ok"] for e in execs)

    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(),
        "build": os.path.basename(classes), "nproc": nproc, "cpus_used": ncores,
        "rows": res["rows"], "shuffle_partitions": res["provenance"]["shuffle_partitions"],
        "spark": res["provenance"]["spark"], "java": res["provenance"]["java"],
        "jvm": res["provenance"]["jvm"], "python": platform.python_version(),
        "keys": keys, "passes": len(res["passes"]),
    }
    print("provenance " + json.dumps(prov, sort_keys=True))
    for key, why in sorted(failures.items()):
        print(f"FAILED {key}: {why}")
    print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} key executions)")
    print(f"query latency samples {samples} ({len(lat)} keys)")
    print(f"setup start_s={res['start_s']:.3f} gen_s={median(res['gen_s']):.3f} "
          f"index_s={res['index']} warmup_s={res['warmup_s']:.3f}")
    print("pass walls " + " ".join(f"{p['wall_s']:.3f}{'t' if p['traced'] else ''}"
                                   for p in res["passes"]))
    for k, v in quality.items():
        print(f"{k} {v:.4f}")

    if args.trace == 0:
        per = {
            "setup_s": (setup_s, "s"),
            "pass_s": (sum(lat), "s"),
            "query_p50_s": (median(lat), "s"),
            "query_p90_s": (p90(lat), "s"),
        }
    else:
        for line in key_details(res, keys):
            print(line)
        per = layer_metrics(res, keys, ncores)
        groups = res["groups"].values()
        candidates = res["candidate_pairs"]
        verified = (int(oracle.dump_fingerprint(plan["dump_dir"], W.PAIR_KEY).split(":")[0])
                    if W.PAIR_KEY in keys else 0)
        idx = res["index"]
        per.update({
            "tables.input_records": (sum(res["rows"].values()), "count"),
            "tables.input_bytes": (res["input_bytes"], "B"),
            "session.start_s": (res["start_s"], "s"),
            "session.gen_s": (gen_s, "s"),
            "session.warmup_s": (res["warmup_s"], "s"),
            "index.ivf16_build_s": (idx.get("ivf16", 0.0), "s"),
            "index.ivf64_build_s": (idx.get("ivf64", 0.0), "s"),
            "index.lsh_build_s": (idx.get("lsh", 0.0), "s"),
            "index_build_s": (index_s, "s"),
            "dedup.candidate_pairs": (candidates, "count"),
            "dedup.pair_yield": (verified / candidates if candidates else 0.0, "ratio"),
            "ann_recall_at_10": (quality.get("ann_recall_at_10", 0.0), "ratio"),
            "dedup_recall": (quality.get("dedup_recall", 0.0), "ratio"),
            "gc_s": (median([p["gc_s"] for p in traced_passes]), "s"),
            "failed_tasks": (sum(g["failed_tasks"] for g in groups), "count"),
            "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
            "trace_overhead_s": (trace_overhead(res["passes"]), "s"),
        })

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in per.items()}
    for name, m in metrics.items():
        print(f"metric {name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and recall_ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
