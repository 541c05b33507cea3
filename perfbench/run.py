#!/usr/bin/env python3
"""Benchmark of the scan-report CLI and the LLM-curation path.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. The engine and the harness are compiled
from source into $CARGO_TARGET_DIR/perfbench (default
.bench_build/perfbench); inputs are generated there from --seed.

One iteration is one fresh JVM that builds its session exactly as
ScanMain.main does (local[nproc], shuffle partitions = nproc, UTC,
FastLocalFileSystem) and runs the workload once, JIT warm-up included, as
a CLI user pays it. Iterations repeat until --seconds have been measured;
every iteration's output is checked, and a failed check counts as a failed
operation. A run's report digest must also equal the first one recorded
for its workload, seed and code version in <build>/digests.json. The last stdout line is one JSON object: the end-to-end metrics
(medians over iterations) with --trace 0, the per-layer metrics of the
traced walk with --trace 1. --workload all runs every workload and prints
a table instead. Each run also appends a full record to
<build>/results.jsonl; perfbench/compare.py diffs two such files.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("scan_capped", "scan_full", "llm_curate")

END_TO_END = (("wall_s", "s"), ("wall_norm", "x"), ("input_mb_per_s", "MB/s"),
              ("cpu_s", "s"), ("setup_s", "s"), ("heap_live_mb", "MB"),
              ("ok_rate", "ratio"))
PER_LAYER = tuple((f"{layer}.{f}", unit) for layer in stats.LAYERS
                  for f, unit in stats.LAYER_FIELDS) + (
    ("sources.read_amp", "x"), ("Scan.concurrency_gain", "x"),
    ("Dedup.pairs_out", "count"), ("Similarity.recall_at_10", "ratio"))

ITERATION_BUDGET_S = 150  # measured seconds by which every iteration ends
ITERATION_TIMEOUT_S = 120  # one iteration's JVM is killed after this


def cpus():
    return len(os.sched_getaffinity(0))


def stage(bdir, workload, seed):
    """Generated inputs for (workload, seed); other seeds are removed.
    The directory name carries the generator's hash, so editing gen.py
    regenerates."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    root = os.path.join(bdir, "data")
    path = os.path.join(root, f"{workload}-{seed}-{version}")
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d.startswith(workload + "-"):
                    shutil.rmtree(os.path.join(root, d))
        gen.generate(workload, seed, path)
    with open(manifest) as f:
        return path, json.load(f)


def run_jvm(classes, bdir, mode, workload, data, out, timeout):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", "-XX:-UsePerfData", *build.JDK17_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Xmx1g", "-cp", os.pathsep.join([classes, *build.spark_classpath()]),
           "graftbench.Harness", "--mode", mode, "--workload", workload,
           "--data", data, "--out", out, "--cpus", str(cpus())]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        t0_ms = time.time() * 1000.0
        proc = subprocess.run(cmd + ["--t0_ms", repr(t0_ms)], cwd=out,
                              stdout=log, stderr=subprocess.STDOUT,
                              env=env, timeout=timeout)
    if proc.returncode != 0:
        raise RuntimeError(f"harness exited {proc.returncode}, see {out}/jvm.log")
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


def grade(workload, mode, out, h, ref):
    """(problems, digest, layer-level extras) of one iteration."""
    if workload == "llm_curate":
        probs, dig, recall, pairs = check.check_llm(
            out, ref, h["num_queries"], h["top_k"])
        if pairs != h["pairs_out"]:
            probs.append("pair count differs from the harness's")
        return probs, dig, {"Similarity.recall_at_10": recall,
                            "Dedup.pairs_out": pairs}
    sheets = check.read_report(os.path.join(out, "run"))
    probs = check.check_scan(sheets, ref, h["scan_cfg"])
    dig = check.digest(sheets)
    if mode == "trace":
        for d, what in (("walk", "traced walk's report"),
                        ("run2", "warm ScanMain.run's report")):
            if check.digest(check.read_report(os.path.join(out, d))) != dig:
                probs.append(f"{what} differs from the cold ScanMain.run's")
    return probs, dig, {}


def iteration_metrics(workload, trace, h, extra, input_bytes):
    if not trace:
        return dict(extra, **{
            "wall_s": h["wall_s"], "wall_norm": h["wall_s"] / h["calib_s"],
            "input_mb_per_s": input_bytes / stats.MB / h["wall_s"],
            "cpu_s": h["cpu_s"], "setup_s": h["setup_s"],
            "heap_peak_mb": h["heap_peak_mb"],
            "heap_old_peak_mb": h["heap_old_peak_mb"],
            "heap_live_mb": h["heap_live_mb"]})
    m = stats.layer_metrics(h["spans"], h["jobs"])
    m.update({"sources.read_amp": 0.0, "Scan.concurrency_gain": 0.0,
              "Dedup.pairs_out": 0.0, "Similarity.recall_at_10": 0.0})
    if workload != "llm_curate":
        m["sources.read_amp"] = stats.read_amp(h["spans"], h["jobs"], input_bytes)
        m["Scan.concurrency_gain"] = (sum(s["dur_s"] for s in h["spans"])
                                      / h["warm_wall_s"])
    m.update(extra)
    return m


def code_version(bdir):
    """Hash of what decides a run's outputs: the compiled sources (the
    build's stamp), the generator and the checks' digest."""
    h = hashlib.sha256()
    with open(os.path.join(bdir, "classes.sha256"), "rb") as f:
        h.update(f.read())
    for mod in (gen, check):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def check_digest(path, key, dig):
    """Records dig under key in the JSON file at path on first sight;
    returns the digest recorded earlier if it differs, else None. Traced
    and untraced runs of one seed share a key, so they check each other."""
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen:
        return seen[key] if seen[key] != dig else None
    seen[key] = dig
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return None


def run_workload(workload, seed, seconds, trace):
    root = os.getcwd()
    bdir = os.path.abspath(os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(bdir, exist_ok=True)
    classes = build.ensure_built(root, bdir)
    data, manifest = stage(bdir, workload, seed)
    ref = check.reference(workload, data, manifest)

    mode = "trace" if trace else "e2e"
    runs = os.path.join(bdir, "runs", f"{workload}-{os.getpid()}")
    its, failed, digests, problems = [], 0, set(), []
    start = time.time()  # build, staging and the reference stay outside
    while True:
        t = time.time()
        out = os.path.join(runs, f"it{len(its) + failed}")
        try:
            h = run_jvm(classes, bdir, mode, workload, data, out,
                        timeout=min(ITERATION_TIMEOUT_S,
                                    ITERATION_BUDGET_S - (t - start)))
            probs, dig, extra = grade(workload, mode, out, h, ref)
        except Exception as e:  # a crash or timeout is a failed operation
            h, probs, dig, extra = None, [f"{type(e).__name__}: {e}"], None, {}
        if probs:
            failed += 1
            problems += probs[:5]
        else:
            digests.add(dig)
            its.append(iteration_metrics(workload, trace, h, extra,
                                         manifest["input_bytes"]))
        now = time.time()
        if now - start >= seconds or (now - start) + (now - t) > ITERATION_BUDGET_S:
            break
    if len(digests) > 1:
        problems.append(f"report digest differs across iterations: {sorted(digests)}")
    elif digests:
        key = f"{workload}/{seed}/{code_version(bdir)}"
        earlier = check_digest(os.path.join(bdir, "digests.json"), key,
                               next(iter(digests)))
        if earlier:
            problems.append(f"report digest differs from an earlier run of "
                            f"{key}: {earlier}")
    if not problems:  # failing iterations' outputs stay for inspection
        shutil.rmtree(runs)

    attempted = len(its) + failed
    names = PER_LAYER if trace else END_TO_END
    metrics = {}
    for name, unit in names:
        if name == "ok_rate":
            value = (attempted - failed) / attempted
        else:
            value = stats.median([m[name] for m in its]) if its else 0.0
        metrics[name] = {"value": value, "unit": unit}
    result = {"correct": not problems, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    record = {"workload": workload, "seed": seed, "trace": int(trace),
              "seconds": seconds, "cpus": cpus(),
              "input_bytes": manifest["input_bytes"],
              "input_rows": manifest["input_rows"],
              "digests": sorted(digests), "problems": problems,
              "iterations": its, "result": result}
    if trace and its:
        record["top_layer_by_cpu"] = stats.top_layer(
            {k: v["value"] for k, v in metrics.items()})
    with open(os.path.join(bdir, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return record


def print_table(records, file):
    print(f"{'workload':<12} {'metric':<28} {'value':>12} {'unit':<6} runs",
          file=file)
    for r in records:
        n = len(r["iterations"])
        for name, m in r["result"]["metrics"].items():
            print(f"{r['workload']:<12} {name:<28} {m['value']:>12.4f} "
                  f"{m['unit']:<6} {n}", file=file)
        if "top_layer_by_cpu" in r:
            print(f"{r['workload']:<12} top layer by cpu_s: "
                  f"{r['top_layer_by_cpu']}", file=file)
        status = "ok" if r["result"]["correct"] else "FAILED " + "; ".join(r["problems"][:3])
        print(f"{r['workload']:<12} checks: {status} "
              f"({r['result']['failed']}/{r['result']['attempted']} failed)",
              file=file)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join("src", "main", "scala", "graft",
                                       "ScanMain.scala")):
        sys.exit("perfbench: run from the repository root (engine sources "
                 "under src/main/scala not found)")
    if a.workload == "all":
        records = [run_workload(w, a.seed, a.seconds, a.trace) for w in WORKLOADS]
        print_table(records, sys.stdout)
        sys.exit(0 if all(r["result"]["correct"] for r in records) else 1)
    record = run_workload(a.workload, a.seed, a.seconds, a.trace)
    print_table([record], sys.stderr)
    print(json.dumps(record["result"]))


if __name__ == "__main__":
    main()
