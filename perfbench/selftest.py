#!/usr/bin/env python3
"""Self-test of the benchmark's output.

    python3 perfbench/selftest.py

Reads back every report under .bench_build/perfbench/reports (one per
run of perfbench/run.py) and checks, for each workload that was run:

- an untraced report carries every end-to-end metric of BENCHMARK.json,
  with its unit and a numeric value, plus input properties and host
  conditions;
- a traced report carries every per-layer metric with its unit, has
  measured the layers that run on its workload, its ladder rows plus
  the stated leftover add up to the traced job's wall time, and its
  spans file exists with every parent present.

Exits non-zero and lists the problems when a check fails.
"""
import glob
import json
import math
import os
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORTS = os.path.join(ROOT, ".bench_build", "perfbench", "reports")

INPUT_KEYS = ["rows", "payload_bytes", "mean_bytes_per_doc", "pdf_share", "article_share",
              "duplicate_share"]
HOST_KEYS = ["nproc", "steal_frac", "iowait_frac", "storage", "gc", "jvm_flags"]

# Layers a traced run must have measured (a non-zero value) on a workload.
EXTRACT = ["extract_mixed", "extract_bigdoc", "extract_resume_fat"]
MEASURED = {
    "extract.ns_per_doc": EXTRACT + ["corpus_dedup"],
    "spark.task_busy_s": EXTRACT + ["corpus_dedup"],
    "sources.scan_s": EXTRACT + ["corpus_dedup"],
    "app.write_s": EXTRACT,
    "app.lineage_s": EXTRACT,
    "app.staging_s": ["extract_resume_fat"],
    "jobs.checkpoint_s": ["extract_resume_fat"],
    "queries.quality_s": ["corpus_dedup"],
    "queries.exact_dedup_s": ["corpus_dedup"],
    "queries.minhash_s": ["corpus_dedup"],
    "queries.lsh_join_s": ["corpus_dedup"],
    "app.corpus_tail_s": ["corpus_dedup"],
}


def check_metrics(rep, declared):
    problems = []
    got = rep["result"]["metrics"]
    for name, unit in declared.items():
        m = got.get(name)
        if m is None:
            problems.append(f"missing metric {name}")
        elif m.get("unit") != unit:
            problems.append(f"{name}: unit {m.get('unit')}, declared {unit}")
        elif not isinstance(m.get("value"), (int, float)) or math.isnan(m["value"]):
            problems.append(f"{name}: value {m.get('value')!r} is not a number")
    return problems


def check_trace(rep):
    problems = []
    got = rep["result"]["metrics"]
    for name, where in MEASURED.items():
        if rep["workload"] in where and got.get(name, {}).get("value") == 0:
            problems.append(f"layer {name} was not measured")
    total = sum(r["secs"] for r in rep["ladder"])
    if abs(total - rep["job_s"]) > 1e-6 * max(1.0, rep["job_s"]):
        problems.append(f"ladder rows sum to {total}, traced job took {rep['job_s']}")
    spans_file = rep.get("spans", "")
    if not os.path.exists(spans_file):
        problems.append(f"spans file {spans_file} missing")
        return problems
    with open(spans_file) as fh:
        spans = [json.loads(l) for l in fh if l.strip()]
    ids = {s["id"] for s in spans}
    orphans = [s["name"] for s in spans if s["parent"] != 0 and s["parent"] not in ids]
    if orphans:
        problems.append(f"{len(orphans)} spans with a missing parent, e.g. {orphans[:3]}")
    if not any(s["name"] == "job" for s in spans):
        problems.append("no 'job' span")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    gated = {w["name"] for w in spec["workloads"]}
    workloads = gated | set(run.WORKLOADS)
    files = sorted(glob.glob(os.path.join(REPORTS, "*.json")))
    if not files:
        sys.exit(f"no reports under {REPORTS}; run perfbench/run.py first")
    problems, seen = [], {}
    for f in files:
        with open(f) as fh:
            rep = json.load(fh)
        tag = os.path.basename(f)
        if rep["workload"] not in workloads:
            problems.append(f"{tag}: unknown workload {rep['workload']}")
        mine = check_metrics(rep, declared[rep["trace"]])
        mine += [f"input property {k} missing" for k in INPUT_KEYS if k not in rep["input"]]
        mine += [f"host condition {k} missing" for k in HOST_KEYS if k not in rep["host"]]
        if rep["trace"]:
            mine += check_trace(rep)
        problems += [f"{tag}: {p}" for p in mine]
        seen.setdefault(rep["workload"], set()).add("traced" if rep["trace"] else "untraced")
    for w in sorted(seen):
        kind = "" if w in gated else " (not gated by BENCHMARK.json)"
        print(f"{w}{kind}: {', '.join(sorted(seen[w]))} reports checked")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    print(f"selftest ok: {len(files)} reports")


if __name__ == "__main__":
    main()
