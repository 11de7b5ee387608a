#!/usr/bin/env python3
"""Layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run: build the benchmark package from source (reused while the
sources are unchanged), generate the workload's input dir from the seed,
run the workload in a fresh `local[4]` JVM (see
src/main/scala/perfbench/Main.scala), check every op's output, and print
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a run whose every second pass is traced. Both lists, with
units, are in BENCHMARK.json at the root of the checkout. The full record
of the last run of each workload is kept under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import engine  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
CORES = 4
RUN_LIMIT_S = 170  # a run (after any build) ends inside 180 s

# Each workload is one pass of ops; a pass runs every op once in a seeded
# order. The op lists are sized so a whole run (session start, the
# cache-filling pass, one warm-up pass, the timed passes and the output
# check) takes 35-50 s on a 4-core machine.
WORKLOADS = {
    # The users' batch job: the reference flow's paged-source round trip and
    # JDBC load, plus exact and near-dup dedup and TF-IDF over an upscaled
    # documents corpus with planted near-duplicates.
    "curation_batch": {
        "ops": ["etl_source_scan", "etl_jdbc_sink", "dedup_exact", "dedup_minhash",
                "text_tfidf"],
        "size": {"sf": 0.002, "docs": 4000, "dup_share": 0.1, "vecs": 500},
    },
    # Short relational requests and ANN lookups over fixture-sized inputs;
    # the IVF index trains in set-up.
    "interactive_queries": {
        "ops": ["q1_pricing_summary", "q5_semi_join", "q7_topk", "q16_count",
                "sim_topk_brute", "sim_topk_ivf"],
        "size": {"sf": 0.001, "docs": 500, "dup_share": 0.0, "vecs": 1000},
    },
}


def input_dir(workload, seed):
    """The workload's generated input dir for `seed`, made once per
    (seed, size)."""
    size = WORKLOADS[workload]["size"]
    tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{tag}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_dir(tmp, seed, size)
        os.replace(tmp, d)
    return d


def benchmark_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_metrics(values, specs):
    return {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = benchmark_spec()
    os.makedirs(WORK, exist_ok=True)
    try:
        classpath = engine.build(os.path.join(WORK, "build.log"),
                                 [op for w in WORKLOADS.values() for op in w["ops"]])
    except Exception as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    wl = WORKLOADS[args.workload]
    data = input_dir(args.workload, args.seed)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    records_path = os.path.join(run_dir, "records.jsonl")
    check_dir = os.path.join(run_dir, "check")
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    rc = engine.run_jvm(classpath, [
        "--ops", ",".join(wl["ops"]), "--dir", data,
        "--seconds", str(args.seconds), "--warm-passes", "1",
        "--min-passes", "3" if args.trace else "2",
        "--hard-stop", str(max(10.0, budget - 25)), "--trace", str(args.trace),
        "--cores", str(CORES), "--work", run_dir, "--seed", str(args.seed),
        "--out", records_path, "--check-dir", check_dir,
    ], run_dir, os.path.join(run_dir, "jvm.log"), timeout_s=max(10.0, budget - 8))
    if rc != 0 or not os.path.exists(records_path):
        print(f"run failed (exit {rc}); see {run_dir}/jvm.log", file=sys.stderr)
        return 1

    records = metrics.load(records_path)
    ops, _, run = metrics.split(records)
    timed = [o for o in ops if o["stage"] == "timed"]
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        with_oracle = set(json.load(fh))
    mismatches = oracle.check(check_dir, data, os.path.join(WORK, "oracle", os.path.basename(data)))
    mismatches.update(run["check_errors"])
    checked_rows = {op: pq.read_table(os.path.join(check_dir, op), columns=[]).num_rows
                    for op in with_oracle if op not in mismatches}
    problems = {}
    for o in timed:
        if not o["ok"]:
            problems[o["span"]] = o["err"]
        elif o["op"] not in with_oracle and o["rows"] <= 0:
            problems[o["span"]] = "no rows"
        elif o["op"] in checked_rows and o["rows"] != checked_rows[o["op"]]:
            problems[o["span"]] = f"{o['rows']} rows, checked output has {checked_rows[o['op']]}"
    failed_calls = len(problems) + sum(
        1 for o in timed if o["op"] in mismatches and o["span"] not in problems)
    span_errors = metrics.span_check(records) if args.trace else []

    if args.trace:
        values = metrics.per_layer(records)
        values["failed_ops"] = failed_calls / len(timed)
        out_specs = spec["per_layer"]
    else:
        values = metrics.end_to_end(records)
        values["ok_ops_share"] = 1.0 - failed_calls / len(timed)
        out_specs = spec["end_to_end"]

    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "ops": wl["ops"], "size": wl["size"], "passes": run["passes"],
                "truncated": run["truncated"], "metrics": values,
                "failed_calls": problems, "oracle_mismatches": mismatches,
                "span_errors": span_errors[:20], "jvm_end_s": run["end_s"],
                "wall_s": time.monotonic() - t_start}
    last = os.path.join(WORK, f"last-{args.workload}-trace{args.trace}")
    with open(last + ".json", "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    os.replace(records_path, last + ".records.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed_calls == 0 and not span_errors and not run["truncated"]
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed_calls,
                      "metrics": result_metrics(values, out_specs)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
