"""Turns one run's records (JSON lines written by `perfbench.Main`) into
the benchmark's metrics.

Record kinds: `op` (one op call with its build/plan/exec boundaries),
`pass` (one pass over the workload), `run` (run-level facts), and, for
traced passes only, `job_start`/`job_end`/`stage`/`qe` tagged with the
span id of the op they ran under.
"""
import json
import statistics

MB = 1048576.0


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """Percentile (q in 1..99) of a list, interpolated between samples."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def split(records):
    ops = [r for r in records if r["kind"] == "op"]
    passes = [r for r in records if r["kind"] == "pass"]
    run = next(r for r in records if r["kind"] == "run")
    return ops, passes, run


def jobs_by_span(records):
    """span -> list of jobs {job, phase, start, end, stage_ids}."""
    starts, ends = {}, {}
    for r in records:
        if r["kind"] == "job_start":
            starts[r["job"]] = r
        elif r["kind"] == "job_end":
            ends[r["job"]] = r
    out = {}
    for j, s in starts.items():
        e = ends.get(j)
        out.setdefault(s["span"], []).append({
            "job": j, "phase": s["phase"], "start": s["t_ms"],
            "end": e["t_ms"] if e else s["t_ms"], "stage_ids": s["stage_ids"]})
    return out


def span_check(records, tol_ms=5.0):
    """Checks that traced spans nest: for every traced op, build + plan +
    exec + unattributed = wall with unattributed >= 0, and every job of the
    op lies inside the op and inside the phase it was tagged with. Returns
    a list of violations (empty when the spans nest)."""
    bad = []
    jobs = jobs_by_span(records)
    for r in records:
        if r["kind"] != "op" or not r["traced"]:
            continue
        parts = r["build_ms"] + r["plan_ms"] + r["exec_ms"]
        unattributed = r["wall_ms"] - parts
        if unattributed < -1e-6:
            bad.append(f"{r['span']}: phases {parts:.3f} ms exceed wall {r['wall_ms']:.3f} ms")
        t0 = r["t0_ms"]
        bounds = {"build": (t0, t0 + r["build_ms"]),
                  "plan": (t0 + r["build_ms"], t0 + r["build_ms"] + r["plan_ms"]),
                  "exec": (t0 + r["build_ms"] + r["plan_ms"], t0 + r["wall_ms"])}
        for j in jobs.get(r["span"], []):
            lo, hi = bounds.get(j["phase"], (t0, t0 + r["wall_ms"]))
            if j["start"] < lo - tol_ms or j["end"] > hi + tol_ms:
                bad.append(f"{r['span']}: job {j['job']} ({j['phase']}) "
                           f"[{j['start']:.0f},{j['end']:.0f}] outside [{lo:.0f},{hi:.0f}]")
    return bad


def end_to_end(records):
    ops, passes, run = split(records)
    timed = [o for o in ops if o["stage"] == "timed"]
    untraced = [p["wall_ms"] for p in passes if p["stage"] == "timed" and not p["traced"]]
    lat = [o["wall_ms"] for o in timed]
    return {
        "setup_s": run["first_timed_s"],
        "pass_s": median(untraced) / 1000.0,
        "op_p50_ms": median(lat),
        "op_p90_ms": percentile(lat, 90),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def per_layer(records):
    """Per-layer metrics of the traced passes, normalised per pass."""
    ops, passes, run = split(records)
    cores = run["cores"]
    tpasses = [p for p in passes if p["stage"] == "timed" and p["traced"]]
    upasses = [p for p in passes if p["stage"] == "timed" and not p["traced"]]
    n = len(tpasses)
    tops = [o for o in ops if o["stage"] == "timed" and o["traced"]]
    spans = {o["span"] for o in tops}
    jobs = jobs_by_span(records)
    stage_recs = [r for r in records if r["kind"] == "stage" and r["span"] in spans]
    qes = [r for r in records if r["kind"] == "qe" and r["span"] in spans]
    fills = [o for o in ops if o["stage"] == "fill"]  # the cache-filling pass
    timed_all = [o for o in ops if o["stage"] == "timed"]

    build_s = sum(o["build_ms"] for o in tops) / 1000.0
    plan_s = sum(o["plan_ms"] for o in tops) / 1000.0
    exec_s = sum(o["exec_ms"] for o in tops) / 1000.0
    wall_s = sum(o["wall_ms"] for o in tops) / 1000.0
    exec_jobs_s = build_jobs_s = 0.0
    n_jobs = 0
    for o in tops:
        js = jobs.get(o["span"], [])
        n_jobs += len(js)
        exec_jobs_s += union_ms([(j["start"], j["end"]) for j in js if j["phase"] == "exec"]) / 1000.0
        build_jobs_s += union_ms([(j["start"], j["end"]) for j in js if j["phase"] != "exec"]) / 1000.0
    run_s = sum(s["run_ms"] for s in stage_recs) / 1000.0
    skew_w = sum(s["shuffle_read_b"] for s in stage_recs)
    skew = (sum(s["shuffle_read_b"] * s["task_read_max_b"] / s["task_read_median_b"]
                for s in stage_recs if s["task_read_median_b"] > 0) / skew_w) if skew_w else 0.0

    # every traced pass sits between two untraced ones: comparing it with
    # their mean cancels a steady warm-up trend across the passes
    between = [t["wall_ms"] / statistics.mean(
        [u["wall_ms"] for u in upasses if abs(u["pass"] - t["pass"]) == 1]) - 1.0
        for t in tpasses if any(u["pass"] == t["pass"] + 1 for u in upasses)]
    overhead = median(between) if between else (
        median([t["wall_ms"] for t in tpasses]) / median([u["wall_ms"] for u in upasses]) - 1.0)

    return {
        "ops.build_s": build_s / n,
        "ops.build_jobs_s": build_jobs_s / n,
        "catalyst.plan_s": plan_s / n,
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in qes) / 1000.0 / n,
        "catalyst.optimizer_s": sum(q["optimization_ms"] for q in qes) / 1000.0 / n,
        "catalyst.planning_s": sum(q["planning_ms"] for q in qes) / 1000.0 / n,
        "codegen.compile_s": sum(p["codegen_compile_ms"] for p in tpasses) / 1000.0 / n,
        "codegen.classes": sum(p["codegen_classes"] for p in tpasses) / n,
        "scheduler.jobs": n_jobs / n,
        "scheduler.stages": len(stage_recs) / n,
        "scheduler.tasks": sum(s["tasks"] for s in stage_recs) / n,
        "scheduler.exec_jobs_s": exec_jobs_s / n,
        "scheduler.dispatch_gap_s": (exec_s - exec_jobs_s) / n,
        "scheduler.onetask_job_ms": (run["onetask_start_ms"] + run["onetask_end_ms"]) / 2.0,
        "executor.run_s": run_s / n,
        "executor.cpu_s": sum(s["cpu_ns"] for s in stage_recs) / 1e9 / n,
        "executor.gc_s": sum(s["gc_ms"] for s in stage_recs) / 1000.0 / n,
        "executor.busy_share": run_s / (cores * wall_s) if wall_s else 0.0,
        "shuffle.write_mb": sum(s["shuffle_write_b"] for s in stage_recs) / MB / n,
        "shuffle.read_mb": sum(s["shuffle_read_b"] for s in stage_recs) / MB / n,
        "shuffle.skew": skew,
        "source.read_mb": sum(s["input_b"] for s in stage_recs) / MB / n,
        "sink.write_mb": sum(s["output_b"] for s in stage_recs) / MB / n,
        "sink.files": sum(q["files"] for q in qes) / n,
        "cache.builds": sum(o["cache_builds"] for o in fills),
        "cache.build_s": sum(o["cache_build_s"] for o in fills),
        "cache.hit_share": sum(1 for o in timed_all if o["cache_builds"] == 0) / len(timed_all),
        "state.scratch_mb": run["scratch_mb"],
        "jvm.gc_s": sum(p["gc_ms"] for p in tpasses) / 1000.0 / n,
        "jvm.heap_peak_mb": run["heap_peak_mb"],
        "op.wall_s": wall_s / n,
        # pass time outside every op's build/plan/exec boundaries: harness
        # bookkeeping and, in a traced pass, draining the listener bus
        "op.unattributed_s": (sum(p["wall_ms"] for p in tpasses) / 1000.0
                              - build_s - plan_s - exec_s) / n,
        "routing.total": sum(sum(o["routing"].values()) for o in tops) / n,
        "trace.overhead_share": overhead,
    }
