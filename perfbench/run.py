"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed, runs the closed-loop harness in one
driver JVM for `--seconds`, checks every result against the DuckDB
oracle, and prints two JSON lines: a detail line (run-condition stamp,
the named end-to-end metrics, per-layer self times) and, last, the
result line `{"correct", "attempted", "failed", "metrics"}` with the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`)
listed in BENCHMARK.json. Traced runs also write their spans to
`.bench_out/`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = {
    "scd_longlog_read": (W.gen_longlog, "read"),
    "scd_churn_bigscan": (W.gen_churn, "read"),
    "pipeline_heavy": (W.gen_pipeline, "pass"),
}
# set-up repetitions per run; pipeline_heavy's set-up includes a whole
# warm-up pass, so it repeats twice
SETUP_REPS = {"scd_longlog_read": 3, "scd_churn_bigscan": 3, "pipeline_heavy": 2}
COMPACT_EVERY = 5
DEADLINE_S = 150   # harness budget; checks and printing fit in the 180-s run limit
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
EXEC_COUNTS = ["exec.tasks", "exec.input_rows", "exec.input_bytes", "exec.jobs", "exec.stages",
               "exec.shuffle_bytes", "exec.spill_bytes", "exec.failed_tasks"]


def git(*args):
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", *args], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout if p.returncode == 0 else None


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    f = int(k)
    return xs[f] if f + 1 >= len(xs) else xs[f] + (xs[f + 1] - xs[f]) * (k - f)


def run_harness(cfg, work, budget_s):
    cfg_path = os.path.join(work, "config.json")
    out_path = os.path.join(work, "result.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", build.classpath(), "graftbench.Harness", cfg_path, out_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(out_path) as fh:
        return json.load(fh)


def self_times(spans):
    """Per-span self time: duration minus the time its children cover."""
    child = [0] * len(spans)
    for op, name, s, e, parent in spans:
        if parent >= 0:
            child[parent] += e - s
    return [(spans[i][0], spans[i][1], (spans[i][3] - spans[i][2] - child[i]) / 1e6)
            for i in range(len(spans))]


def layer_of(name):
    return name.split(".")[0] if name.split(".")[0] in (
        "sources", "scd", "catalyst", "exec", "operators") else "driver"


def per_layer(res, primary):
    """Per-layer metrics of a traced run, as means per op of the kind they
    belong to (the workload's primary op unless named otherwise). Times of
    layers that some workload never enters are reported as shares of op
    wall time, so an idle layer reads 0 without posing as a measured time;
    their absolute means go to the detail line and the trace file."""
    ops, spans = res["ops"], res["spans"]
    root = []
    for i, sp in enumerate(spans):
        root.append(i if sp[4] < 0 else root[sp[4]])
    kind = {sp[0]: sp[1][3:] for sp in spans if sp[4] < 0 and sp[1].startswith("op.")}

    def of(k):
        return [o for o in ops if o["kind"] == k]

    def span_ms(name, k, roots=("op.",)):
        return sum((sp[3] - sp[2]) / 1e6 for i, sp in enumerate(spans)
                   if sp[1] == name and kind.get(sp[0]) == k
                   and spans[root[i]][1].startswith(roots))

    def per(total, recs):
        return total / max(1, len(recs))

    def field(key, recs):
        return per(sum(o.get(key, 0) for o in recs), recs)

    def counter(key, recs):
        return per(sum(o["counters"].get(key, 0) for o in recs), recs)

    def share(ms, recs):
        wall = sum(o["lat_s"] for o in recs) * 1000
        return ms / wall if wall > 0 else 0.0

    prim, reads, appends, compacts, passes = of(primary), of("read"), of("append"), of("compact"), of("pass")
    scd = ("op.", "probe.")
    absolute = {
        "scd.compile_ms": per(span_ms("scd.compile", "read", scd), reads),
        "scd.parse_ms": per(span_ms("scd.parse", "read", scd), reads),
        "sources.sidecar_read_ms": per(span_ms("sources.sidecar_read", "read", scd), reads),
        "sources.append_ms": per(span_ms("sources.append", "append"), appends),
        "scd.compact_ms": per(span_ms("scd.compact", "compact"), compacts),
        "operators.build_ms": per(span_ms("operators.build", "pass"), passes),
    }
    m = {
        "catalyst.analysis_ms": (per(span_ms("catalyst.analysis", primary), prim) if primary == "read"
                                 else field("tracker_analysis_ms", prim)),
        "catalyst.optimization_ms": per(span_ms("catalyst.optimization", primary), prim),
        "catalyst.planning_ms": per(span_ms("catalyst.planning", primary), prim),
        "catalyst.plan_nodes": field("plan_nodes", prim),
        "catalyst.pushed_filters": field("pushed_filters", prim),
        "exec.ms": counter("exec.ms", prim),
        "exec.task_run_ms": counter("exec.task_run_ms", prim),
        "exec.gc_ms": field("gc_ms", prim),
        **{k: counter(k, prim) for k in EXEC_COUNTS},
        "exec.output_bytes": counter("exec.output_bytes", compacts),
        "scd.compile_share": share(span_ms("scd.compile", "read", scd), reads),
        "scd.parse_share": share(span_ms("scd.parse", "read", scd), reads),
        "sources.sidecar_read_share": share(span_ms("sources.sidecar_read", "read", scd), reads),
        "scd.stmts_retained": field("stmts_retained", reads),
        "scd.stmts_gated": field("stmts_gated", reads),
        "sources.append_share": share(span_ms("sources.append", "append"), ops),
        "sources.log_statements": field("log_statements", appends),
        "sources.log_bytes": field("log_bytes", appends + [o for o in reads if "log_bytes" in o]),
        "scd.compact_share": share(span_ms("scd.compact", "compact"), ops),
        "operators.build_share": share(span_ms("operators.build", "pass"), passes),
        **{f"operators.{k}": sum(field(f"{r}.{k}", passes) for r in W.PIPELINE_ROWS)
           for k in ("build_jobs", "persisted_rdds", "cached_bytes")},
    }
    selfs, n = {}, {}
    for i, (op, name, ms) in enumerate(self_times(spans)):
        if op in kind and spans[root[i]][1].startswith("op."):
            key = f"{kind[op]}:{layer_of(name)}"
            selfs[key] = selfs.get(key, 0.0) + ms
    for o in ops:
        n[o["kind"]] = n.get(o["kind"], 0) + 1
    self_per_op = {k: v / n[k.split(":")[0]] for k, v in sorted(selfs.items())}
    return m, absolute, self_per_op


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_start = os.getloadavg()[0]
    git_before = git("status", "--porcelain")
    build_s = build.build()

    gen, primary = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        con = W.connect(work)
        t0 = time.time()
        cfg, ref = gen(con, a.seed, work)
        gen_s = time.time() - t0
        t0 = time.time()
        expected_cuts = W.oracle_longlog(con, ref) if a.workload == "scd_longlog_read" else None
        ref_s = time.time() - t0
        cfg.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "trace": bool(a.trace), "cores": cores(), "work": work,
                    "setup_reps": SETUP_REPS[a.workload], "compact_every": COMPACT_EVERY})
        budget = DEADLINE_S - (time.time() - t_start)
        t0 = time.time()
        res = run_harness(cfg, work, budget)
        harness_s = time.time() - t0

        # ---- correctness, outside the timed section
        t0 = time.time()
        ops = res["ops"]
        bad = []
        if a.workload == "scd_longlog_read":
            bad += [f"read at cut {o['cut']}: hash differs from oracle"
                    for o in ops if o["hash"] != expected_cuts[o["cut"]]]
            if a.trace and not res["post"]["read_matches_composed"]:
                bad.append("composed read differs from ScdReader.read")
            checked = len(ops)
        elif a.workload == "scd_churn_bigscan":
            checked, b = W.oracle_churn(con, ref, ops)
            bad += b
        else:
            bad += [f"pass {i}: a row's hash differs from the set-up reference"
                    for i, o in enumerate(ops) if not o["hash_ok"]]
            checked, b = W.oracle_pipeline(con, ref, res["post"])
            bad += b
        check_s = time.time() - t0
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    git_after = git("status", "--porcelain")
    if git_before != git_after:
        bad.append("the run changed `git status --porcelain`")

    prim = [o["lat_s"] for o in ops if o["kind"] == primary]
    by_kind = lambda k: [o["lat_s"] for o in ops if o["kind"] == k]  # noqa: E731
    attempted = len(ops)
    failed = min(attempted, len(bad))
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": quantile(prim, 0.5),
        "op_p90_s": quantile(prim, 0.9),
        "ops_per_s": attempted / res["wall_s"],
        "peak_heap_mb": res["peak_heap_mb"],
    }
    named = {
        "setup_s": e2e["setup_s"],
        "read_p50_s": quantile(by_kind("read"), 0.5) if by_kind("read") else None,
        "read_p90_s": quantile(by_kind("read"), 0.9) if by_kind("read") else None,
        "append_p50_s": quantile(by_kind("append"), 0.5) if by_kind("append") else None,
        "compact_p50_s": quantile(by_kind("compact"), 0.5) if by_kind("compact") else None,
        "pass_p50_s": quantile(by_kind("pass"), 0.5) if by_kind("pass") else None,
        "ops_per_s": e2e["ops_per_s"],
        "fail_ratio": failed / attempted,
        "peak_heap_mb": e2e["peak_heap_mb"],
    }
    units = {"ops_per_s": "ops/s", "fail_ratio": "ratio", "peak_heap_mb": "MB"}
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "tracing": bool(a.trace),
        "nproc": os.cpu_count(), "master": res["spark"]["master"], "spark": res["spark"]["version"],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0], "jvm": res["jvm"],
        "git_commit": (git("rev-parse", "HEAD") or "").strip() or None,
        "source_stamp": open(os.path.join(build.OUT, "stamp")).read(),
        "samples": {k: len(by_kind(k)) for k in ("read", "append", "compact", "pass")},
        "op_latencies_s": [[o["kind"], o["lat_s"]] for o in ops],
        "build_s": build_s, "gen_s": gen_s, "harness_s": harness_s, "oracle_ref_s": ref_s, "check_s": check_s,
        "setup_s_each": res["setup_s"], "timeline_s": res["timeline_s"], "checked": checked, "errors": bad[:20],
    }
    detail = {"stamp": stamp,
              "end_to_end_named": {k: {"value": v, "unit": units.get(k, "s")} for k, v in named.items()}}
    if a.trace:
        m, absolute, selfs = per_layer(res, primary)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}
        detail["layer_ms_per_op"] = absolute
        detail["self_ms_per_op"] = selfs
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({"stamp": stamp, "spans": res["spans"], "ops": ops,
                       "counters_total": res["counters_total"], "per_layer": m,
                       "layer_ms_per_op": absolute, "self_ms_per_op": selfs}, fh)
    else:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in e2e.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _unit(name):
    if name in ("ops_per_s", "peak_heap_mb"):
        return {"ops_per_s": "1/s", "peak_heap_mb": "MB"}[name]
    for suffix, unit in (("_s", "s"), ("ms", "ms"), ("_share", "ratio"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
