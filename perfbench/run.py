#!/usr/bin/env python3
"""Benchmark entry point; run it from the root of a checkout.

    python3 perfbench/run.py --workload analyst_fit --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark's JVM program (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs it,
replays the output checks in DuckDB (perfbench/check.py) and prints, as the
last line of stdout, one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. A line before it carries details (error rate, warm-up time,
check results, per-kind latencies). Everything is written under
$CARGO_TARGET_DIR (default .bench_build) and the run's own directory is
removed at the end.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. Request latencies cluster by kind, so a single order
    statistic jumps between clusters from run to run; this estimate moves
    smoothly with every sample."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
                 + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    grid = np.concatenate([[0.0], t, [1.0]])[: len(cdf)]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(np.dot(weights, xs))


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def steal_s():
    """CPU time the hypervisor gave to others (all CPUs), from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(classpath, workload, seed, inputs, work, seconds, trace, out, budget_s):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss16m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--inputs", str(inputs), "--work", str(work),
            "--seconds", str(seconds), "--trace", str(trace), "--out", str(out)]
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            proc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"the JVM exceeded {budget_s:.0f} s; log: {log}")
    if proc.returncode != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        fail("the JVM failed:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def failures(result, check_results):
    """Timed operations that threw or whose output check failed."""
    bad_specs, bad_kinds = set(), set()
    for name, spec, reason in check_results:
        if reason is None:
            continue
        if spec == name:
            bad_kinds.add(name)
        else:
            bad_specs.add(spec)
    ops = result["ops"]
    failed = [o for o in ops if o["error"] or o["spec"] in bad_specs or o["kind"] in bad_kinds]
    return len(failed), len(ops)


def end_to_end(result, workload):
    """An operation's latency is a request's (analyst_fit) or, for the batch
    workload, the whole job's: what its user waits for."""
    s = result["summary"]
    if workload == "analyst_fit":
        lat = [o["ms"] for o in result["ops"]]
        items_per_s = s["items"] / result["wall_s"]
    else:
        lat = [w * 1e3 for w in s["job_wall_s"]]
        items_per_s = median([s["items"] / w for w in s["job_wall_s"]])
    return {
        "setup_s": metric(result["setup_s"], "s"),
        "latency_p50_ms": metric(hd_quantile(lat, 0.5), "ms"),
        "latency_p90_ms": metric(hd_quantile(lat, 0.9), "ms"),
        "items_per_s": metric(items_per_s, "1/s"),
        "heap_after_gc_mb": metric(result["heap_after_gc_mb"], "MB"),
        "stored_bytes_per_input_byte": metric(s["stored_bytes"] / s["input_bytes"], "ratio"),
    }


def per_layer(result, workload):
    """Per-layer metrics from the traced operations' spans."""
    ops = {o["id"]: o for o in result["ops"]}
    spans = result["spans"]
    op_spans = [sp for sp in spans if sp["op"] >= 0]
    traced_ops = [ops[sp["op"]] for sp in op_spans]
    x = result["trace_extras"]
    cores = result["cores"]

    def dur_s(sp):
        return (sp["end_ns"] - sp["start_ns"]) / 1e9

    def by_layer(layer):
        return [sp for sp in op_spans if sp["name"] == layer]

    def self_s(sp):
        kids = [c for c in spans if c["parent"] == sp["id"]]
        return dur_s(sp) - sum(dur_s(c) for c in kids)

    # work units a busy time is spread over: traced jobs (batch) or traced
    # blocks of one request per kind (analyst)
    if workload == "analyst_fit":
        units = max(1, len(traced_ops) // 14)
    else:
        units = max(1, sum(1 for sp in spans if sp["op"] < 0))

    def p50_ms(layer):
        return median([dur_s(sp) * 1e3 for sp in by_layer(layer)])

    def busy_s(*layers):
        return sum(self_s(sp) for l in layers for sp in by_layer(l)) / units

    def phase(sp, a, b):
        m = sp["marks"]
        start = sp["start_ns"] if a is None else m.get(a)
        end = sp["end_ns"] if b is None else m.get(b)
        return None if start is None or end is None else (end - start) / 1e6

    framed = [sp for sp in op_spans if "build_end" in sp["marks"]]
    n = max(1, len(op_spans))
    tot = {k: sum(sp["spark"][k] for sp in spans) for k in spans[0]["spark"]} if spans else {}
    wall_s = sum(dur_s(sp) for sp in op_spans)

    def total(k):
        return tot.get(k, 0)

    def step_s(layer, a=None, b=None):
        return median([phase(sp, a, b) / 1e3 for sp in by_layer(layer)
                       if phase(sp, a, b) is not None])

    def exchanges(kind):
        return median([o["exchanges"] for o in traced_ops if o["kind"] == kind and "exchanges" in o])

    dup = by_layer("duplicates")
    verified = median([o["rows"] for o in result["ops"] if o["kind"] == "dedup_minhash_lsh"])
    candidate = x.get("dedup.candidate_pairs", 0)
    last = traced_ops[-1] if traced_ops else {}

    # tracing overhead: per-kind medians of traced against untraced
    # operations, over the kinds both run after the first (untraced) block
    # or job, which ends where the first traced operation starts. The
    # pipeline write is left out: in a traced job the calls made only for
    # tracing fill its cache scope first.
    first = next((i for i, o in enumerate(result["ops"]) if o["traced"]), len(result["ops"]))
    later = [o for o in result["ops"][first:] if o["kind"] != "process_and_write"]
    kinds = {o["kind"] for o in later if o["traced"]} & {o["kind"] for o in later if not o["traced"]}
    t = sum(median([o["ms"] for o in later if o["kind"] == k and o["traced"]]) for k in kinds)
    u = sum(median([o["ms"] for o in later if o["kind"] == k and not o["traced"]]) for k in kinds)
    overhead = (t / u - 1.0) * 100 if u else 0.0

    m = {
        "request.build_ms": (median([phase(sp, None, "build_end") for sp in framed]), "ms"),
        "request.plan_ms": (median([phase(sp, "build_end", "plan_end") for sp in framed]), "ms"),
        "request.exec_ms": (median([phase(sp, "plan_end", None) for sp in framed]), "ms"),
        "spark.jobs": (total("jobs") / n, "count"),
        "spark.stages": (total("stages") / n, "count"),
        "spark.tasks": (total("tasks") / n, "count"),
        "spark.task_cpu_s": (total("cpu_ns") / 1e9 / n, "s"),
        "spark.core_util": (total("run_ms") / 1e3 / (wall_s * cores) if wall_s else 0.0, "ratio"),
        "spark.gc_s": (total("gc_ms") / 1e3 / n, "s"),
        "spark.shuffle_write_mb": (total("shuffle_write_b") / 1048576 / n, "MB"),
        "spark.shuffle_fetch_wait_s": (total("fetch_wait_ms") / 1e3 / n, "s"),
        "spark.spill_mb": (total("spill_b") / 1048576 / n, "MB"),
        "spark.exchanges": (median([o["exchanges"] for o in traced_ops if "exchanges" in o]), "count"),
        "views.p50_ms": (p50_ms("views"), "ms"),
        "docops.p50_ms": (p50_ms("docops"), "ms"),
        "semantic_search.p50_ms": (p50_ms("semantic_search"), "ms"),
        "hybrid_search.p50_ms": (p50_ms("hybrid_search"), "ms"),
        "served_search.p50_ms": (p50_ms("served_search"), "ms"),
        "served_search.index_build_s": (x.get("served_search.index_build_s", 0.0), "s"),
        "relevance.p50_ms": (p50_ms("relevance"), "ms"),
        "relevance.busy_s": (busy_s("relevance"), "s"),
        "duplicates.p50_ms": (p50_ms("duplicates"), "ms"),
        "duplicates.jobs_per_call": (median([sp["spark"]["jobs"] for sp in dup]), "count"),
        "duplicates.busy_s": (busy_s("duplicates"), "s"),
        "duplicates.edges": (x.get("duplicates.edges", 0), "count"),
        "summarizer.busy_s": (busy_s("summarizer"), "s"),
        "priority.busy_s": (busy_s("priority"), "s"),
        "pipeline.write_s": (step_s("pipeline.write"), "s"),
        "pipeline.output_mb": (x.get("pipeline.output_mb", 0.0), "MB"),
        "ingest.parse_s": (busy_s("ingest.parse"), "s"),
        "ingest.write_s": (step_s("ingest.write"), "s"),
        "ingest.msgs": (x.get("ingest.msgs", 0), "count"),
        "ingest.output_mb": (x.get("ingest.output_mb", 0.0), "MB"),
        "dedup.exact_s": (step_s("dedup.exact"), "s"),
        "dedup.jaccard_s": (step_s("dedup.jaccard"), "s"),
        "dedup.containment_s": (step_s("dedup.containment"), "s"),
        "dedup.minhash_lsh_s": (step_s("dedup.minhash_lsh"), "s"),
        "dedup.minhash_dedup_s": (step_s("dedup.minhash_dedup"), "s"),
        "dedup.index_write_s": (step_s("dedup.persisted", None, "build_end"), "s"),
        "dedup.probe_s": (step_s("dedup.persisted", "build_end", None), "s"),
        "dedup.admission_s": (step_s("dedup.admission"), "s"),
        "dedup.candidate_pairs": (candidate, "count"),
        "dedup.verified_pairs": (verified, "count"),
        "dedup.verify_yield": (verified / candidate if candidate else 0.0, "ratio"),
        "dedup.jaccard_exchanges": (exchanges("dedup_jaccard"), "count"),
        "dedup.containment_exchanges": (exchanges("dedup_containment"), "count"),
        "caches.cached_rdds": (last.get("cached_rdds", 0), "count"),
        "caches.persistent_rdds": (last.get("persistent_rdds", 0), "count"),
        "caches.cached_mb": (last.get("cached_mb", 0.0), "MB"),
        "jvm.gc_s": (result["jvm_gc_s"], "s"),
        "jvm.heap_after_gc_mb": (result["heap_after_gc_mb"], "MB"),
        "trace.overhead_pct": (overhead, "%"),
    }
    return {k: metric(v, u) for k, (v, u) in m.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="full", choices=sorted(gen.SIZES),
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one checked output (self-test of the checks)")
    a = ap.parse_args(argv)
    t_start = time.monotonic()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        fail("run from the root of a checkout (src/main/scala not found)")
    build_dir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    classpath = build.build(build_dir)
    t_built = time.monotonic()  # a run that compiled may take longer than RUN_LIMIT_S

    run_dir = build_dir / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(a.seed, str(run_dir / "inputs"), [a.workload], a.scale)
        budget = RUN_LIMIT_S - (time.monotonic() - t_built)
        steal0 = steal_s()
        result = run_jvm(classpath, a.workload, a.seed, run_dir / "inputs" / a.workload, run_dir / "work",
                         a.seconds, a.trace, run_dir / "result.json", budget)
        steal = steal_s() - steal0
        t_oracle = time.monotonic()
        check_results = check.run_checks(result["checks"], corrupt=a.corrupt)
        oracle_s = time.monotonic() - t_oracle
        failed, attempted = failures(result, check_results)
        metrics = per_layer(result, a.workload) if a.trace else end_to_end(result, a.workload)
        if a.trace:
            traces = build_dir / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{a.workload}-seed{a.seed}.json").write_text(
                json.dumps({"ops": result["ops"], "spans": result["spans"]}))
        kinds = sorted({o["kind"] for o in result["ops"]})
        detail = {
            "detail": True, "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "error_rate": failed / attempted if attempted else 0.0,
            "retained_cache_mb": result["retained_cache_mb"],
            "warmup_s": result["warmup_s"], "session_s": result["session_s"],
            "setup_work_s": result["setup_work_s"],
            "timed_wall_s": result["wall_s"], "operations": len(result["ops"]),
            "check_rerun_s": result["checks_s"], "check_oracle_s": oracle_s,
            "run_s": time.monotonic() - t_start, "cpu_steal_s": steal,
            "summary": result["summary"],
            "p50_ms_by_kind": {k: median([o["ms"] for o in result["ops"] if o["kind"] == k])
                               for k in kinds},
            "latencies_ms": [round(o["ms"], 3) for o in result["ops"]],
            "checks": [{"name": n, "ok": r is None, **({"reason": r} if r else {})}
                       for n, _, r in check_results],
            "errors": [o["error"] for o in result["ops"] if o["error"]][:5],
        }
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0 and all(r is None for _, _, r in check_results),
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
