#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size; run it from the root of a
checkout:

    python3 perfbench/selftest.py

Checks that
  - the same seed gives byte-identical inputs and another seed different ones;
  - every metric BENCHMARK.json names is emitted, with its unit, by the
    untraced (end-to-end) and traced (per-layer) run of every workload, and
    those runs pass their output checks;
  - a deliberately corrupted output is caught: the run reports failed
    operations and a non-zero error rate.
Each benchmark run starts a JVM with a cold warm-up, so this takes a few
minutes. Exits non-zero on the first failed expectation.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def digests(root):
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(Path(root).rglob("*")) if p.is_file()}


def run(workload, trace, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    expect(p.returncode == 0 and len(lines) >= 2,
           f"{workload} trace={trace} {' '.join(extra)} exits 0 with a result"
           + ("" if p.returncode == 0 else f"\n{p.stderr[-3000:]}"))
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with tempfile.TemporaryDirectory() as d:
        gen.generate(1, f"{d}/a", scale="tiny")
        gen.generate(1, f"{d}/b", scale="tiny")
        gen.generate(2, f"{d}/c", scale="tiny")
        a, b, c = digests(f"{d}/a"), digests(f"{d}/b"), digests(f"{d}/c")
        expect(a == b, "the same seed gives byte-identical inputs")
        expect(a.keys() == c.keys() and all(a[k] != c[k] for k in a),
               "another seed changes every input file")

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for section, trace in (("end_to_end", 0), ("per_layer", 1)):
        for w in spec["workloads"]:
            detail, res = run(w["name"], trace)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w['name']} trace={trace}: result has exactly the contract keys")
            for m in spec[section]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], float),
                       f"{w['name']} trace={trace}: {m['name']} emitted in {m['unit']}")
            expect(res["correct"] and res["failed"] == 0 and detail["error_rate"] == 0.0,
                   f"{w['name']} trace={trace}: outputs pass their checks")

    for w in spec["workloads"]:
        detail, res = run(w["name"], 0, "--corrupt")
        expect(not res["correct"] and res["failed"] > 0 and detail["error_rate"] > 0,
               f"{w['name']}: a corrupted output raises error_rate "
               f"({res['failed']}/{res['attempted']} failed)")


if __name__ == "__main__":
    main()
