#!/usr/bin/env python3
"""Run sets of benchmark runs and check them against the benchmark's own
bounds.

    # ten untraced runs per workload, seeds 1..10, appended to a file
    python3 perfbench/selfcheck.py collect --seeds 1-10 --out first.jsonl
    # a traced run per workload, for the per-layer numbers
    python3 perfbench/selfcheck.py collect --seeds 1 --trace 1 --out traced.jsonl
    # spreads and medians of two sets, and the tracing overhead
    python3 perfbench/selfcheck.py compare first.jsonl second.jsonl [traced.jsonl]

``compare`` passes when, for every workload and end-to-end metric in
BENCHMARK.json, each set's spread (quartile distance over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) is within the
metric's bound, and the second set's median is not worse than the
first's by more than the bound. Tracing overhead is
the traced runs' median commit latency minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(args) -> int:
    spec = load_spec()
    failed = 0
    for seed in parse_seeds(args.seeds):
        for name in (w["name"] for w in spec["workloads"]):
            cmd = spec["command"] + [
                "--workload", name, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                failed += 1
                print(f"{name} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            stamp, result = json.loads(lines[-2])["stamp"], json.loads(lines[-1])
            with open(args.out, "a") as f:
                f.write(json.dumps({"stamp": stamp, "result": result}) + "\n")
            print(f"{name} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}")
    return 1 if failed else 0


def load_runs(path: str) -> dict[str, list[dict]]:
    """workload -> list of metrics dicts (name -> value)."""
    out: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            out[rec["stamp"]["workload"]].append(
                {k: v["value"] for k, v in rec["result"]["metrics"].items()}
                | {"_correct": rec["result"]["correct"]}
            )
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def compare(args) -> int:
    spec = load_spec()
    first, second = load_runs(args.first), load_runs(args.second)
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        a, b = first.get(w, []), second.get(w, [])
        if len(a) < 2 or len(b) < 2:
            print(f"{w}: needs at least two runs in each set")
            ok = False
            continue
        bad_runs = sum(not r["_correct"] for r in a + b)
        if bad_runs:
            print(f"{w}: {bad_runs} runs failed the correctness gate")
            ok = False
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va, vb = [r[name] for r in a], [r[name] for r in b]
            sa, sb = spread(va), spread(vb)
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            verdict = "ok" if max(sa, sb, worse) <= bound else "FAIL"
            ok &= verdict == "ok"
            print(f"{w:16s} {name:30s} bound={bound:.2f} spread={sa:.3f}/{sb:.3f} "
                  f"median={ma:.4g}->{mb:.4g} worse_by={worse:+.3f} {verdict}")
    if args.traced:
        traced = load_runs(args.traced)
        for w, runs in traced.items():
            t = statistics.median(r["trace.commit_p50_s"] for r in runs)
            u = statistics.median(r["commit_p50_s"] for r in first.get(w, []) + second.get(w, []))
            print(f"{w:16s} tracing overhead on commit p50: {t - u:+.4f} s "
                  f"({(t - u) / u:+.1%}), tracer bookkeeping "
                  f"{statistics.median(r['trace.overhead_s'] for r in runs):.4f} s per run")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--seeds", required=True, help="N or N-M")
    c.add_argument("--out", required=True)
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p = sub.add_parser("compare")
    p.add_argument("first")
    p.add_argument("second")
    p.add_argument("traced", nargs="?")
    args = ap.parse_args(argv)
    return collect(args) if args.cmd == "collect" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
