#!/usr/bin/env python3
"""Record one untraced and one traced run of every workload as Markdown.

    python3 perfbench/record.py --seed 1 --seconds 5 > perfbench/RECORD.md

For each workload the record holds the end-to-end figures of both runs,
the tracing overhead (traced minus untraced) and the traced run's
per-layer table. Layers a workload does not exercise read 0 and are left
out of its table.
"""
import argparse
import json
import os
import platform
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
RUN = BENCH / "run.py"
WORKLOADS = ("extract_docs", "store_stream", "curate_pack")


def run(workload, seed, seconds, trace):
    res = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=BENCH.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    if res.returncode != 0 or not lines:
        sys.exit(f"record: {workload} trace={trace} failed (exit {res.returncode})")
    key = "traced_end_to_end" if trace else "end_to_end"
    e2e = next(l[key] for l in lines if key in l)
    return e2e, lines[-1]


def fmt(v):
    return f"{v:.4g}" if abs(v) < 1e6 else f"{v:.4e}"


def host():
    mem = ""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal"))
        mem = f", {kb / 2**20:.0f} GB memory"
    except (OSError, StopIteration):
        pass
    return f"{os.cpu_count()} cores{mem}, {platform.system()} {platform.machine()}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    out = [f"# Benchmark record\n",
           f"One untraced and one traced run per workload, seed {args.seed}, "
           f"{args.seconds:g} s windows, on {host()}. Regenerate with "
           f"`python3 perfbench/record.py --seed {args.seed} --seconds {args.seconds:g}`.\n"]
    for w in WORKLOADS:
        plain, result = run(w, args.seed, args.seconds, 0)
        traced, layers = run(w, args.seed, args.seconds, 1)
        out.append(f"## {w}\n")
        out.append(f"Correct: untraced {str(result['correct']).lower()}, "
                   f"traced {str(layers['correct']).lower()}.\n")
        out.append("| end-to-end | unit | untraced | traced | overhead |")
        out.append("| --- | --- | ---: | ---: | ---: |")
        for k, m in plain.items():
            t = traced[k]["value"]
            over = (t - m["value"]) / m["value"] * 100 if m["value"] else 0.0
            out.append(f"| `{k}` | {m['unit']} | {fmt(m['value'])} | {fmt(t)} | {over:+.1f}% |")
        out.append("")
        out.append("| per-layer (traced run) | unit | value |")
        out.append("| --- | --- | ---: |")
        for k, m in layers["metrics"].items():
            if m["value"]:
                out.append(f"| `{k}` | {m['unit']} | {fmt(m['value'])} |")
        out.append("")
    print("\n".join(out))


if __name__ == "__main__":
    main()
