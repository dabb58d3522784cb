#!/usr/bin/env python3
"""Run ``run.py`` over seeds and record the results with their spread.

    python3 perfbench/baseline.py --workloads tail_cow,tail_mor_serve \\
        --seeds 1-10 --out perfbench/results/local4.json

For each workload: the host calibration burn once, then one untraced run
per seed (``--trace-too`` adds a traced run on the same seed, whose
span file carries the end-to-end figures measured under tracing, so the
tracing overhead per metric is their difference). Prints, per workload and
metric, the median and the quartile spread (Q3−Q1)/median as
``statistics.quantiles(values, n=4)`` gives it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procstat import calibrate  # noqa: E402


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def one(workload: str, seed: int, seconds: int, trace: int, cpus: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    rec = {"workload": workload, "seed": seed, "trace": trace, "cpus": cpus, "rc": p.returncode,
           "wall_s": wall, "result": res}
    diag = [ln for ln in p.stderr.splitlines() if ln.startswith('{"setup"')]
    if diag:
        rec["diagnostics"] = json.loads(diag[-1])
    if p.returncode != 0:
        rec["stderr_tail"] = p.stderr[-2000:]
    if trace:
        path = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-seed{seed}.json")
        if os.path.exists(path):
            with open(path) as f:
                span_file = json.load(f)
            rec["end_to_end_traced"] = span_file["end_to_end_traced"]
    return rec


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def reported(rec: dict) -> dict[str, float]:
    """The figures a run printed on stderr only."""
    return {k: m["value"] for k, m in rec.get("diagnostics", {}).get("reported", {}).items()}


def summarize(records: list[dict]) -> dict:
    out: dict = {}
    for rec in records:
        if rec["trace"] or not rec["result"]:
            continue
        key = f"{rec['workload']}@local[{rec['cpus']}]"
        figures = {name: m["value"] for name, m in rec["result"]["metrics"].items()}
        figures.update(reported(rec))
        for name, v in figures.items():
            out.setdefault(key, {}).setdefault(name, []).append(v)
    table = {}
    for key, metrics in out.items():
        table[key] = {}
        for name, vals in metrics.items():
            if len(vals) >= 2:
                med, sp = spread(vals)
                table[key][name] = {"median": med, "iqr_over_median": sp, "n": len(vals)}
    return table


def write(args, hosts: dict, records: list[dict]) -> dict:
    """Write everything recorded so far (after every run, so an interrupted
    session keeps its runs); returns the summary."""
    summary = summarize(records)
    overhead = {}
    for rec in records:
        if rec["trace"] and "end_to_end_traced" in rec:
            plain = next((r for r in records if not r["trace"] and r["workload"] == rec["workload"]
                          and r["seed"] == rec["seed"] and r["result"]), None)
            if plain:
                base = {k: m["value"] for k, m in plain["result"]["metrics"].items()}
                base.update(reported(plain))
                overhead.setdefault(rec["workload"], []).append({
                    "seed": rec["seed"],
                    **{k: v / base[k] - 1.0 for k, v in rec["end_to_end_traced"].items() if base.get(k)},
                })
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"args": vars(args), "host_calibration": hosts, "summary": summary,
                   "tracing_overhead": overhead, "runs": records}, f, indent=1)
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--trace-too", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    records, hosts = [], {}
    for w in args.workloads.split(","):
        hosts[w] = calibrate()
        for s in seeds(args.seeds):
            for trace in (0, 1) if args.trace_too else (0,):
                rec = one(w, s, args.seconds, trace, args.cpus)
                records.append(rec)
                print(json.dumps({k: rec[k] for k in ("workload", "seed", "trace", "rc", "wall_s")}), flush=True)
                write(args, hosts, records)
    summary = write(args, hosts, records)
    for key, metrics in summary.items():
        for name, s in metrics.items():
            print(f"{key:28s} {name:24s} median={s['median']:.6g} spread={s['iqr_over_median']:.3f}")
    return 0 if all(r["rc"] == 0 for r in records) else 1


if __name__ == "__main__":
    sys.exit(main())
