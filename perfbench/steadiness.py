"""Steadiness check: run each workload repeatedly on the same commit,
one seed per run, and print every metric's median, quartiles and
relative spread (inter-quartile range / median).

    python3 perfbench/steadiness.py --runs 10 [--sets 2] [--workloads replay query_mix]
        [--trace 0|1|both] [--out steadiness.json]

Runs are sequential (never side by side) and read their settings from
BENCHMARK.json. With ``--sets 2`` the whole sequence is run twice (the
same seeds, a set after the other, so the sets are some minutes apart)
and each end-to-end metric's second median is compared with the first:
``drift`` is the share by which it got worse. With ``--trace both``
each seed also gets a traced run, and the tracing overhead is reported
per end-to-end metric as the traced median (``trace.<metric>``) over
the untraced median, minus 1.
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


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]),
        "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=180, check=False
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["notes"] = lines[:-1]
    return out


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "rel_spread": (q3 - q1) / med if med else 0.0,
        "n": len(values),
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    ap.add_argument("--out", default=None, help="write the summary as JSON here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    summary: dict = {"run_seconds": bench["run_seconds"], "sets": []}
    for k in range(args.sets):
        summary["sets"].append({})
        run_set(args, bench, names, bounds, summary["sets"][k], summary)
    if args.sets > 1:
        summary["drift"] = {}
        for name in names:
            first, second = summary["sets"][0][name], summary["sets"][-1][name]
            d = {}
            for m, s in first.get("trace0", {}).items():
                a, b = s["median"], second["trace0"][m]["median"]
                if a:
                    d[m] = (b - a) / a if better.get(m) == "lower" else (a - b) / a
            summary["drift"][name] = d
            print(f"== {name}: last set against the first (share worse)")
            for m, v in d.items():
                b = bounds.get(m)
                flag = "  OVER BOUND" if b is not None and v > b else ""
                print(f"   {m:45s} {v:+.3f}{flag}")
        if args.out:
            with open(args.out, "w") as f:
                json.dump(summary, f, indent=1, sort_keys=True)
    return 0


def run_set(args, bench, names, bounds, workloads: dict, summary: dict) -> None:
    traces = (0, 1) if args.trace == "both" else (int(args.trace),)
    for name in names:
        runs: dict[int, list[dict]] = {t: [] for t in traces}
        for i in range(args.runs):
            seed = args.first_seed + i
            for t in traces:
                r = run_once(bench, name, seed, t)
                runs[t].append(r)
                print(
                    f"{name} seed={seed} trace={t} wall={r['wall_s']:.1f}s "
                    f"correct={r['correct']} failed={r['failed']}/{r['attempted']}",
                    file=sys.stderr,
                    flush=True,
                )
        ws: dict = {"wall_s": spread([r["wall_s"] for t in traces for r in runs[t]])}
        for t in traces:
            metrics = sorted(runs[t][0]["metrics"])
            ws[f"trace{t}"] = {
                m: spread([r["metrics"][m]["value"] for r in runs[t]]) for m in metrics
            }
            ws[f"trace{t}_all_correct"] = all(
                r["correct"] and r["failed"] == 0 for r in runs[t]
            )
        if len(traces) == 2:
            ws["tracing_overhead"] = {
                m: ws["trace1"][f"trace.{m}"]["median"] / ws["trace0"][m]["median"] - 1
                for m in ws["trace0"]
                if f"trace.{m}" in ws["trace1"] and ws["trace0"][m]["median"]
            }
        workloads[name] = ws
        print(f"== {name}: wall per run median {ws['wall_s']['median']:.1f} s")
        for t in traces:
            print(f"   trace={t} all correct: {ws[f'trace{t}_all_correct']}")
            for m, s in ws[f"trace{t}"].items():
                if t == 1 and s["median"] == 0:
                    continue
                b = bounds.get(m)
                flag = ""
                if t == 0 and b is not None:
                    flag = f" bound {b:.2f}" + ("  OVER BOUND/3" if s["rel_spread"] > b / 3 else "")
                print(
                    f"   {m:45s} median {s['median']:14.4f}  q1 {s['q1']:14.4f}  "
                    f"q3 {s['q3']:14.4f}  spread {s['rel_spread']:.3f}{flag}"
                )
        for m, v in ws.get("tracing_overhead", {}).items():
            print(f"   tracing overhead {m:30s} {v:+.3f}")
        if args.out:  # after every workload, so a cut session keeps the rest
            with open(args.out, "w") as f:
                json.dump(summary, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
