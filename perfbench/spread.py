"""Spread report: run the benchmark over several seeds and print, per
workload and metric, the median, the quartiles and the quartile spread as
a share of the median, next to ``host.cpu_probe_ms`` and the CPU steal
share (``host.steal_share``) of the same runs.

    python3 perfbench/spread.py [--workloads query ingest] [--seeds 1-10]
        [--seconds N] [--trace 0] [--out perfbench/.spread/a.json]

Run it from the root of a checkout. The workloads default to all of
them and the run length to BENCHMARK.json's ``run_seconds``. The bounds
in BENCHMARK.json come from these spreads; a moved ``host.cpu_probe_ms``
or ``host.steal_share`` median tells host drift from a program change.
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
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    res = json.loads(lines[-1])
    for line in lines:
        for key in ("cpu_probe_ms", "steal_share"):
            if line.startswith(f"# host.{key} "):
                res[key] = float(line.split()[-1])
    return res


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    bench = json.load(open("BENCHMARK.json"))
    ap.add_argument("--workloads", nargs="+", choices=WORKLOADS,
                    default=list(WORKLOADS))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="write the raw runs here")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}
    raw: dict[str, list[dict]] = {}
    for w in args.workloads:
        raw[w] = []
        for s in args.seeds:
            t0 = time.monotonic()
            r = one_run(w, s, args.seconds, args.trace)
            wall = time.monotonic() - t0
            raw[w].append(dict(r, seed=s, wall_s=wall))
            print(f"ran {w} seed {s} in {wall:.1f} s: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", flush=True)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)),
                    exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)

    print(f"\n{'workload':8} {'metric':34} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'iqr/med':>8} {'bound':>6}")
    for w, runs in raw.items():
        names = list(runs[0]["metrics"])
        for name in names + ["cpu_probe_ms", "steal_share"]:
            vals = [r[name] if name in r else r["metrics"][name]["value"]
                    for r in runs]
            s = summary(vals)
            b = bounds.get(name)
            print(f"{w:8} {name:34} {s['median']:12.4f} {s['q1']:12.4f} "
                  f"{s['q3']:12.4f} {s['iqr_share']:8.3f} "
                  f"{'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
