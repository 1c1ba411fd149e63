"""Steadiness mode: two sets of benchmark runs back to back, compared.

    python3 perfbench/steady.py [--baseline perfbench/baseline.json]

Each of the two sets runs ``perfbench/run.py`` once per (seed, workload)
over every workload in BENCHMARK.json, seeds 1..10, with its
``run_seconds``. For every workload and end-to-end metric it reports
each set's median and quartile spread ((q3 - q1) / median) and whether

* both spreads stay within the metric's bound;
* the two medians agree: the second differs from the first, in either
  direction, by no more than the bound.

The summary is the last stdout line; ``--baseline`` also writes it, with
the host it was measured on, to a file. Exit code 1 if any check fails.
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

import host  # noqa: E402

SETS = 2
SEEDS = 10


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed ({proc.returncode}):\n"
                           + proc.stderr[-2000:])
    return json.loads(lines[-1])


def summarize(spec: dict, sets: list[dict]) -> dict:
    out: dict = {}
    for workload in sets[0]:
        rows = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians = [statistics.median(s[workload][name]) for s in sets]
            spreads = [spread(s[workload][name]) for s in sets]
            rows[name] = {
                "medians": medians,
                "spreads": spreads,
                "spread_ok": all(x <= bound for x in spreads),
                "agree": abs(medians[1] - medians[0]) / medians[0] <= bound,
            }
        out[workload] = rows
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--baseline", default=None, help="also write the summary here")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    sets = []
    for k in range(SETS):
        values: dict = {w: {m["name"]: [] for m in spec["end_to_end"]} for w in names}
        for seed in range(1, SEEDS + 1):
            for w in names:
                rec = run_once(w, seed, spec["run_seconds"])
                if not rec["correct"]:
                    raise RuntimeError(f"{w} seed {seed}: outputs are wrong: {rec}")
                for name, v in rec["metrics"].items():
                    values[w][name].append(v["value"])
                print(json.dumps({"set": k, "seed": seed, "workload": w,
                                  "metrics": {n: v["value"] for n, v in rec["metrics"].items()}}),
                      flush=True)
        sets.append(values)

    summary = {
        "host": {"cores": host.visible_cores(),
                 "mem_gib": round(host.mem_total_bytes() / (1 << 30), 1),
                 "date": time.strftime("%Y-%m-%d")},
        "seeds": SEEDS, "run_seconds": spec["run_seconds"],
        "workloads": summarize(spec, sets),
    }
    ok = all(r["spread_ok"] and r["agree"]
             for rows in summary["workloads"].values() for r in rows.values())
    summary["ok"] = ok
    if args.baseline:
        with open(args.baseline, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    print(json.dumps(summary, separators=(",", ":")))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
