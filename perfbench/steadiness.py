#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload and report, for every
end-to-end metric, the median and the quartile spread of its values as a
share of the median — the steadiness check a benchmark must pass before
its numbers can back a claim.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/evidence/set1.json
    python3 perfbench/steadiness.py --compare perfbench/evidence/set1.json perfbench/evidence/set2.json

``--compare`` exits 0 when the two sets meet the acceptance rule and marks
every metric whose spread is not below a third of its bound.

Run from the repository root. Runs are sequential; each is one
``perfbench/run.py`` process with the ``run_seconds`` of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("inf")}


def run_set(seeds: list[int], workloads: list[str], seconds: int) -> dict:
    out: dict = {"host": {"cpus": os.cpu_count(),
                          "machine": platform.machine()},
                 "run_seconds": seconds, "seeds": seeds, "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seeds:
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", "0"], capture_output=True, text=True)
            wall = time.monotonic() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            res = json.loads(last) if p.returncode == 0 else None
            runs.append({"seed": seed, "rc": p.returncode, "wall_s": wall,
                         "result": res})
            print(f"{w} seed={seed} rc={p.returncode} wall={wall:.1f}s",
                  file=sys.stderr, flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        names = ok[0]["metrics"] if ok else {}
        out["workloads"][w] = {
            "runs": runs,
            "metrics": {m: spread([r["metrics"][m]["value"] for r in ok])
                        for m in names} if len(ok) >= 2 else {}}
    return out


def compare(a: dict, b: dict, bench: dict) -> bool:
    """Two sets of the same code against BENCHMARK.json. Accepted when
    every spread but setup_s's is within its bound and no second median is
    worse than the first by more than the bound; ``steady`` additionally
    marks each metric whose spreads (setup_s's too) are both below a third
    of its bound, the margin a benchmark should keep."""
    ok = True
    better = {m["name"]: m for m in bench["end_to_end"]}
    for w, wa in a["workloads"].items():
        wb = b["workloads"][w]
        for m, sa in wa["metrics"].items():
            sb = wb["metrics"][m]
            bound = better[m]["bound"]
            sign = 1 if better[m]["better"] == "lower" else -1
            drift = sign * (sb["median"] - sa["median"]) / sa["median"]
            worst = max(sa["iqr_share"], sb["iqr_share"])
            good = (m == "setup_s" or worst <= bound) and drift <= bound
            ok &= good
            print(f"{w:16s} {m:16s} median {sa['median']:12.3f} → "
                  f"{sb['median']:12.3f} drift {drift:+.3f}  iqr "
                  f"{sa['iqr_share']:.3f}/{sb['iqr_share']:.3f}  bound "
                  f"{bound}  {'ok' if good else 'FAIL'}"
                  f"{'' if worst < bound / 3 else '  (not steady)'}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default="")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    with open(BENCH) as f:
        bench = json.load(f)
    if args.compare:
        with open(args.compare[0]) as f1, open(args.compare[1]) as f2:
            return 0 if compare(json.load(f1), json.load(f2), bench) else 1
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    res = run_set(_seeds(args.seeds), workloads, bench["run_seconds"])
    for w, d in res["workloads"].items():
        for m, s in d["metrics"].items():
            print(f"{w:16s} {m:16s} median {s['median']:12.3f} "
                  f"iqr_share {s['iqr_share']:.3f}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
