"""Stability mode: run the benchmark repeatedly and report whether its
end-to-end figures agree with themselves.  Run from the checkout root:

    python3 perfbench/stability.py --workload link_neardup --seed 1000

It makes two sets of ten ``run.py --trace 0`` processes at
BENCHMARK.json's ``run_seconds``, one seed each; set k uses seeds
``seed + 10k .. seed + 10k + 9``, so the second set verifies on seeds
the first never saw.  Per metric it prints each set's median, quartiles
(``statistics.quantiles(n=4)``) and spread (q3 - q1) / median, and
whether every spread stays within the metric's bound from
BENCHMARK.json and the second set's median is not worse than the
first's by more than that bound.  The host probe of ``bench.py``
(µs/pair of a fixed single-thread ratio workload; ~3.7 idle) is taken
before and after, so a set measured during a slow host phase can be
told apart.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import harness

SETS = 2
RUNS = 10


def host_probe_us() -> float | None:
    try:
        from bench import _host_probe_us
    except ImportError:
        return None
    return _host_probe_us()


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    took = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else {}
    if proc.returncode != 0 or not out.get("correct"):
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} "
                         f"(exit {proc.returncode})")
    return {k: v["value"] for k, v in out["metrics"].items()}, took


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1000)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    # the probe builds the native kernel: keep its cache in the checkout
    harness.isolate(os.path.join(os.getcwd(), ".perfbench_work"))
    sys.path.insert(0, os.getcwd())
    probe_pre = host_probe_us()
    sets = []
    for k in range(SETS):
        runs = []
        for j in range(RUNS):
            seed = args.seed + k * RUNS + j
            metrics, took = one_run(args.workload, seed, seconds)
            runs.append(metrics)
            print(f"set {k} seed {seed}: {took:.1f}s "
                  + " ".join(f"{n}={v:.5g}" for n, v in metrics.items()),
                  flush=True)
        sets.append(runs)
    probe_post = host_probe_us()

    report, steady = {}, True
    for name, m in spec.items():
        stats = [summary([r[name] for r in runs]) for runs in sets]
        base = stats[0]["median"]
        worse = [((s["median"] - base) if m["better"] == "lower"
                  else (base - s["median"])) / base for s in stats[1:]]
        ok_spread = all(s["spread"] <= m["bound"] for s in stats)
        ok_drift = all(w <= m["bound"] for w in worse)
        steady &= ok_spread and ok_drift
        report[name] = {"bound": m["bound"], "sets": stats,
                        "worse_than_first": worse,
                        "spread_ok": ok_spread, "agree": ok_drift}
        print(f"{name:18s} bound {m['bound']:.3f}  " + "  ".join(
            f"[{s['q1']:.5g} {s['median']:.5g} {s['q3']:.5g} "
            f"spread {s['spread']:.4f}]" for s in stats)
            + f"  spread_ok={ok_spread} agree={ok_drift}")
    print(f"host probe µs/pair: before {probe_pre}, after {probe_post}")
    print(json.dumps({"workload": args.workload, "steady": steady,
                      "host_probe_us_pre": probe_pre,
                      "host_probe_us_post": probe_post, "metrics": report}))
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
