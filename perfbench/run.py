"""fuzzspark benchmark.  Run from the root of a fuzzspark checkout:

    python3 perfbench/run.py --workload link_neardup --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed`` into ``.perfbench_work/`` (cached
per seed), the engine runs single-process on ``local[4]``, and every
measured iteration's output is checked.  The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``:
``--trace 0`` reports the end-to-end metrics with tracing off,
``--trace 1`` repeats the measurement in a fresh session with the Spark
event log on and reports the per-layer metrics instead.  Exit code 0
when every check passed, 1 when one failed, 2 when there is no
fuzzspark to measure.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
import harness  # noqa: E402
import spans  # noqa: E402
from workloads import LinkNeardup, ScoreShort  # noqa: E402

IMPORT_S = time.perf_counter() - T0

WORKLOADS = {w.name: w for w in (LinkNeardup, ScoreShort)}
SETUPS = 3          # set-ups per run; setup_s takes their median
MAX_FAILED = 3      # stop a phase after this many failed iterations
# a window holds at least this many iterations, so its median is not
# moved by one iteration that a busy host slowed down
MIN_MEASURED = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "pairs_per_s": "1/s",
    "shuffle_write_mb": "MB", "peak_rss_mb": "MB", "pairwise_f1": "ratio",
}
SELF_LAYERS = ("pipeline", "checkpoint", "blocking", "pairs", "scoring",
               "cluster", "functions")
KERNELS = (("ratio", "short"), ("levenshtein", "short"),
           ("damerau_levenshtein", "short"), ("jaro_winkler", "short"),
           ("ratio", "doc"), ("ratio", "long"))
PER_LAYER = {
    "session.import_s": "s", "session.jvm_s": "s",
    "session.start_s": "s", "session.warm_s": "s",
    **{f"kernels.{s}.{c}_us": "us" for s, c in KERNELS},
    "functions.noop_arrow_s": "s", "functions.python_run_s": "s",
    "functions.to_python_mb": "MB", "functions.from_python_mb": "MB",
    "functions.worker_start_s": "s",
    "checkpoint.files_s": "s", "checkpoint.written_mb": "MB",
    "blocking.s": "s", "blocking.key_rows": "count",
    "blocking.python_run_s": "s", "blocking.shuffle_write_mb": "MB",
    "pairs.s": "s", "pairs.rows": "count", "pairs.shuffle_write_mb": "MB",
    "pairs.useful_ratio": "ratio",
    "scoring.s": "s", "scoring.python_run_s": "s",
    "scoring.to_python_mb": "MB", "scoring.exact_ratio": "ratio",
    "scoring.broadcast": "bool",
    "cluster.s": "s", "cluster.passes": "count",
    "cluster.round_edges_sum": "count", "cluster.useful_pass_ratio": "ratio",
    "cluster.checkpoint_mb": "MB",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.fetch_wait_s": "s", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "trace.overhead_s": "s", "trace.target_share": "ratio",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def measure(spark, wl, seconds: float, tracer, phase: str,
            plans: harness.PlanLog, min_runs: int = MIN_MEASURED) -> dict:
    """Run iterations until ``seconds`` have passed and at least
    ``min_runs`` have run; every iteration's output is checked outside
    its timed region."""
    results, attempted, failed = [], 0, 0
    sc = spark.sparkContext
    with harness.RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while failed < MAX_FAILED and (
                attempted < min_runs or time.perf_counter() < deadline):
            i, tag = attempted, f"{phase}{attempted}"
            attempted += 1
            sc.setJobDescription(f"{wl.name}#{tag}")
            try:
                plans.new_plans(spark)
                before = harness.shuffle_write_bytes(spark)
                with tracer.span("iteration", "bench", run=i):
                    t0 = time.perf_counter()
                    out = wl.iteration(spark, tag, tracer)
                    wall = time.perf_counter() - t0
                shuffle = harness.shuffle_write_bytes(spark) - before
                res = wl.check(out, plans.new_plans(spark))
            except Exception:
                failed += 1
                log(f"iteration {tag} failed:\n{traceback.format_exc()}")
                continue
            finally:
                sc.setJobDescription(None)
            res.update(run=i, wall=wall, shuffle=shuffle)
            results.append(res)
        peak = rss.peak
    log(f"phase {phase}: walls " + " ".join(f"{r['wall']:.3f}" for r in results)
        + f"; peak rss {peak / 1e6:.0f} MB = " + ", ".join(
            f"{k} {v / 1e6:.0f}" for k, v in sorted(rss.peak_by_comm.items())))
    return {"results": results, "attempted": attempted, "failed": failed,
            "peak_rss": peak}


def kernel_us(seed: int) -> dict:
    """µs/pair of ``batch_scores`` per scorer and length class: one
    thread, no Spark, median of five passes."""
    import numpy as np

    from fuzzspark.kernels.batch import batch_scores

    samples = gen.kernel_samples(seed)
    out = {}
    for scorer, cls in KERNELS:
        s1, s2 = (np.array(s, dtype=object) for s in samples[cls])
        batch_scores(scorer, "normalized_similarity", s1[:64], s2[:64])
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            batch_scores(scorer, "normalized_similarity", s1, s2)
            times.append(time.perf_counter() - t0)
        out[f"kernels.{scorer}.{cls}_us"] = (statistics.median(times)
                                             / len(s1) * 1e6)
    return out


def end_to_end(import_s: float, setups: list[dict], phase: dict) -> dict:
    res = phase["results"]
    return {
        "setup_s": import_s + setups[0]["jvm_s"] + statistics.median(
            t["start_s"] + t["warm_s"] for t in setups),
        "wall_s": statistics.median(r["wall"] for r in res),
        "pairs_per_s": statistics.median(r["pairs"] / r["wall"] for r in res),
        "shuffle_write_mb": statistics.median(r["shuffle"] for r in res) / 1e6,
        "peak_rss_mb": phase["peak_rss"] / 1e6,
        "pairwise_f1": statistics.median(r["f1"] for r in res),
    }


def per_layer(wl, import_s, setups, untraced, traced, tracer, evdir, seed,
              noop_s) -> dict:
    jobs = spans.read_eventlog(evdir)
    for r in traced["results"]:
        wl.stage_spans(tracer, r["run"], r)
    spans.attach_jobs(tracer.spans, jobs)
    per_run = []
    for r in traced["results"]:
        mine = [j for j in jobs if j["desc"] == f"{wl.name}#t{r['run']}"]
        py = spans.python_metrics(mine)
        selfs = spans.self_times(tracer.spans, r["run"])
        row = {**wl.layers(r, mine), **spans.spark_metrics(mine),
               **{f"functions.{k}": py[k] for k in (
                   "python_run_s", "worker_start_s", "to_python_mb",
                   "from_python_mb")},
               **{f"{layer}.self_s": selfs.get(layer, 0.0)
                  for layer in SELF_LAYERS},
               "trace.target_share": selfs.get(wl.target, 0.0) / r["wall"]}
        per_run.append(row)
        top = max(selfs, key=selfs.get)
        log(f"iteration t{r['run']}: largest self time {top} "
            f"{selfs[top]:.3f}s (chosen for {wl.target}); self times "
            + ", ".join(f"{k}={v:.3f}" for k, v in sorted(selfs.items())))
    metrics = {k: statistics.median(row.get(k, 0.0) for row in per_run)
               for k in PER_LAYER}
    metrics.update(kernel_us(seed))
    metrics["session.import_s"] = import_s
    metrics["session.jvm_s"] = setups[0]["jvm_s"]
    metrics["session.start_s"] = statistics.median(t["start_s"] for t in setups)
    metrics["session.warm_s"] = statistics.median(t["warm_s"] for t in setups)
    metrics["functions.noop_arrow_s"] = noop_s
    metrics["trace.overhead_s"] = (
        statistics.median(r["wall"] for r in traced["results"])
        - statistics.median(r["wall"] for r in untraced["results"]))
    return metrics


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fuzzspark", "__init__.py")):
        log("perfbench: no fuzzspark package in the current directory; "
            "run from the root of a fuzzspark checkout")
        return 2
    work = os.path.join(root, ".perfbench_work")
    harness.isolate(work)
    sys.path.insert(0, root)
    t0 = time.perf_counter()
    harness.import_engine()
    import_s = IMPORT_S + time.perf_counter() - t0

    data_dir, meta, gen_s = gen.ensure(args.workload, args.seed,
                                       os.path.join(work, "data"))
    log(f"inputs {json.dumps(meta)}; generated in {gen_s:.2f}s "
        f"(not part of setup_s)")
    wl = WORKLOADS[args.workload](data_dir, meta, work)
    plans = harness.PlanLog()
    # set-up 1 launches the JVM (timed on its own, as it happens once
    # per process); set-ups 2 and 3 restart the session in it.  Each
    # measured window opens right after an unmeasured, checked warm-up
    # iteration in its own session (JIT, codegen, Python worker pool).
    # A traced run then measures again in a fresh session with the
    # event log on.
    app = f"perfbench-{wl.name}"
    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                harness.stop(spark)
            spark, t = harness.start(app, work)
            setups.append(t)
        log(f"imports {import_s:.2f}s; jvm {setups[0]['jvm_s']:.2f}s; "
            "setups " + ", ".join(f"{t['start_s'] + t['warm_s']:.2f}s"
                                  for t in setups))
        phases = [measure(spark, wl, 0, spans.Tracer(False), "w", plans, 1)]
        untraced = measure(spark, wl, args.seconds, spans.Tracer(False),
                           "m", plans)
        phases.append(untraced)
        if args.trace:
            harness.stop(spark)
            evdir = os.path.join(work, "eventlog")
            shutil.rmtree(evdir, ignore_errors=True)
            spark, _ = harness.start(app, work, evdir)
            phases.append(measure(spark, wl, 0, spans.Tracer(False), "v",
                                  plans, 1))
            tracer = spans.Tracer(True)
            traced = measure(spark, wl, args.seconds, tracer, "t", plans)
            phases.append(traced)
            noop_s = wl.noop_arrow_s(spark)
    finally:
        if spark is not None:
            harness.stop(spark)
        harness.shutdown_jvm()

    attempted = sum(p["attempted"] for p in phases)
    failed = sum(p["failed"] for p in phases)
    if all(p["results"] for p in phases):
        if args.trace:
            values = per_layer(wl, import_s, setups, untraced, traced,
                               tracer, evdir, args.seed, noop_s)
            units = PER_LAYER
            tracer.dump(os.path.join(work, f"spans-{wl.name}.jsonl"))
        else:
            values = end_to_end(import_s, setups, untraced)
            units = END_TO_END
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {}
    for k, m in metrics.items():
        log(f"  {k:34s} {m['value']:>16.6g} {m['unit']}")
    ok = failed == 0 and bool(metrics)
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
