"""The benchmark workloads: what one measured iteration calls, how its
output is checked, and which per-layer figures it yields.

Each workload calls the program only through public entry points
(``run_pipeline``, ``score_pairs``) on inputs generated by ``gen``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import spans

PY_NODE = re.compile(r"\b(ArrowEvalPython|MapInArrow|PythonMapInArrow)\b")
PY_NODE_ID = re.compile(r"\bArrowEvalPython \((\d+)\)")
STAGES = {"01_files": "checkpoint", "02_blocks": "blocking",
          "03_pairs": "pairs", "04_scores": "scoring",
          "05_clusters": "cluster"}


class CheckFailed(Exception):
    pass


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _expect(data_dir: str, got: dict) -> None:
    """Outputs of one seed must be identical across iterations and
    across runs: the first success records them next to the inputs."""
    path = os.path.join(data_dir, "expect.json")
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            json.dump(got, f)
        os.replace(path + ".tmp", path)
        return
    with open(path) as f:
        want = json.load(f)
    if want != got:
        raise CheckFailed(f"output differs from earlier runs of this seed: "
                          f"{got} != {want}")


def pairwise_f1(pred: np.ndarray, truth: np.ndarray) -> float:
    """Pairwise F1 of two clusterings of the same items (label arrays
    aligned by item), from the contingency table."""
    def pairs(counts):
        counts = counts.astype(np.int64)
        return int((counts * (counts - 1) // 2).sum())

    _, both = np.unique(np.stack([pred, truth]), axis=1, return_counts=True)
    tp = pairs(both)
    n_pred = pairs(np.unique(pred, return_counts=True)[1])
    n_true = pairs(np.unique(truth, return_counts=True)[1])
    if n_pred + n_true == 0:
        return 1.0
    return 2.0 * tp / (n_pred + n_true)


class LinkNeardup:
    """``run_pipeline`` over families of near-duplicate documents.

    Chosen because it is pair-, scoring- and cluster-heavy: 04_scores is
    the largest stage.  01_files stays far below the 64 MiB broadcast
    gate, so scoring takes the broadcast ``mapInArrow`` path."""

    name = "link_neardup"
    target = "scoring"

    def __init__(self, data_dir: str, meta: dict, work: str):
        self.data_dir = data_dir
        self.meta = meta
        self.runs_dir = os.path.join(work, "runs")
        shutil.rmtree(self.runs_dir, ignore_errors=True)
        self.truth_ids = np.load(os.path.join(data_dir, "truth_ids.npy"))
        self.truth = np.load(os.path.join(data_dir, "truth_labels.npy"))

    def iteration(self, spark, tag: str, tracer) -> dict:
        from fuzzspark.pipeline import LinkageConfig, run_pipeline

        wd = os.path.join(self.runs_dir, tag)
        files = spark.read.parquet(os.path.join(self.data_dir, "files"))
        with tracer.span("run_pipeline", "pipeline"):
            run_pipeline(spark, files, wd,
                         LinkageConfig(threshold=gen.LINK_THRESHOLD))
        return {"wd": wd}

    def check(self, out: dict, plans: list[str]) -> dict:
        wd = out["wd"]
        manifests = {}
        for stage in STAGES:
            path = os.path.join(wd, stage, "_MANIFEST.json")
            with open(path) as f:
                manifests[stage] = json.load(f)
            manifests[stage]["mtime"] = os.path.getmtime(path)
        score_plans = [p for p in plans if re.search(
            r"Arguments: file:\S*/04_scores,", p)]
        if not score_plans or not all(PY_NODE.search(p) for p in score_plans):
            raise CheckFailed("04_scores plan has no Python scoring node")
        labels = pq.read_table(os.path.join(wd, "05_clusters"),
                               columns=["id", "cluster_id"])
        ids = labels["id"].to_numpy()
        order = np.argsort(ids)
        if not np.array_equal(ids[order], np.sort(self.truth_ids)):
            raise CheckFailed("05_clusters ids differ from the input ids")
        cl = labels["cluster_id"].to_numpy()[order]
        truth = self.truth[np.argsort(self.truth_ids)]
        f1 = pairwise_f1(cl, truth)
        if f1 < 0.99:
            raise CheckFailed(f"pairwise F1 {f1:.4f} < 0.99")
        sizes = np.unique(cl, return_counts=True)[1]
        digest = hashlib.sha256(np.stack([ids[order], cl]).tobytes())
        _expect(self.data_dir, {"multi_clusters": int((sizes > 1).sum()),
                                "labels_sha256": digest.hexdigest()})
        scores = pq.read_table(os.path.join(wd, "04_scores"),
                               columns=["exact_equal"])
        res = {"pairs": manifests["03_pairs"]["row_count"], "f1": f1,
               "manifests": manifests,
               "exact": int(pc.sum(scores["exact_equal"]).as_py() or 0),
               "broadcast": int(all("MapInArrow" in p for p in score_plans)),
               "written": _dir_bytes(wd),
               "cc_checkpoint": _dir_bytes(os.path.join(wd, "_cc_checkpoint"))}
        shutil.rmtree(wd, ignore_errors=True)
        return res

    def stage_spans(self, tracer, run: int, res: dict) -> None:
        """Rebuild one span per pipeline stage from its manifest (the
        manifest is written when the stage ends; ``elapsed_sec`` is how
        long it ran) under the iteration's ``run_pipeline`` span."""
        parent = next(s["id"] for s in tracer.spans
                      if s["run"] == run and s["name"] == "run_pipeline")
        for stage, layer in STAGES.items():
            m = res["manifests"][stage]
            tracer.add(stage, layer, m["mtime"] - m["elapsed_sec"],
                       m["mtime"], parent, run, rows=m["row_count"],
                       extra=m.get("extra"))

    def layers(self, res: dict, jobs: list[dict]) -> dict:
        """Per-layer figures of one traced iteration."""
        m = res["manifests"]

        def py(layer: str) -> dict:
            return spans.python_metrics(
                [j for j in jobs if j["span"] and j["span"]["layer"] == layer])

        extra = m["05_clusters"].get("extra") or {}
        phase2 = extra.get("phase2_edges") or []
        rounds = extra.get("round_edges") or []
        steps = list(zip(phase2, phase2[1:])) + list(zip(rounds, rounds[1:]))
        hist = m["04_scores"].get("score_histogram") or {}
        good = sum(c for b, c in hist.items()
                   if int(b) >= round(gen.LINK_THRESHOLD * 20))
        blocking, pairs, scoring = py("blocking"), py("pairs"), py("scoring")
        return {
            "checkpoint.files_s": m["01_files"]["elapsed_sec"],
            "checkpoint.written_mb": res["written"] / 1e6,
            "blocking.s": m["02_blocks"]["elapsed_sec"],
            "blocking.key_rows": m["02_blocks"]["row_count"],
            "blocking.python_run_s": blocking["python_run_s"],
            "blocking.shuffle_write_mb": blocking["shuffle_write_mb"],
            "pairs.s": m["03_pairs"]["elapsed_sec"],
            "pairs.rows": m["03_pairs"]["row_count"],
            "pairs.shuffle_write_mb": pairs["shuffle_write_mb"],
            "pairs.useful_ratio": good / max(1, m["03_pairs"]["row_count"]),
            "scoring.s": m["04_scores"]["elapsed_sec"],
            "scoring.python_run_s": scoring["python_run_s"],
            "scoring.to_python_mb": scoring["to_python_mb"],
            "scoring.exact_ratio": (res["exact"]
                                    / max(1, m["04_scores"]["row_count"])),
            "scoring.broadcast": res["broadcast"],
            "cluster.s": m["05_clusters"]["elapsed_sec"],
            "cluster.passes": len(phase2) + max(0, len(rounds) - 1),
            "cluster.round_edges_sum": sum(rounds),
            # 0 when no pass ran (the driver union-find took it all)
            "cluster.useful_pass_ratio": (sum(b < a for a, b in steps)
                                          / len(steps) if steps else 0.0),
            "cluster.checkpoint_mb": res["cc_checkpoint"] / 1e6,
        }

    def noop_arrow_s(self, spark) -> float:
        return 0.0  # the pipeline's pair set only exists inside 04_scores


SHORT_SCORERS = (("ratio", None), ("levenshtein", None),
                 ("damerau_levenshtein", None), ("jaro_winkler", 0.8))


def _oracle(scorer: str, s1: str, s2: str) -> float:
    from fuzzspark.kernels import fuzz, metrics
    if scorer == "ratio":
        return fuzz.ratio_raw(s1, s2)
    return getattr(metrics, scorer).normalized_similarity(s1, s2)


class ScoreShort:
    """``score_pairs`` over short part-name pairs with four scorers.

    Chosen because it is dominated by the kernel and the Arrow boundary,
    with no blocking and no clustering: per-row Python in the batch
    kernels shows here first."""

    name = "score_short"
    target = "functions"

    def __init__(self, data_dir: str, meta: dict, work: str):
        self.data_dir = data_dir
        self.pairs_dir = os.path.join(data_dir, "pairs")
        self.meta = meta
        t = pq.read_table(self.pairs_dir)
        ids = t["id"].to_numpy()
        sel = np.flatnonzero(ids % gen.SHORT_SAMPLE_MOD == 0)
        s1 = t["s1"].to_pylist()
        s2 = t["s2"].to_pylist()
        self.sample = {int(ids[i]): (s1[i], s2[i]) for i in sel}
        self.first = None

    def iteration(self, spark, tag: str, tracer) -> dict:
        from functools import reduce

        from pyspark.sql import DataFrame, functions as F

        from fuzzspark.functions import score_pairs

        pairs = spark.read.parquet(self.pairs_dir)
        # one action over all four scorers: Spark's fixed per-job cost is
        # paid once, and the four Python branches run side by side
        with tracer.span("score_pairs", "functions"):
            scored = reduce(DataFrame.unionByName, (
                score_pairs(pairs, "s1", "s2", scorer=scorer,
                            score_cutoff=cutoff)
                .select(F.lit(scorer).alias("scorer"), "id", "score",
                        "variant")
                for scorer, cutoff in SHORT_SCORERS))
            rows = scored.groupBy("scorer").agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(id, score))").alias("fp"),
                F.sum(F.col("variant").cast("long")).alias("tp"),
                F.collect_list(F.when(
                    F.col("id") % gen.SHORT_SAMPLE_MOD == 0,
                    F.struct("id", "score"))).alias("sample"),
            ).collect()
        return {r["scorer"]: r for r in rows}

    def check(self, rows: dict, plans: list[str]) -> dict:
        # one Python node per scorer branch, counted by plan node id
        nodes = {n for p in plans for n in PY_NODE_ID.findall(p)}
        if len(plans) != 1 or len(nodes) < len(SHORT_SCORERS):
            raise CheckFailed("a scoring branch has no Python scoring node")
        n = self.meta["pairs"]
        for scorer, cutoff in SHORT_SCORERS:
            row = rows.get(scorer)
            if row is None:
                raise CheckFailed(f"{scorer}: no scores")
            if cutoff is None and row["n"] != n:
                raise CheckFailed(f"{scorer}: {row['n']} scores for {n} pairs")
            got = {r["id"]: r["score"] for r in row["sample"]}
            for i, (a, b) in self.sample.items():
                want = _oracle(scorer, a, b)
                if cutoff is not None and want < cutoff:
                    if i in got:
                        raise CheckFailed(f"{scorer}: id {i} kept below cutoff")
                    continue
                if i not in got or abs(got[i] - want) > 1e-9:
                    raise CheckFailed(f"{scorer}: id {i} scored {got.get(i)}"
                                      f", oracle {want}")
        # the bit-exact fingerprints are compared within one run only: a
        # kernel change may move a score by an ulp and still be correct
        got = {s: [rows[s]["n"], rows[s]["fp"]] for s, _ in SHORT_SCORERS}
        if self.first is None:
            self.first = got
        elif got != self.first:
            raise CheckFailed(f"scores differ between iterations: "
                              f"{got} != {self.first}")
        jw = rows["jaro_winkler"]
        f1 = 2.0 * jw["tp"] / (jw["n"] + self.meta["variants"])
        return {"pairs": n * len(SHORT_SCORERS), "f1": f1}

    def stage_spans(self, tracer, run: int, res: dict) -> None:
        pass

    def layers(self, res: dict, jobs: list[dict]) -> dict:
        return {}

    def noop_arrow_s(self, spark) -> float:
        """Seconds to move the same pairs through a ``mapInArrow`` that
        returns a zero score per row: the Arrow boundary without the
        kernel (median of three passes)."""
        from pyspark.sql import functions as F

        def noop(batches):
            import pyarrow as pa
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.zeros(b.num_rows))], names=["score"])

        pairs = spark.read.parquet(self.pairs_dir).select("s1", "s2")
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            pairs.mapInArrow(noop, "score double").agg(F.sum("score")).collect()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)
