"""Spark column functions for the scorer kernels.

``scorer_udf`` builds an Arrow-batched pandas UDF for any
(scorer, form) pair from SURVEY.md §2.1 — the ArrowEvalPython node is
the only place rows cross the JVM↔Python boundary, in batches bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch``.

``length_prefilter`` emits the plan-level pruning predicates that the
reference applies inside its kernels (length-difference cutoff,
src/distance/levenshtein.rs:1045-1047; Jaro length_filter,
src/distance/jaro.rs:122-131).  Catalyst cannot derive these from a
black-box UDF, so the pipeline adds them as explicit column predicates
*below* the UDF — they push down into joins/scans and are the single
biggest pruning win at scale.

``score_pairs`` scores any pair DataFrame in one scan and one
ArrowEvalPython node per call: exact-duplicate rows are shortcut inside
the batch (``batch_scores``), and a cutoff's ``score IS NOT NULL``
filter stays above the UDF instead of being pushed below it with a
second copy of the scorer (``_with_score_not_null``, also used by the
fuzzy top-k join and the streaming matcher).
"""

from __future__ import annotations

import functools
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from fuzzspark.kernels.batch import FORMS, SCORERS, batch_scores

__all__ = ["scorer_udf", "scorer_column", "length_prefilter",
           "sha256_column", "score_pairs"]


def _to_nullable(out: np.ndarray) -> pd.Series:
    mask = np.isnan(out)
    return pd.Series(pd.arrays.FloatingArray(out, mask))


def scorer_udf(scorer: str, form: str = "normalized_similarity", *,
               score_cutoff: Optional[float] = None, weights=None,
               pad: bool = False, prefix_weight: float = 0.1,
               score_hint: Optional[float] = None):
    """Vectorized pandas UDF ``(s1, s2) -> double`` (NULL = suppressed).

    Cutoff semantics follow the reference (src/common.rs:33-86): the
    score is never altered, only suppressed to NULL — so an additional
    ``WHERE score >= cutoff`` is behaviorally identical and lets
    Catalyst see the filter.
    """
    if scorer not in SCORERS:
        raise ValueError(f"unknown scorer {scorer!r}; one of {SCORERS}")
    if form not in FORMS:
        raise ValueError(f"unknown form {form!r}; one of {FORMS}")
    del score_hint  # reference API parity: a perf hint, accepted+ignored
    w = tuple(weights) if weights is not None else None

    @pandas_udf("double")
    def _udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        out = batch_scores(scorer, form, s1.to_numpy(), s2.to_numpy(),
                           score_cutoff=score_cutoff, weights=w, pad=pad,
                           prefix_weight=prefix_weight)
        return _to_nullable(out)

    _udf.__name__ = f"{scorer}_{form}"
    return _udf


@functools.lru_cache(maxsize=None)
def _cached_udf(scorer, form, score_cutoff, weights, pad, prefix_weight,
                deterministic=True):
    udf = scorer_udf(scorer, form, score_cutoff=score_cutoff,
                     weights=weights, pad=pad, prefix_weight=prefix_weight)
    return udf if deterministic else udf.asNondeterministic()


def _score_column(scorer, s1, s2, form, deterministic, score_cutoff,
                  weights, pad, prefix_weight) -> Column:
    udf = _cached_udf(scorer, form, score_cutoff,
                      tuple(weights) if weights else None, pad,
                      prefix_weight, deterministic)
    c1 = F.col(s1) if isinstance(s1, str) else s1
    c2 = F.col(s2) if isinstance(s2, str) else s2
    return udf(c1, c2)


def scorer_column(scorer: str, s1: Column | str, s2: Column | str,
                  form: str = "normalized_similarity", *,
                  score_cutoff: Optional[float] = None, weights=None,
                  pad: bool = False, prefix_weight: float = 0.1,
                  score_hint: Optional[float] = None) -> Column:
    """Convenience: a ready-to-select score column."""
    del score_hint  # reference API parity: a perf hint, accepted+ignored
    return _score_column(scorer, s1, s2, form, True, score_cutoff,
                         weights, pad, prefix_weight)


def _with_score_not_null(df, scorer: str, s1: Column | str,
                         s2: Column | str,
                         form: str = "normalized_similarity", *,
                         score_cutoff: Optional[float] = None, weights=None,
                         pad: bool = False, prefix_weight: float = 0.1,
                         score_hint: Optional[float] = None):
    """``df`` plus ``score``, keeping only the rows whose score is not
    NULL, in ONE ArrowEvalPython node.

    With a deterministic UDF, Catalyst pushes ``score IS NOT NULL``
    below the projection by inlining the UDF into the filter, and the
    plan scores every row twice.  This call site uses its own instance
    marked non-deterministic, which stops that pushdown; the scores it
    returns are deterministic all the same."""
    del score_hint  # reference API parity: a perf hint, accepted+ignored
    score = _score_column(scorer, s1, s2, form, False, score_cutoff,
                          weights, pad, prefix_weight)
    return df.withColumn("score", score).where(F.col("score").isNotNull())


def length_prefilter(len1: Column, len2: Column, scorer: str,
                     cutoff: float, *, prefix_weight: float = 0.1) -> Column:
    """Catalyst-native pruning predicate: TRUE iff the pair can still
    reach ``normalized_similarity >= cutoff`` based on lengths alone.

    ratio/indel: sim <= 2*min/(l1+l2)  (LCS <= min(l1, l2);
      src/distance/indel.rs:85-94 equivalent algebra).
    levenshtein/osa/dl/lcs_seq: dist >= |l1-l2|, maximum = max ->
      sim <= min/max (src/distance/levenshtein.rs:1045-1047).
    jaro family: sim <= (min/l1 + min/l2 + 1)/3 (length_filter,
      src/distance/jaro.rs:122-131); both-empty = 1.0 handled by
      the equality of the bound.
    hamming/prefix/postfix: sim <= min/max.
    """
    if scorer in ("partial_ratio", "token_set_ratio", "token_sort_ratio"):
        # NO valid length bound exists for these composites (ADVICE r5):
        # partial_ratio scores a short string CONTAINED in a long one at
        # 1.0; token_set_ratio('alpha', 'alpha beta ... zeta') == 1.0;
        # token_sort_ratio collapses whitespace ('a   b' vs 'a b' ->
        # 1.0), so raw input lengths bound none of them.  Pruning here
        # would silently drop perfect matches — emit TRUE (no prune);
        # their cost control is blocking/candidate generation, not a
        # length prune.
        return F.lit(True)
    lo = F.least(len1, len2).cast("double")
    hi = F.greatest(len1, len2).cast("double")
    both_empty = (len1 + len2) == 0
    if scorer in ("ratio", "indel"):
        bound = F.when(both_empty, F.lit(1.0)).otherwise(
            2.0 * lo / (len1 + len2).cast("double"))
    elif scorer in ("jaro", "jaro_winkler"):
        # jaro_winkler boost: sim' = sim + p*w*(1-sim) <= (bound+0.4(1-bound))
        # conservative: apply max prefix boost to the jaro length bound
        jb = (F.when(both_empty, F.lit(1.0))
               .when(lo == 0, F.lit(0.0))
               .otherwise((lo / hi + 2.0) / 3.0))
        if scorer == "jaro_winkler":
            # boost (<= 4 chars * prefix_weight) only fires when the true
            # jaro sim > 0.7; must scale with the caller's prefix_weight
            # (the reference imposes no cap on the weight).  The bound
            # formula jb + 4w(1-jb) is only an upper bound while it is
            # increasing in jb (w <= 0.25) — above that, no pruning.
            if float(prefix_weight) > 0.25:
                return F.lit(True)
            bound = F.when(jb > 0.7,
                           jb + 4.0 * float(prefix_weight) * (1.0 - jb)) \
                     .otherwise(jb)
        else:
            bound = jb
    else:
        bound = F.when(both_empty, F.lit(1.0)).otherwise(lo / hi)
    return bound >= F.lit(float(cutoff))


def sha256_column(col: Column | str) -> Column:
    """Per-row content integrity hash (BASELINE.json: sha256 equality)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("binary"), 256)


def score_pairs(pairs, s1: str, s2: str, *, scorer: str = "ratio",
                form: str = "normalized_similarity",
                score_cutoff: Optional[float] = None,
                keep_suppressed: bool = False, **kw):
    """One-call scorer for ANY user DataFrame of string-pair rows
    (round 5 public API): returns the input columns plus ``score``,
    with the full at-scale treatment the linkage pipeline uses —

    * the Catalyst-native length prefilter runs BELOW the Arrow scorer
      UDF (pushes into joins/scans; the reference's kernel-internal
      length prune, src/distance/levenshtein.rs:1045-1047, lifted to
      the plan level),
    * one scan and one ArrowEvalPython node: exact-duplicate rows take
      the perfect score inside the batch, before the kernels (see
      :func:`~fuzzspark.kernels.batch.batch_scores`),
    * with a cutoff, suppressed rows are filtered unless
      ``keep_suppressed=True`` keeps them as NULL scores (reference
      Option::None, src/common.rs:33-86).

    Extra kwargs (``weights``, ``pad``, ``prefix_weight``) pass through
    to :func:`scorer_column`.

        from fuzzspark.functions import score_pairs
        matches = score_pairs(df, "name_a", "name_b",
                              scorer="jaro_winkler", score_cutoff=0.9)
    """
    c1, c2 = F.col(s1), F.col(s2)
    df = pairs
    w = kw.get("weights")
    uniform = w is None or tuple(w) == (1, 1, 1)
    if (score_cutoff is not None and not keep_suppressed
            and form == "normalized_similarity" and uniform):
        # the length bound assumes uniform edit costs — with a custom
        # WeightTable the prune could wrongly suppress, so skip it (the
        # kernel-internal prune in batch_scores makes the same call)
        df = df.where(length_prefilter(
            F.length(c1), F.length(c2), scorer, score_cutoff,
            prefix_weight=kw.get("prefix_weight", 0.1)))
    if score_cutoff is not None and not keep_suppressed:
        return _with_score_not_null(df, scorer, c1, c2, form,
                                    score_cutoff=score_cutoff, **kw)
    return df.withColumn("score", scorer_column(
        scorer, c1, c2, form, score_cutoff=score_cutoff, **kw))
