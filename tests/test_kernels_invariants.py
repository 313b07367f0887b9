"""Metamorphic invariants + batch≡scalar + DuckDB cross-checks.

Mirrors the reference's test scaffolding (_test_distance wrappers,
src/distance/levenshtein.rs:1847-1890): symmetry, normalized in [0,1],
cutoff-consistency, batch ≡ individual; plus random pairs cross-checked
against DuckDB's string functions where semantics coincide.
"""

import math
import random

import numpy as np
import pytest

from fuzzspark.kernels import ALL_METRICS, batch_scores, ratio
from fuzzspark.kernels.batch import FORMS

ALPHABETS = ["ab", "abcde", "abcdefghij", "абвгд", "abc def ghi "]


def rand_pairs(n=300, seed=1234, max_len=150):
    rng = random.Random(seed)
    pairs = []
    for _ in range(n):
        alph = rng.choice(ALPHABETS)
        l1 = rng.randint(0, rng.choice([5, 20, 80, max_len]))
        l2 = rng.randint(0, rng.choice([5, 20, 80, max_len]))
        pairs.append(("".join(rng.choice(alph) for _ in range(l1)),
                      "".join(rng.choice(alph) for _ in range(l2))))
    # adversarial edges
    pairs += [("", ""), ("", "a"), ("a", ""), ("a", "a"), ("a", "b"),
              ("ab", "ba"), ("a" * 64, "a" * 64), ("a" * 65, "b" * 64),
              ("a" * 64 + "b", "a" * 64 + "c")]
    return pairs


PAIRS = rand_pairs()
SYM_METRICS = [m for m in ALL_METRICS if m != "hamming"]


@pytest.mark.parametrize("name", SYM_METRICS)
def test_symmetry_and_ranges(name):
    mod = ALL_METRICS[name]
    for s1, s2 in PAIRS:
        d12, d21 = mod.distance(s1, s2), mod.distance(s2, s1)
        assert d12 == d21 or math.isclose(d12, d21, abs_tol=1e-12), (name, s1, s2)
        nd = mod.normalized_distance(s1, s2)
        ns = mod.normalized_similarity(s1, s2)
        assert -1e-12 <= nd <= 1 + 1e-12, (name, s1, s2, nd)
        assert math.isclose(nd + ns, 1.0, abs_tol=1e-9)


@pytest.mark.parametrize("name", SYM_METRICS)
def test_cutoff_consistency(name):
    """value survives a cutoff iff it satisfies it — exact boundary."""
    mod = ALL_METRICS[name]
    for s1, s2 in PAIRS[:120]:
        ns = mod.normalized_similarity(s1, s2)
        assert mod.normalized_similarity(s1, s2, score_cutoff=ns) == ns
        eps = 1e-9
        if ns + eps <= 1.0:
            assert mod.normalized_similarity(s1, s2, score_cutoff=ns + eps) is None
        d = mod.distance(s1, s2)
        assert mod.distance(s1, s2, score_cutoff=d) == d
        if d > 0:
            assert mod.distance(s1, s2, score_cutoff=d - 1e-9) is None


@pytest.mark.parametrize("scorer", [
    "levenshtein", "indel", "lcs_seq", "osa", "damerau_levenshtein",
    "jaro", "jaro_winkler", "prefix", "postfix", "ratio",
])
@pytest.mark.parametrize("form", FORMS)
def test_batch_equals_scalar(scorer, form):
    s1 = [p[0] for p in PAIRS]
    s2 = [p[1] for p in PAIRS]
    got = batch_scores(scorer, form, s1, s2)
    if scorer == "ratio":
        import fuzzspark.kernels.fuzz as fz
        from fuzzspark.kernels.common import norm_dist_from
        exp = []
        for a, b in PAIRS:
            r = fz.ratio_raw(a, b)
            exp.append({"similarity": r, "distance": 1.0 - r,
                        "normalized_distance": 1.0 - r,
                        "normalized_similarity": r}[form])
    else:
        mod = ALL_METRICS[scorer]
        exp = [getattr(mod, form)(a, b) for a, b in PAIRS]
    for k, (e, g) in enumerate(zip(exp, got)):
        assert math.isclose(e, g, rel_tol=1e-12, abs_tol=1e-12), (
            scorer, form, PAIRS[k], e, g)


def test_batch_cutoff_and_nulls():
    s1 = ["abc", None, "abcd", "xyz"]
    s2 = ["abd", "abc", None, "xyz"]
    out = batch_scores("ratio", "normalized_similarity", s1, s2, score_cutoff=0.9)
    assert np.isnan(out[1]) and np.isnan(out[2])
    assert np.isnan(out[0])  # ratio(abc,abd)=2/3 < 0.9 suppressed
    assert out[3] == 1.0


def test_batch_hamming_error_modes():
    out = batch_scores("hamming", "distance", ["ham"], ["hamming"], pad=False)
    assert np.isnan(out[0])
    out = batch_scores("hamming", "distance", ["ham"], ["hamming"], pad=True)
    assert out[0] == 4.0
    with pytest.raises(Exception):
        batch_scores("hamming", "distance", ["ham"], ["hamming"],
                     pad=False, errors="raise")


def test_weighted_batch_matches_scalar():
    mod = ALL_METRICS["levenshtein"]
    s1 = [p[0] for p in PAIRS[:80]]
    s2 = [p[1] for p in PAIRS[:80]]
    for w in [(1, 1, 2), (2, 2, 3), (1, 1, 1), (3, 3, 3), (1, 2, 3), (0, 0, 5)]:
        got = batch_scores("levenshtein", "distance", s1, s2, weights=w)
        exp = [mod.distance(a, b, weights=w) for a, b in zip(s1, s2)]
        assert list(got) == exp, w


def test_weighted_vs_bruteforce_dp():
    """generalized weighted levenshtein vs a reference O(NM) DP."""
    def dp(a, b, ins, dele, sub):
        m, n = len(a), len(b)
        prev = [i * dele for i in range(m + 1)]
        for j in range(1, n + 1):
            cur = [j * ins] + [0] * m
            for i in range(1, m + 1):
                cur[i] = min(prev[i] + ins, cur[i - 1] + dele,
                             prev[i - 1] + (0 if a[i - 1] == b[j - 1] else sub))
            prev = cur
        return prev[m]

    mod = ALL_METRICS["levenshtein"]
    rng = random.Random(9)
    for _ in range(200):
        a = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 30)))
        b = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 30)))
        w = (rng.randint(0, 4), 0, rng.randint(0, 5))
        w = (w[0], w[0], w[2])  # reference reductions assume ins==del paths too
        assert mod.distance(a, b, weights=w) == dp(a, b, *w), (a, b, w)
        w2 = (rng.randint(1, 4), rng.randint(1, 4), rng.randint(1, 5))
        assert mod.distance(a, b, weights=w2) == dp(a, b, *w2), (a, b, w2)


def test_vs_duckdb_oracle():
    import duckdb
    con = duckdb.connect()
    mods = ALL_METRICS
    for s1, s2 in PAIRS[:150]:
        if not s1 or not s2:
            continue  # DuckDB edge semantics differ for empty strings
        if not (s1.isascii() and s2.isascii()):
            continue  # DuckDB metrics are byte-based; we are code-point-based
        row = con.execute(
            "SELECT levenshtein(?, ?), damerau_levenshtein(?, ?),"
            " jaro_similarity(?, ?), jaro_winkler_similarity(?, ?)",
            [s1, s2] * 4).fetchone()
        assert mods["levenshtein"].distance(s1, s2) == row[0], (s1, s2)
        assert mods["damerau_levenshtein"].distance(s1, s2) == row[1], (s1, s2)
        assert mods["jaro"].similarity(s1, s2) == pytest.approx(row[2], abs=1e-9), (s1, s2)
        assert mods["jaro_winkler"].similarity(s1, s2) == pytest.approx(row[3], abs=1e-9), (s1, s2)
        if len(s1) == len(s2):
            ham = con.execute("SELECT hamming(?, ?)", [s1, s2]).fetchone()[0]
            assert mods["hamming"].distance(s1, s2) == ham


# ------------------------------------- exact-duplicate shortcut parity

EQUAL = ["", "a", "kitten", "Иванко", "a" * 80, "  ", "hello world",
         "\U0001d11e x", "abc def ghi " * 12]
MIXED = [("kitten", "sitting"), ("", "abc"), ("ab", "ba"), ("abc", "abd"),
         (None, None), (None, "x"), ("x", None)]
SCORER_KW = [
    (s, {}) for s in ("levenshtein", "indel", "lcs_seq", "osa",
                      "damerau_levenshtein", "hamming", "jaro",
                      "jaro_winkler", "prefix", "postfix", "ratio",
                      "partial_ratio", "token_sort_ratio",
                      "token_set_ratio")
] + [("hamming", {"pad": True}), ("levenshtein", {"weights": (1, 1, 2)}),
     ("levenshtein", {"weights": (3, 2, 7)}),
     ("jaro_winkler", {"prefix_weight": 0.2})]


def _scalar(scorer, form, a, b, cutoff, kw):
    """The scalar oracle, NaN for NULL / suppressed / hamming error."""
    from fuzzspark.kernels import fuzz
    from fuzzspark.kernels.metrics import HammingError
    if a is None or b is None:
        return math.nan
    if scorer in ALL_METRICS:
        try:
            got = getattr(ALL_METRICS[scorer], form)(
                a, b, score_cutoff=cutoff, **kw)
        except HammingError:
            got = None
    else:  # composites: similarity-canonical with maximum 1
        sim = getattr(fuzz, scorer)(a, b)
        got = sim if form.endswith("similarity") else 1.0 - sim
        if cutoff is not None and (got > cutoff if "distance" in form
                                   else got < cutoff):
            got = None
    return math.nan if got is None else float(got)


def _cutoffs(form):
    if form == "normalized_similarity":
        return [None, 0.5, 1.5]   # 1.5 suppresses even the equal pairs
    if form == "similarity":
        return [None, 2, 10_000]  # above every maximum: all suppressed
    return [None, 0, 0.5]


@pytest.mark.parametrize("form", FORMS)
@pytest.mark.parametrize("scorer,kw", SCORER_KW,
                         ids=[f"{s}{kw}" for s, kw in SCORER_KW])
def test_exact_shortcut_matches_scalar(scorer, kw, form):
    """Equal pairs skip the kernels in batch_scores but still go through
    its normalization and cutoff: every scorer, form and cutoff must
    equal the scalar oracle, NULL/NULL included (NaN)."""
    pairs = [(s, s) for s in EQUAL] + MIXED
    s1 = np.array([a for a, _ in pairs], dtype=object)
    s2 = np.array([b for _, b in pairs], dtype=object)
    for cutoff in _cutoffs(form):
        got = batch_scores(scorer, form, s1, s2, score_cutoff=cutoff, **kw)
        for (a, b), g in zip(pairs, got):
            want = _scalar(scorer, form, a, b, cutoff, kw)
            assert (math.isnan(g) and math.isnan(want)) \
                or g == pytest.approx(want, abs=1e-12), (a, b, cutoff, g, want)


def test_exact_pairs_skip_the_kernels(monkeypatch):
    """The kernels never see an equal non-NULL pair, even in an
    all-equal batch."""
    from fuzzspark.kernels import batch
    seen = []
    raw_batch = batch._raw_batch

    def spy(scorer, s1, s2, valid, **kw):
        seen.extend((s1[i], s2[i]) for i in np.flatnonzero(valid))
        return raw_batch(scorer, s1, s2, valid, **kw)

    monkeypatch.setattr(batch, "_raw_batch", spy)
    for pairs in ([(s, s) for s in EQUAL] + MIXED, [("a", "a")] * 3):
        s1 = np.array([a for a, _ in pairs], dtype=object)
        s2 = np.array([b for _, b in pairs], dtype=object)
        out = batch_scores("ratio", "normalized_similarity", s1, s2)
        assert all(out[k] == 1.0 for k, (a, b) in enumerate(pairs)
                   if a is not None and a == b)
    assert seen and all(a != b for a, b in seen)
