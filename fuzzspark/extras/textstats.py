"""Text analysis operators: language-ID heuristic, quality scoring,
token counting, document fingerprinting.  All Catalyst-native column
expressions except language-ID (one Arrow-batched UDF)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = ["token_count_col", "quality_cols", "fingerprint_col",
           "langid_col", "langid_udf"]


def token_count_col(text="text"):
    """Whitespace token count (JVM-side)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(F.trim(text), r"\s+")))


def quality_cols(text="text"):
    """Standard corpus-quality signals as a dict of columns."""
    length = F.length(text)
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(text, "[^0-9]", ""))
    spaces = F.length(F.regexp_replace(text, "[^ ]", ""))
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    ntok = token_count_col(text)
    safe_len = F.when(length == 0, F.lit(1)).otherwise(length)
    return {
        "char_count": length,
        "token_count": ntok,
        "alpha_ratio": alpha / safe_len,
        "digit_ratio": digits / safe_len,
        "space_ratio": spaces / safe_len,
        "punct_ratio": punct / safe_len,
        "mean_token_len": F.when(ntok == 0, F.lit(0.0))
                           .otherwise((length - spaces) / ntok),
    }


def fingerprint_col(text="text", max_chars: int = 200):
    """Deterministic document fingerprint: position-weighted code-point
    sum mod 1e9+7 over the first max_chars chars (JVM-side aggregate —
    SQL-expressible, used as the DuckDB-oracled variant)."""
    return F.expr(
        f"aggregate(sequence(1, least(length({text}), {max_chars})),"
        f" cast(0 as bigint),"
        f" (acc, k) -> acc + k * ascii(substr({text}, k, 1))) % 1000000007")


def rolling_fingerprint_udf(window: int = 64, base: int = 1000003,
                            mod: int = (1 << 61) - 1):
    """Rabin-Karp rolling-hash fingerprint set: min-hash of all
    ``window``-gram rolling hashes (winnowing-style document signature)."""
    @pandas_udf("long")
    def _udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:
                out.append(None)
                continue
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32) \
                      .astype(np.uint64) if t else np.zeros(0, np.uint64)
            if len(codes) < window:
                h = np.uint64(0)
                for c in codes:
                    h = (h * np.uint64(base) + c) % np.uint64(mod)
                out.append(int(h))
                continue
            n = len(codes) - window + 1
            h = np.zeros(n, dtype=np.uint64)
            for i in range(window):
                h = (h * np.uint64(base) + codes[i:i + n]) % np.uint64(mod)
            out.append(int(h.min()))
        return pd.Series(out, dtype="Int64")
    return _udf


# tiny per-language stopword profiles for the heuristic language ID —
# deterministic, dependency-free (a real pipeline would plug fasttext
# here; the Spark plumbing is identical)
_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "que"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "code": ["def", "return", "if", "else", "for", "while", "import",
             "class", "fn", "let", "void", "int"],
}


def _lang_hits_col(text, words) -> F.Column:
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter(split(lower({text}), '\\\\s+'), "
        f"t -> array_contains(array({arr}), t)))")


def langid_col(text="text") -> F.Column:
    """Heuristic language ID, fully Catalyst-native (JVM-side): argmax
    of stopword-profile hit counts, ties to the alphabetically first
    language, 'unknown' when nothing matches or the text is NULL/empty.

    Same semantics as ``langid_udf`` (kept as the UDF fallback /
    cross-check) without any Python in the hot path."""
    langs = sorted(_PROFILES)
    hits = {lang: _lang_hits_col(text, _PROFILES[lang]) for lang in langs}
    best = F.greatest(*hits.values())
    expr = F.when(F.col(text).isNull() | (F.length(text) == 0)
                  | (best <= 0), F.lit("unknown"))
    for lang in langs:  # CASE order resolves ties alphabetically-first
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def langid_udf():
    """Heuristic language ID: argmax of stopword-profile hit rates.
    Returns 'unknown' when nothing matches.  Prefer ``langid_col`` (the
    Catalyst-native twin) in pipelines; this UDF is the reference
    implementation it is tested against."""
    profiles = {k: frozenset(v) for k, v in _PROFILES.items()}

    @pandas_udf("string")
    def _udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not t:
                out.append("unknown")
                continue
            toks = t.lower().split()
            if not toks:
                out.append("unknown")
                continue
            best, best_hits = "unknown", 0
            for lang in sorted(profiles):
                hits = sum(1 for w in toks if w in profiles[lang])
                if hits > best_hits:
                    best, best_hits = lang, hits
            out.append(best)
        return pd.Series(out)
    return _udf
