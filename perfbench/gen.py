"""Seeded input generators for the benchmark workloads.

Every input is derived from ``--seed`` alone (numpy ``default_rng``), so
the same seed gives byte-identical inputs.  Inputs are written as
parquet with pyarrow (no Spark), cached under the bench work dir keyed
by workload, generator version and seed, together with the ground truth
the output checks compare against.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator below changes its output for a given seed
GEN_VERSION = 4

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
LANGS = ["python", "rust", "java", "go", "c"]

# link_neardup: families of near-duplicate short documents
LINK_DOCS = 1_920
LINK_FAMILY = 8
LINK_STEMS = 4              # path stems per language: shared across families
LINK_TOKENS = (36, 56)      # ~300 chars per document
LINK_MAX_EDITS = 6          # per variant; keeps every intra-family ratio >= 0.94
LINK_EXACT_SHARE = 0.10     # variants that are byte-identical to the base
LINK_THRESHOLD = 0.85
LONG_TOKENS = (230, 260)    # ~1.7k chars: the long-file length class
VOCAB = 20_000

# score_short: part-name pairs (~9 chars)
SHORT_PAIRS = 20_000
SHORT_FILES = 16            # input files -> scan tasks on local[4]
SHORT_SAMPLE_MOD = 1_009    # rows with id % MOD == 0 are checked by the oracle


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    flat = LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return ["".join(w) for w in np.split(flat, cuts)]


def _zipf_p(n: int, s: float = 1.0) -> np.ndarray:
    p = 1.0 / (np.arange(n) + 2.7) ** s
    return p / p.sum()


def _mutate(rng: np.random.Generator, s: str, n_edits: int) -> str:
    """n seeded char edits: insert / delete / substitute / transpose."""
    chars = list(s)
    for _ in range(n_edits):
        op = int(rng.integers(0, 4))
        pos = int(rng.integers(0, len(chars) - 1))
        c = str(LETTERS[int(rng.integers(0, 26))])
        if op == 0:
            chars.insert(pos, c)
        elif op == 1:
            del chars[pos]
        elif op == 2:
            chars[pos] = c
        else:
            chars[pos], chars[pos + 1] = chars[pos + 1], chars[pos]
    return "".join(chars)


def _write(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


def _vocab(rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    return _words(rng, VOCAB, 2, 10), _zipf_p(VOCAB)


def near_dup_docs(rng: np.random.Generator, vocab: list[str], p: np.ndarray,
                  n_fam: int, fam_size: int,
                  tokens: tuple[int, int]) -> tuple[list[str], list[int]]:
    """``n_fam`` random Zipf-token bases, each with ``fam_size - 1``
    variants of 1..LINK_MAX_EDITS char edits (or exact copies)."""
    contents, family = [], []
    for f in range(n_fam):
        toks = rng.choice(len(vocab), size=int(rng.integers(*tokens)), p=p)
        base = " ".join(vocab[t] for t in toks)
        for k in range(fam_size):
            if k == 0 or rng.random() < LINK_EXACT_SHARE:
                contents.append(base)
            else:
                contents.append(_mutate(
                    rng, base, 1 + int(rng.integers(0, LINK_MAX_EDITS))))
            family.append(f)
    return contents, family


def gen_link(rng: np.random.Generator, out: str) -> dict:
    """Documents in families of near-duplicates; ids shuffled."""
    from fuzzspark.kernels.fuzz import ratio_raw

    vocab, p = _vocab(rng)
    contents, family = near_dup_docs(rng, vocab, p, LINK_DOCS // LINK_FAMILY,
                                     LINK_FAMILY, LINK_TOKENS)
    n = len(contents)
    ids = 1_000_000 + rng.permutation(n).astype(np.int64) * 7
    # few (lang, stem) path blocks of ~96 documents from ~85 families
    # each: most candidate pairs they add do not match
    stems = rng.integers(0, LINK_STEMS, size=n)
    lang = rng.integers(0, len(LANGS), size=n)
    table = pa.table({
        "id": ids,
        "repo": [f"repo_{int(r):03d}" for r in rng.integers(0, 200, size=n)],
        "path": [f"src/{vocab[s]}_{i}.txt" for s, i in zip(stems, ids)],
        "commit": [f"{int(c):012x}" for c in rng.integers(0, 2**48, size=n)],
        "lang": [LANGS[k] for k in lang],
        "content": contents,
    })
    _write(table, os.path.join(out, "files"), 4)
    # oracle labels, as generate_corpus does, on the scalar reference
    # scorer: every variant against its base and against one random
    # family member (all intra-family pairs would cost ~10 s of pure
    # Python per seed); truth clusters are the components of the
    # labelled pairs that reach the threshold
    fam = np.asarray(family)
    lu, lv = [], []
    for i in range(n):
        base = i - i % LINK_FAMILY
        other = base + int(rng.integers(0, LINK_FAMILY))
        for j in {base, other} - {i}:
            if ratio_raw(contents[i], contents[j]) >= LINK_THRESHOLD:
                lu.append(i)
                lv.append(j)
    truth = union_find_labels(ids, ids[np.asarray(lu)], ids[np.asarray(lv)])
    # a cross-family sample must stay below the threshold, or the
    # family-blind truth above would be wrong
    cross = rng.integers(0, n, size=(200, 2))
    cross = cross[fam[cross[:, 0]] != fam[cross[:, 1]]]
    worst = max(ratio_raw(contents[i], contents[j]) for i, j in cross)
    if worst >= LINK_THRESHOLD:
        raise RuntimeError(f"link generator: cross-family ratio {worst}")
    np.save(os.path.join(out, "truth_ids.npy"), ids)
    np.save(os.path.join(out, "truth_labels.npy"), truth)
    return {"docs": n, "label_pairs": len(lu),
            "truth_multi_clusters": int(_multi(truth))}


def short_pairs(rng: np.random.Generator, n: int):
    """Part-name pairs: 5% identical, 45% a 1-2 edit typo variant of the
    same name, 50% two unrelated names.  Returns (s1, s2, variant)."""
    names = _words(rng, 50_000, 5, 13)
    a_idx = rng.integers(0, len(names), size=n)
    b_idx = rng.integers(0, len(names), size=n)
    kind = rng.random(n)
    n_edits = 1 + rng.integers(0, 2, size=n)
    s1 = [names[i] for i in a_idx]
    s2 = [a if k < 0.05 else _mutate(rng, a, int(e)) if k < 0.5 else names[b]
          for a, b, k, e in zip(s1, b_idx, kind, n_edits)]
    return s1, s2, kind < 0.5


def gen_short(rng: np.random.Generator, out: str) -> dict:
    s1, s2, variant = short_pairs(rng, SHORT_PAIRS)
    ids = np.arange(SHORT_PAIRS, dtype=np.int64)
    table = pa.table({"id": ids, "s1": s1, "s2": s2, "variant": variant})
    _write(table, os.path.join(out, "pairs"), SHORT_FILES)
    return {"pairs": SHORT_PAIRS, "variants": int(variant.sum())}


def kernel_samples(seed: int) -> dict:
    """Per length class, (s1, s2) pairs drawn from the same generators
    as the workload inputs: ``short`` part names, ``doc`` ~300-char
    near-duplicates, ``long`` ~1.7k-char near-duplicates."""
    rng = np.random.default_rng([GEN_VERSION, seed, 99])
    s1, s2, _ = short_pairs(rng, 20_000)
    out = {"short": (s1, s2)}
    vocab, p = _vocab(rng)
    for cls, n_fam, tokens in (("doc", 250, LINK_TOKENS),
                               ("long", 40, LONG_TOKENS)):
        docs, _ = near_dup_docs(rng, vocab, p, n_fam, 9, tokens)
        bases = [docs[i - i % 9] for i in range(len(docs)) if i % 9]
        variants = [docs[i] for i in range(len(docs)) if i % 9]
        out[cls] = (bases, variants)
    return out


def union_find_labels(nodes: np.ndarray, u: np.ndarray,
                      v: np.ndarray) -> np.ndarray:
    """Min-id component label for every id in ``nodes`` (sorted or
    not), by vectorized hooking + pointer jumping over the edges
    (u, v).  Ids absent from the edges label themselves."""
    # work on id ranks, so the root of every component is its min id
    srt = np.sort(nodes)
    ru, rv = np.searchsorted(srt, u), np.searchsorted(srt, v)
    parent = np.arange(len(srt))
    while True:
        pu, pv = parent[ru], parent[rv]
        lo = np.minimum(pu, pv)
        before = parent.copy()
        np.minimum.at(parent, pu, lo)
        np.minimum.at(parent, pv, lo)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        if np.array_equal(parent, before):
            break
    return srt[parent[np.searchsorted(srt, nodes)]]


def _multi(labels: np.ndarray) -> int:
    _, counts = np.unique(labels, return_counts=True)
    return int((counts > 1).sum())


GENERATORS = {"link_neardup": gen_link, "score_short": gen_short}


def ensure(workload: str, seed: int, data_root: str) -> tuple[str, dict, float]:
    """Return (input dir, generator meta, seconds spent generating);
    0 seconds when the inputs for this seed were already cached."""
    out = os.path.join(data_root, f"{workload}-g{GEN_VERSION}-s{seed}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f), 0.0
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([GEN_VERSION, seed,
                                 sorted(GENERATORS).index(workload)])
    meta = GENERATORS[workload](rng, tmp)
    meta.update(workload=workload, seed=seed, gen_version=GEN_VERSION)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)
    return out, meta, time.perf_counter() - t0
