"""Plan-shape assertions: the properties that matter at 100 TB must be
visible in the optimized plan, not just intended.

- filters/column pruning reach the parquet scan (PushedFilters/ReadSchema)
- the length prefilter runs BELOW the Python scorer (Filter before
  ArrowEvalPython in the plan tree)
- small dimension sides broadcast (BroadcastHashJoin, no sort-merge)
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = d.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan, plan
    # column pruning: text must not be read
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "text" not in m.group(1), m.group(1) if m else plan


def test_length_prefilter_below_udf(spark, sf_dir):
    from fuzzspark.functions import length_prefilter, scorer_column
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a, b = d.alias("a"), d.alias("b")
    pairs = (a.join(b, F.col("a.lang") == F.col("b.lang"))
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.text").alias("s1"), F.col("b.text").alias("s2")))
    scored = (pairs
              .where(length_prefilter(F.length("s1"), F.length("s2"),
                                      "ratio", 0.9))
              .withColumn("score", scorer_column("ratio", "s1", "s2")))
    plan = _plan(scored)
    # the Arrow-batched python node exists
    assert "ArrowEvalPython" in plan
    # the length prefilter stayed JVM-side — Catalyst fuses it into the
    # join condition (below the UDF), visible as the least(length(...))
    # bound in the physical plan
    assert "least(length(" in plan, plan
    join_pos = plan.index("Join")
    udf_pos = plan.index("ArrowEvalPython")
    assert join_pos > udf_pos or "Join" in plan  # tree lists UDF above join
    # and the UDF node sits above the join in the tree (executes after)
    tree = plan.split("\n\n")[0]
    assert tree.index("ArrowEvalPython") < tree.index("Join"), tree


def test_small_dim_join_broadcasts(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    q = c.join(n, c.c_nationkey == n.n_nationkey).select("c_name", "n_name")
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan


def test_ann_query_side_broadcasts(spark, sf_dir):
    """Round 7: the interpreted crossJoin plan became a MapInArrow
    block-matmul — the bounded query side still ships to every task
    (now as an explicit broadcast variable), and the per-pair work no
    longer runs row-at-a-time in the JVM.  The plan must show the
    Arrow boundary and NO nested-loop join of the candidate side."""
    import __spark_entry__ as em
    plan = _plan(em.q_ann_cosine_topk(spark, sf_dir))
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocking_join_is_hash_join(spark):
    from fuzzspark.pipeline import corpus_to_spark, generate_corpus
    from fuzzspark.pipeline.blocking import block_keys
    from fuzzspark.pipeline.pairs import candidate_pairs
    corpus = generate_corpus(n_clusters=20, seed=3)
    files, _, _ = corpus_to_spark(spark, corpus)
    files = files.withColumn("content_len", F.length("content"))
    blocks = block_keys(files)
    pairs = candidate_pairs(files, blocks, scorer="ratio", cutoff=0.9)
    plan = _plan(pairs)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan \
        or "ShuffledHashJoin" in plan


def _final_plan(df) -> str:
    """Executed plan after a run; an AQE plan also prints its initial
    plan, which is cut off here."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def pair_file(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pairs") / "pairs.parquet")
    rows = [("same", "same"), ("kitten", "sitting"), ("", ""),
            (None, "x"), (None, None), ("flaw", "lawn")]
    spark.createDataFrame(rows, "s1: string, s2: string") \
        .write.parquet(path)
    return path


@pytest.mark.parametrize("keep_suppressed", [False, True])
@pytest.mark.parametrize("cutoff", [None, "set"])
@pytest.mark.parametrize("form", ["distance", "similarity",
                                  "normalized_distance",
                                  "normalized_similarity"])
def test_score_pairs_one_scan_one_python_node(spark, pair_file, form,
                                              cutoff, keep_suppressed):
    """score_pairs reads its input once and scores it in exactly one
    ArrowEvalPython node: no exact/UDF Union, and a cutoff's NOT NULL
    filter does not drag a second copy of the UDF below the projection."""
    from fuzzspark.functions import score_pairs
    from fuzzspark.kernels import levenshtein
    if cutoff is not None:
        cutoff = 2.0 if form in ("distance", "similarity") else 0.5
    out = score_pairs(spark.read.parquet(pair_file), "s1", "s2",
                      scorer="levenshtein", form=form, score_cutoff=cutoff,
                      keep_suppressed=keep_suppressed)
    plan = _final_plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Union" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    got = {(r["s1"], r["s2"]): r["score"] for r in out.collect()}
    fn = getattr(levenshtein, form)
    for (a, b), score in got.items():
        if a is None or b is None:
            assert score is None
        else:
            want = fn(a, b, score_cutoff=cutoff)
            assert score == (None if want is None else pytest.approx(want))
    if cutoff is None or keep_suppressed:
        assert len(got) == 6
    assert got[("same", "same")] == (4.0 if form == "similarity" else
                                     1.0 if form == "normalized_similarity"
                                     else 0.0)


def test_fuzzy_topk_join_one_python_node(spark):
    from fuzzspark.extras.search import fuzzy_topk_join
    q = spark.createDataFrame([(1, "kitten"), (2, "same")], "id long, s string")
    c = spark.createDataFrame([(10, "sitting"), (11, "same"),
                               (12, "kitchen")], "id long, s string")
    for cutoff in (None, 0.5):
        out = fuzzy_topk_join(q, c, query_col="s", choice_col="s",
                              query_id="id", choice_id="id",
                              score_cutoff=cutoff)
        assert _final_plan(out).count("ArrowEvalPython") == 1


def test_streaming_matcher_one_python_node(spark):
    from fuzzspark.pipeline import corpus_to_spark, generate_corpus
    from fuzzspark.streaming.ops import _match_batch
    corpus = generate_corpus(n_clusters=10, seed=5, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    run = _match_batch(files.where(F.col("id") % 2 == 0), "ratio", 0.9,
                       dict(use_exact=True, use_path=True, use_minhash=True))
    try:
        edges = run(files.where(F.col("id") % 2 == 1))
        assert _final_plan(edges).count("ArrowEvalPython") == 1
        assert edges.count() > 0
    finally:
        run.unpersist()
