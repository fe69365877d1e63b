"""Physical-plan property pins: pushdown, pruning, join strategy, shuffles.

These are the scale guarantees: a 100 TB corpus lives or dies on whether
the filter reached the scan, the projection pruned the columns, the small
side broadcast, and nothing shuffles token-granular data.
"""

import pytest
from pyspark.sql import functions as F

from tesserae_ng_spark.operators import load_all
from tesserae_ng_spark.plans.audit import count_in_plan, explain_str


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_lang_filter_pushdown(spark, sf_dir, registry):
    fn, _ = registry["lang_filter_pushdown"]
    plan = explain_str(fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_projection_prunes_scan(spark, sf_dir, registry):
    fn, _ = registry["project_prune"]
    plan = explain_str(fn(spark, sf_dir))
    # ReadSchema carries ONLY the two projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in plan


def test_range_filter_pushdown(spark, sf_dir, registry):
    fn, _ = registry["min_ncharsfilter"]
    plan = explain_str(fn(spark, sf_dir))
    assert "GreaterThanOrEqual(n_chars,200)" in plan


def test_dim_join_broadcasts(spark, sf_dir, registry):
    fn, _ = registry["join_broadcast_dim"]
    plan = explain_str(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_is_semi(spark, sf_dir, registry):
    fn, _ = registry["semi_join_queryterms"]
    plan = explain_str(fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_global_sort_limit_is_take_ordered(spark, sf_dir, registry):
    fn, _ = registry["global_sort_limit"]
    plan = explain_str(fn(spark, sf_dir))
    # bounded per-partition heap + merge, NOT a global sort
    assert "TakeOrderedAndProject" in plan


def test_production_stage_a_is_exchange_free(spark, corpus):
    """The PRODUCTION stage A (encode_blocks_local, used by build_index)
    adds ZERO exchanges of its own: each partition lexsorts and encodes
    its own fragments in the Arrow worker, so the build's one wide
    exchange is the merge's shuffle of compressed blocks.
    The asof dedup window upstream of term_doc_table is the only
    exchange allowed in this plan."""
    from tesserae_ng_spark.index.build import prepare_docs, term_doc_table
    from tesserae_ng_spark.index.encode import encode_blocks_local

    import re

    td = term_doc_table(prepare_docs(corpus)).withColumn("key", F.lit(0))
    blocks = encode_blocks_local(td)
    plan = explain_str(blocks)
    tree = plan.split("\n\n")[0]
    cut = tree.find("InMemoryRelation")
    live = tree[: cut if cut != -1 else len(tree)]
    n_exchanges = len(re.findall(r"Exchange \(\d+\)", live))
    # ≤1: the upstream asof-dedup window only (0 when the cache manager
    # substitutes an earlier test's cached prepared subtree); stage A
    # itself must add none — no term/salt/range partitioning here
    assert n_exchanges <= 1, f"n_exchanges={n_exchanges}\n{tree[:4000]}"
    assert "MapInArrow" in plan


def test_bm25_oracle_broadcasts_df_side(spark, corpus):
    from tesserae_ng_spark.index.build import prepare_docs, term_doc_table
    from tesserae_ng_spark.query.bm25_oracle import bm25_scores

    td = term_doc_table(prepare_docs(corpus))
    scores = bm25_scores(td, ["join", "hash"], 500, 55.0)
    plan = explain_str(scores)
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("key", ["bm25_exhaustive", "rank_results"])
def test_ranking_keys_bound_before_window(spark, sf_dir, registry, key):
    """VERDICT r1 #5: ranking keys must NOT run an unpartitioned window over
    the full table (single-reducer sort of every scored doc at 100 TB).
    The fix: orderBy+limit (TakeOrderedAndProject — per-partition bounded
    heap + merge) BEFORE the rank window, so the window input is ≤ k rows."""
    fn, _ = registry[key]
    df = fn(spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # the window's exchange must sit above the bounded top-k, so the full
    # scan side contains no Window node: Window appears after (smaller node
    # id than? formatted tree prints top-down) — assert the Window consumes
    # the TakeOrderedAndProject output by checking tree order
    tree = plan.split("\n\n")[0]
    w_pos = tree.find("Window")
    t_pos = tree.find("TakeOrderedAndProject")
    assert w_pos != -1 and t_pos != -1
    # formatted tree prints consumers above producers: Window (consumer)
    # must appear before TakeOrderedAndProject (its bounded producer)
    assert w_pos < t_pos, tree[:3000]


def test_whole_stage_codegen_on_relational_path(spark, sf_dir, registry):
    fn, _ = registry["join_sortmerge_fact"]
    df = fn(spark, sf_dir)
    df.collect()  # execute THIS plan: AQE shows codegen only in final plans
    plan = explain_str(df)
    assert "== Final Plan ==" in plan
    assert "[codegen id :" in plan  # whole-stage codegen spans present
