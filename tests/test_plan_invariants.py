"""Suite-wide physical-plan invariants: no query may contain row-at-a-time
Python (BatchEvalPython), and only the extraction/tagging/multimodal
queries may contain Python at all — everything else must stay entirely
JVM-side. Guards against a refactor silently dropping a query off the
Arrow path or into a Python UDF."""

import pytest

from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.queries import SPARK_QUERIES

SF_DIR = "/root/testdata/sf0.001"

# queries whose plans legitimately cross into Python (always Arrow-batched)
PYTHON_ALLOWED = {
    "extract_materials", "extract_spans", "extract_structures",
    "extract_links", "conversation_span_stats", "tagger_spans",
    "tagger_spans_matrix",
    "linking_eval", "corpus_statistics", "class_content_distribution",
    "multimodal_features", "web_main_content", "web_extract_materials",
    "web_adversarial_content",
    # r6: k-means assignment, the SemDeDup pairwise stage, and the
    # ANN index stages (LSH signatures, IVF assignment, PQ encode)
    # moved from interpreted fold expressions to exact NumPy inside
    # Arrow-batched maps (guide §4.2); results are bit-identical
    # (int64 k-means, dimension-axis left folds, threshold-band /
    # half-boundary rechecks) — pinned by the oracle gate
    "kmeans_embeddings", "semdedup_embedding",
    "similarity_ann_lsh", "similarity_ivf", "similarity_pq",
    "similarity_topk", "similarity_recall_report",
    # the IVF cell assignment similarity_ivf and dedup_embedding_cosine
    # share (_ivf_assign) replaced the latter's interpreted array_sort
    # argmax
    "dedup_embedding_cosine",
    # r6: BPE apply memoizes the merge chain per task behind Arrow
    # (still zero-shuffle; see test_bpe_apply_is_a_zero_shuffle_map)
    "bpe_encode_stats",
    # r6: the shared hashed-ngram featurizer memoizes its md5 buckets
    # per task and completes per-doc counts in-row (exact integers)
    "dsir_importance_weights", "quality_classifier",
}


@pytest.fixture(scope="module")
def spark():
    return build_session(app_name="plan-invariants", master="local[4]",
                         shuffle_partitions=4)


@pytest.mark.parametrize("name", sorted(SPARK_QUERIES))
def test_no_rowwise_python_and_python_only_where_expected(spark, name):
    df = SPARK_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, \
        f"{name}: row-at-a-time Python UDF in the plan"
    if name not in PYTHON_ALLOWED:
        for node in ("ArrowEvalPython", "MapInPandas", "PythonMapInArrow",
                     "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name}: unexpected {node} in plan"


def test_pq_encode_is_a_zero_shuffle_projection(spark):
    """The round-3 weak: PQ encode used to explode x8 subvectors, join 16
    broadcast codewords (128x rows) and take argmin via a row_number
    window — a full shuffle of 128N rows.  This pins ENCODE as a pure
    per-row map: no Exchange, no Join, no Window anywhere in its
    physical plan. (r6: the per-row argmin moved from interpreted fold
    expressions into one exact-NumPy Arrow-batched map — still
    shuffle-free; row-at-a-time BatchEvalPython stays banned.)"""
    from pyspark.sql import functions as F
    from material_parsers_spark import queries as q

    emb = q._read(spark, SF_DIR, "embeddings")
    codebook = [r.embedding for r in sorted(
        emb.where((F.col("vec_id") >= q._PQ_LO)
                  & (F.col("vec_id") < q._PQ_HI))
        .select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id)]
    plan = q.pq_encode(emb, codebook) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_eval_index_single_corpus_exchange(spark):
    """Pins the decontamination scale shape: the capped eval inverted
    index is BROADCAST (never a shuffle join against the corpus), and
    the corpus lineage pays exactly ONE Exchange (the explicit doc_id
    repartition) — the per-doc aggregate reuses that partitioning. The
    eval branch may shuffle (it is small by definition)."""
    import re

    df = SPARK_QUERIES["decontaminate_ngrams"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # corpus side = everything ABOVE the BroadcastExchange subtree;
    # the broadcast build side contains the eval branch's exchanges
    corpus_side = plan.split("BroadcastExchange")[0]
    assert len(re.findall(r"\bExchange hashpartitioning", corpus_side)) == 1


def test_span_removal_broadcasts_and_bounds_exchanges(spark):
    """Pins the span-repair scale shape: both joins resolve broadcast
    (eval gram set by construction; the starts->rebuild join via AQE at
    this size — at scale it may fall back to sort-merge, which is the
    correct adaptive behavior, but it must never shuffle the REBUILD
    side redundantly here), the rebuild (base) lineage above the first
    broadcast pays ZERO shuffles, and the whole plan holds at three
    hash exchanges: corpus-gram repartition, eval-gram repartition,
    eval-gram distinct."""
    import re

    df = SPARK_QUERIES["decontaminate_span_removal"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    base_side = plan.split("BroadcastExchange")[0]
    assert len(re.findall(r"\bExchange hashpartitioning", base_side)) == 0
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 3


def test_domain_mixture_corpus_crosses_zero_shuffles(spark):
    """Pins the mixture-manifest scale shape: the #domains-row dim
    (token totals + weights + repeat factors) is built from two TINY
    aggregate exchanges and BROADCAST onto the corpus; the corpus
    lineage itself — scan, broadcast join, epoch explode, hash filter —
    pays ZERO shuffles."""
    import re

    df = SPARK_QUERIES["domain_mixture"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    corpus_side = plan.split("BroadcastExchange")[0]
    assert len(re.findall(r"\bExchange hashpartitioning", corpus_side)) == 0
    # the dim subtree: per-domain agg + total agg, nothing else
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2


def test_training_order_never_globally_sorts(spark):
    """Pins the dense-global-index scale shape: the permutation is
    produced by a per-shard window + broadcast base offsets — NO range
    partitioning (a global sort) and NO single-partition pass over the
    corpus. The one allowed SinglePartition exchange is the 64-row
    offsets window; the corpus pays the shard repartition plus the tiny
    counts aggregate."""
    import re

    df = SPARK_QUERIES["training_order"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"Exchange SinglePartition", plan)) == 1
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_bpe_top_k_is_take_ordered_not_global_sort(spark):
    """Pins the tokenizer-induction scale shape: pairs explode off the
    aggregated VOCABULARY (not the corpus) and the top-k is a
    TakeOrderedAndProject (per-partition heaps), never an Exchange
    rangepartitioning + full Sort."""
    import re

    df = SPARK_QUERIES["bpe_merge_candidates"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_bpe_apply_is_a_zero_shuffle_map(spark):
    """Pins bpe_encode_stats' application scale shape: the merge chain
    applies inside ONE Arrow-batched map with a bounded per-task memo —
    the corpus lineage pays no Exchange and no Join (the
    shuffle-join-a-vocabulary alternative is the wrong trade at scale);
    row-at-a-time BatchEvalPython stays banned."""
    from material_parsers_spark import queries as q

    docs = q._read(spark, SF_DIR, "documents")
    plan = q.bpe_token_counts(docs, [("e", "r"), ("er", "s")]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_sft_examples_pays_at_most_one_window_exchange(spark):
    """Pins the SFT-manifest scale shape: all 4 context lags ride ONE
    window under the per-conversation ordering partitioning — at most
    one hash exchange (ZERO when the cached turns relation is already
    materialized: its generation window leaves it hash-partitioned by
    conv_id, so Catalyst elides the shuffle and the manifest rides the
    existing partitioning — the plan the operator is designed for),
    one Window node, no global sort, no Python."""
    import re

    df = SPARK_QUERIES["sft_examples"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the cached turns table embeds its own generation plan (one window
    # shuffle, paid once per session) under InMemoryRelation — count
    # only the query's own operators above the cache scan
    own = plan.split("InMemoryRelation")[0]
    assert len(re.findall(r"\bExchange hashpartitioning", own)) <= 1
    assert "Exchange rangepartitioning" not in own
    assert own.count("Window") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_tool_output_stats_is_filter_project_aggregate(spark):
    """Pins the JSON-mining scale shape: prefix filter + get_json_object
    are map-side; the only exchange is the #tables-bounded rollup; no
    window, no join, no Python."""
    import re

    df = SPARK_QUERIES["tool_output_stats"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    own = plan.split("InMemoryRelation")[0]   # above the turns cache scan
    assert len(re.findall(r"\bExchange hashpartitioning", own)) == 1
    assert "Join" not in own
    assert "Window" not in own
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
