"""Physical-plan invariants for headline queries: predicate pushdown reaches
the parquet scan, column pruning is tight, small dimensions broadcast, and
shuffle counts don't regress. A failure here means the plan got worse even
if results are still correct — the 100 TB early-warning gate."""

import pytest

import __spark_entry__ as entry_mod
from tests.plan_audit import (
    codegen_span_count,
    join_strategies,
    num_exchanges,
    plan_summary,
    pushed_filters,
    read_schemas,
    unbounded_global_windows,
)


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir, qs):
    df = qs["pricing_summary"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), f"shipdate filter not pushed: {pushed}"
    (schema,) = read_schemas(df)
    assert "l_partkey" not in schema  # unused columns pruned from the scan
    assert "l_quantity" in schema
    assert codegen_span_count(df) >= 2  # agg stages stay in codegen


def test_top_customers_broadcasts_dimension(spark, sf_dir, qs):
    df = qs["top_customers"](spark, sf_dir)
    assert join_strategies(df) == ["BroadcastHashJoin"]
    schemas = read_schemas(df)
    assert any(s == "struct<o_custkey:bigint,o_totalprice:double>" for s in schemas), schemas


def test_revenue_by_nation_all_dims_broadcast(spark, sf_dir, qs):
    df = qs["revenue_by_nation"](spark, sf_dir)
    joins = join_strategies(df)
    assert joins == ["BroadcastHashJoin", "BroadcastHashJoin"]
    # fact side scans only the join key + measure
    assert "struct<o_custkey:bigint,o_totalprice:double>" in read_schemas(df)
    # broadcast joins add no extra shuffle: one for groupBy, one for orderBy
    assert num_exchanges(df) <= 2


def test_semi_join_pushes_constant_filter(spark, sf_dir, qs):
    df = qs["order_priority_returns"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_returnflag" in p for p in pushed)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_exact_dedup_reads_only_needed_columns(spark, sf_dir, qs):
    df = qs["exact_dedup_stats"](spark, sf_dir)
    (schema,) = read_schemas(df)
    assert "doc_id" not in schema and "source" not in schema
    assert "text" in schema and "lang" in schema


def test_window_query_single_shuffle(spark, sf_dir, qs):
    df = qs["latest_event_per_user"](spark, sf_dir)
    # row_number over user_id: exactly one hash exchange, no extra sorts
    assert num_exchanges(df) == 1


def test_extraction_pipeline_single_shuffle(spark):
    from pdfextractor_spark.corpus import generate_pages
    from pdfextractor_spark.pipeline.fused import extract_fused
    from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(generate_pages(20), schema=PAGES_SCHEMA)
    silver = extract_fused(pages, num_partitions=4)
    # the only exchange is the salted repartition; both UDF stages pipeline
    assert num_exchanges(silver) == 1


def test_queries_avoid_cartesian_joins(spark, sf_dir, qs):
    # brute-force similarity intentionally uses a nested-loop join (it IS
    # all-pairs); everything else must not
    allowed_nested = {"ann_topk_cosine", "embedding_near_dups"}
    for name in ["top_customers", "customers_without_orders", "revenue_by_nation",
                 "top_parts_per_brand", "order_priority_returns", "snapshot_diff"]:
        df = qs[name](spark, sf_dir)
        joins = join_strategies(df)
        assert "BroadcastNestedLoopJoin" not in joins, f"{name}: {joins}"


def test_no_unbounded_global_window_in_any_query(spark, sf_dir, qs):
    """Global invariant over the ENTIRE registry (not just the bench
    headline subset): no registered query may contain a partition-less
    WindowExec over unbounded input (all rows funneled to ONE task — the
    scale-killer the driver's r01 stderr warned about). A global window is
    allowed only above a limit (e.g. rank attach on a top-k result)."""
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        bad = unbounded_global_windows(df)
        assert not bad, f"{name}: unbounded global window(s): {bad}"


def test_no_cartesian_join_in_any_query(spark, sf_dir, qs):
    """Registry-wide sweep: nested-loop / cartesian joins are allowed only
    where the operator IS all-pairs by definition (brute-force cosine
    baseline, embedding near-dup verify) or where a 1-row bound-flag frame
    is attached to a result (explicit broadcast of an aggregate)."""
    allowed = {
        # all-pairs by definition: the brute-force similarity baselines
        "ann_topk_cosine", "embedding_near_dups",
        # 1-row broadcast attaches (bound-flag / global-share columns)
        "extract_reports", "streaming_extract_smoke", "promo_revenue_share",
        "nation_setops", "ann_lsh_topk", "ann_ivf_topk",
        "minhash_lsh_pairs", "simhash_near_dups", "ngram_jaccard_allpairs",
        "winnow_overlap", "sketch_cardinality", "sketch_quantiles",
        "lm_perplexity",  # 1-row broadcast of the LM's (total, vocab) consts
        "part_size_bands",  # broadcast RANGE join: BNLJ against a 3-row band dim IS the operator
        "pagerank_top",  # 1-row broadcast of (n_nodes, dangling mass) per iteration
        "bm25_search",  # 1-row broadcast of the corpus (N, avgdl, df…) stats row
    }
    for name, fn in qs.items():
        if name in allowed:
            continue
        df = fn(spark, sf_dir)
        joins = join_strategies(df)
        assert "BroadcastNestedLoopJoin" not in joins and "CartesianProduct" not in joins, (
            f"{name}: {joins}"
        )


def test_top_customers_is_take_ordered(spark, sf_dir, qs):
    """Global top-k must plan as TakeOrderedAndProject (per-partition top-10
    heaps merged), never a full sort or global window over all customers."""
    from tests.plan_audit import explain_str

    df = qs["top_customers"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_lsh_pair_generation_is_join_free(spark, sf_dir):
    """minhash/simhash candidate pairs: bucket groupBy + in-bucket explode —
    the plan must contain NO join operator and exactly one exchange (the
    band/block key shuffle), so the signature UDF is evaluated once."""
    from pdfextractor_spark.ops.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        simhash64,
        simhash_dup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for pairs in (
        minhash_lsh_pairs(minhash_signatures(docs, num_hashes=32, shingle_k=3),
                          num_bands=8, sig_len=32),
        simhash_dup_pairs(simhash64(docs), max_hamming=3, num_blocks=4),
    ):
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        # one shuffle for the bucket groupBy + one for the final distinct
        assert plan.count("Exchange hashpartitioning") <= 2
