"""Physical-plan regression guards: the scale properties (pushdown,
pruning, broadcast, top-k) must survive refactors — a correct but
full-scanning plan is a silent 100x regression at 100 TB."""

from __future__ import annotations

import pytest

from poc_spark import contract


def _plan(spark, sf_dir, name: str) -> str:
    df = contract.REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan          # filter reached the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # two-phase aggregation: map-side partial combine before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_selective_revenue")
    scan = plan.split("PushedFilters:")[1].splitlines()[0]
    for token in ("l_shipdate", "l_discount", "l_quantity"):
        assert token in scan, f"{token} not pushed: {scan}"


def test_q3_broadcasts_no_sort_merge(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_revenue")
    # formatted explain mentions each node twice (tree + detail section)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_revenue_by_region")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "op_topk")
    assert "TakeOrderedAndProject" in plan               # true top-k, no full sort


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_semi_orders_with_items")
    assert "LeftSemi" in plan


def test_induced_subgraph_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "op_join_semi")
    assert "BroadcastHashJoin LeftSemi" in plan


def test_scan_prunes_columns_for_projection(spark, sf_dir):
    plan = _plan(spark, sf_dir, "op_proj_users")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_name" in read_schema
    assert "c_acctbal" not in read_schema                # untouched column pruned


def test_chunked_ntile_equals_global_window(spark, sf_dir):
    """Exact equality of the chunk-parallel ntile with the global
    window, including the remainder rule, on the real scored corpus
    AND the string 'bucket' labels downstream."""
    from poc_spark.operators.textstats import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    glob = {
        (r["id"], r["bucket"])
        for r in perplexity_buckets(docs).collect()
    }
    chunked = {
        (r["id"], r["bucket"])
        for r in perplexity_buckets(docs, num_chunks=8).collect()
    }
    assert chunked == glob


def test_chunked_ntile_remainder_shapes(spark):
    """SQL ntile's remainder rule (first N%n buckets take one extra
    row) must hold for adversarial (N, n): N<n, N=n, N%n in {0,1,n-1},
    plus heavy ties on the range key (ties never straddle chunks)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from poc_spark.plans.ntile import chunked_ntile

    for n_rows, n_buckets in [(3, 5), (5, 5), (10, 4), (13, 4), (12, 4), (7, 3)]:
        rows = [(i, i % 3) for i in range(n_rows)]  # key has heavy ties
        df = spark.createDataFrame(rows, "id long, key long")
        w = Window.orderBy("key", "id")
        want = {
            (r["id"], r["t"])
            for r in df.withColumn(
                "t", F.ntile(n_buckets).over(w)
            ).collect()
        }
        got = {
            (r["id"], r["bucket_n"])
            for r in chunked_ntile(
                df, n_buckets, ("key", "id"), num_chunks=4
            ).collect()
        }
        assert got == want, (n_rows, n_buckets)


def test_skewed_key_duplicate_quantiles(spark):
    """95% of rows share one key value, so approxQuantile returns
    duplicate bounds; the range chunking dedups them, and the chunk
    rank offsets must keep the ranks adjacent across the empty chunks
    so chunked_ntile still equals the global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from poc_spark.plans.ntile import chunked_ntile

    rows = [(i, 1) for i in range(95)] + [(95 + i, 2 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, key long")
    bounds = df.approxQuantile("key", [i / 16 for i in range(1, 16)], 0.001)
    assert len(set(bounds)) < len(bounds)  # the input does skew the bounds
    w = Window.orderBy("key", "id")
    want = {(r["id"], r["t"]) for r in df.withColumn("t", F.ntile(7).over(w)).collect()}
    got = {
        (r["id"], r["bucket_n"])
        for r in chunked_ntile(df, 7, ("key", "id"), num_chunks=16).collect()
    }
    assert got == want


def test_grouping_sets_single_pass_expand(spark, sf_dir):
    """GROUPING SETS must plan as ONE scan + Expand + one aggregate —
    not a union of per-slice scans — and equal the two-groupby union."""
    from pyspark.sql import functions as F

    df = contract.REGISTRY["q_grouping_sets"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    by_flag = {
        (r["l_returnflag"], "ALL"): r["n"]
        for r in li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    by_status = {
        ("ALL", r["l_linestatus"]): r["n"]
        for r in li.groupBy("l_linestatus").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = {
        (r["returnflag"], r["linestatus"]): r["n"] for r in df.collect()
    }
    assert got == {**by_flag, **by_status}
