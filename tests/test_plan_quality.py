"""Plan-quality guards: the physical plans we rely on at 100 TB.

These assert the *shape* of the plan, not results: filter pushdown into
the parquet scan, column pruning, broadcast joins for dimension tables,
and no Python row-at-a-time UDFs in the hot paths. A regression here is
a 100×-at-scale problem even when results stay correct.
"""

from __future__ import annotations

import pytest

from clickhouse_from_scratch_spark.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1)[1].split("]", 1)[0]
    # column pruning: unused lineitem columns must not be read
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    # exactly one shuffle (the groupBy); partial agg happens map-side
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    # the filtered customer dim must broadcast, not shuffle
    assert "BroadcastExchange" in plan
    # segment filter pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_fact_streams_through_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier")
    # all five dimension joins must be broadcast: the fact table
    # (lineitem) streams once with no join shuffle
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_asof")
    # union+window lowering: no O(n*m) range join, no cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udfs_in_relational_queries(spark, sf_dir):
    # everything except the explicitly-Arrow multimodal path must stay
    # JVM-side (whole-stage codegen'd)
    for name in ["q1_pricing_summary", "join_asof", "dedup_minhash_lsh",
                 "text_quality", "embedding_cosine_topk", "sessionization"]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_multimodal_uses_arrow_not_pickle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_decode")
    # mapInPandas → ArrowEvalPython / MapInPandas, never row-pickling
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_sql_frontend_pushdown(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_all
    from clickhouse_from_scratch_spark.plans import execute_sql
    df = execute_sql(
        spark,
        "SELECT o_orderkey FROM orders WHERE o_totalprice > 100000",
        load_all(spark, sf_dir))
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    # predicates written in CH dialect still reach the parquet scan
    assert "GreaterThan(o_totalprice,100000" in plan
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "o_orderdate" not in read_schema    # pruned


def test_correlated_exists_decorrelates_to_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_correlated_exists")
    # decorrelation must yield one hash semi-join, never a per-row
    # re-execution or nested-loop shape
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the subquery's own predicate is pushed into the orders scan
    assert "GreaterThan(o_totalprice,300000" in plan


def test_session_window_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "session_window_agg")
    assert "BatchEvalPython" not in plan
    # one shuffle for the sessionization (plus optional AQE reads)
    assert "Exchange" in plan


def test_ivf_probes_broadcast_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_ann_ivf")
    # the (small) probe set must broadcast; the corpus must stream
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_correlated_scalar_is_group_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_correlated_scalar")
    # groupBy-on-correlation-key + left hash join: partial aggregation
    # map-side, one equi join per scalar, no nested-loop re-execution
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exists_under_or_is_marker_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_exists_or")
    # marker left join on distinct correlation keys: a hash join, with
    # the subquery predicate pushed into the orders scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "GreaterThan(o_totalprice,400000" in plan


def test_in_having_is_marker_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_in_having")
    # HAVING-position IN must be a hash join against the aggregated
    # frame — never an isin() over driver-collected values (which would
    # appear as a giant In(...) filter list, and cap at 100k rows)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    # the priority filter pushes into the orders scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_with_ties_prunes_before_global_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "limit_with_ties")
    # the threshold predicate must push into the parquet scan: the
    # single-partition rank window sees ~n rows + ties, never the table
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "LessThan(l_quantity" in pushed
    # Spark's partial per-partition rank limit kicks in before the
    # single-partition exchange
    assert "WindowGroupLimit" in plan


def test_scalar_subquery_defers_to_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scalar_subquery")
    # uncorrelated scalar: single-row broadcast join, no build-time eval
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_groups_frame_shares_helper_rank(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_groups_frame")
    # dense_rank helper + RANGE frame: exactly the windows we planned,
    # no Python evaluation
    assert "BatchEvalPython" not in plan
    assert plan.count("Window") >= 1


def test_embedding_lsh_near_dup_avoids_all_pairs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_embedding_lsh")
    # banding, never a corpus×corpus product: no cartesian/BNLJ anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # signature computation is pure JVM (no Python workers)
    assert "BatchEvalPython" not in plan


def test_dict_get_is_map_lookup_not_join(spark, sf_dir):
    from clickhouse_from_scratch_spark.queries import QUERIES
    df = QUERIES["sql_dict_get"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the nation dictionary inlines as a map literal: the supplier scan
    # is the ONLY table in the plan — no join of any kind
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan


def test_passage_dedup_shape(spark, sf_dir):
    # explode → hash-count → hash-join → rebuild: bounded shuffles on
    # uniformly-hashed keys, no cartesian, no Python UDFs
    plan = _plan(spark, sf_dir, "passage_dedup")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_gopher_and_pii_stay_jvm_side(spark, sf_dir):
    for name in ["gopher_repetition", "pii_scrub"]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_training_recipe_stays_distributed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "training_recipe")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_truthy_predicates_pushdown(spark, sf_dir):
    # the truthy WHERE (l_linenumber % 2) evaluates as a scan-level
    # filter; one aggregation shuffle; predicates stay JVM-side
    plan = _plan(spark, sf_dir, "sql_truthy_predicates")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan
    # two exchange NODES (agg shuffle + final sort), each printed twice
    # in formatted mode
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_string_search_scan_pruning(spark, sf_dir):
    # doc_id < 50 pushes to the parquet reader; only doc_id + text read
    plan = _plan(spark, sf_dir, "sql_string_search")
    assert "PushedFilters" in plan and "doc_id" in plan.split(
        "PushedFilters", 1)[1].split("]", 1)[0]
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "embedding" not in read_schema
    assert "BatchEvalPython" not in plan


def test_interval_buckets_single_shuffle(spark, sf_dir):
    # quarter rollup: one map-side-combined aggregation shuffle over
    # the bucket key, plus the final sort — nothing else
    plan = _plan(spark, sf_dir, "sql_interval_buckets")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "o_comment" not in read_schema


def test_setop_filter_is_semi_join(spark, sf_dir):
    # CH bare INTERSECT/EXCEPT lower to null-safe LeftSemi/LeftAnti
    # hash joins (the IntersectOrExceptTransform shape): the right side
    # builds a broadcastable hash set; never a Cartesian, never a
    # full-width shuffle of the left
    plan = _plan(spark, sf_dir, "setop_intersect")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    plan = _plan(spark, sf_dir, "setop_except")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_quantile_exc_inc_single_shuffle(spark, sf_dir):
    # one aggregation shuffle over l_returnflag plus the final sort;
    # R-6/R-7 interpolation is pure JVM expressions over the buffered
    # per-group sorted list (3 groups)
    plan = _plan(spark, sf_dir, "sql_quantile_exc_inc")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_edit_distances_filter_pushed(spark, sf_dir):
    # p_partkey <= 500 reaches the parquet scan; the Arrow DL kernel is
    # the documented pandas_udf escape hatch (no per-row Python UDF)
    plan = _plan(spark, sf_dir, "sql_edit_distances")
    assert "PushedFilters" in plan and "p_partkey" in plan.split(
        "PushedFilters", 1)[1].split("]", 1)[0]
    assert "BatchEvalPython" not in plan


def test_byte_length_stays_jvm(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_byte_length")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "embedding" not in read_schema and "lang" not in read_schema


def test_minhash_md5_twin_stays_banded(spark, sf_dir):
    # the md5 twin keeps the production shape: one (band, bucket)
    # shuffle, in-bucket pair combinatorics, no self-join of the corpus,
    # fully JVM-side (md5 + HOFs)
    plan = _plan(spark, sf_dir, "dedup_minhash_md5")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_sample_hash_md5_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sample_hash_md5")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


def test_format_row_filter_pushed(spark, sf_dir):
    # formatRow is a JVM expression over the cell serializers; the
    # row-bounding filter must still reach the parquet scan
    plan = _plan(spark, sf_dir, "sql_format_row")
    assert "PushedFilters" in plan and "l_orderkey" in plan.split(
        "PushedFilters", 1)[1].split("]", 1)[0]


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    # packing is one hash shuffle on shard + in-partition window; no
    # global sort exchange, no Python, pruned scan (doc_id/text only)
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_domain_mix_is_map_only_scan_filter(spark, sf_dir):
    # the mix keep-decision is a scan-level filter: the only exchange
    # allowed is the final small groupBy, and no Python appears
    plan = _plan(spark, sf_dir, "domain_mix_sample")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # only the groupBy + final orderBy shuffles (each exchange appears
    # twice in formatted output: tree line + detail block)
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4
