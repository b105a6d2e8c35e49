"""Catalyst physical-plan audits: the 100-TB checklist from SURVEY.md §4.2
asserted against actual `executedPlan` strings — filters pushed to the
parquet scan, columns pruned before the Python boundary, small sides
broadcast, aggregations partial+final, and no cartesian products anywhere
in the query surface."""

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_bounded_side_only_and_pushes_filters(spark):
    """The 100-TB discipline: exactly ONE explicit broadcast hint (customer,
    the genuinely bounded dimension).  The date-filtered orders side is
    fact-sized and must NOT carry a hint — whether lineitem⋈orders broadcasts
    is Catalyst/AQE's size-based call (correct at sandbox SFs, correct at
    100 TB)."""
    from colonnade_spark.queries import q_tpch_shipping_priority

    df = q_tpch_shipping_priority(spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1, logical
    plan = _plan(df)
    # the customer join is broadcast; no cartesian anywhere
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan, plan
    # predicate pushdown reached the scans
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan \
        or "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_scan_prunes_columns_before_python_boundary(spark):
    from colonnade_spark.queries import registry

    fn, _ = registry()["rt_fsst_text"]
    plan = _plan(fn(spark, SF))
    # only the selected columns reach the scan (lang/source/n_chars pruned)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_aggregations_are_partial_plus_final(spark):
    from colonnade_spark.queries import q_dedup_exact, q_events_window

    for q in (q_dedup_exact, q_events_window):
        plan = _plan(q(spark, SF))
        # map-side combine: two HashAggregate levels around the exchange
        assert plan.count("HashAggregate") >= 2, plan


def test_no_cartesian_anywhere_in_query_surface(spark):
    """Every registry query except the two explicit exact-oracle baselines
    (all-pairs by definition) must plan without cartesian products."""
    from colonnade_spark.queries import registry

    allowed_cartesian = {"embedding_neardup", "ann_topk"}  # exact baselines
    for name, (fn, _sql) in registry().items():
        plan = _plan(fn(spark, SF))
        if name in allowed_cartesian:
            continue
        assert "CartesianProduct" not in plan, f"{name}: {plan[:2000]}"


def test_encode_plan_shape(spark):
    """The encode plan as ``encode_table`` builds it: the salt-map join is
    broadcast (tiny per-repo sizes table), and buckets are placed by id
    with an explicit count (``repartitionById``), an exchange AQE cannot
    coalesce, so each bucket keeps its own encode task."""
    from colonnade_spark import engine
    from colonnade_spark.plan import corpus_plan
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.selectExpr("source as repo",
                             "cast(doc_id as string) as path",
                             "md5(text) as commit", "lang",
                             "text as content")
    plan_obj = corpus_plan()
    bucketed = engine.assign_buckets(plan_obj.project(corpus), plan_obj, 8)
    shuffled = (bucketed.repartitionById(8, F.col("__bucket"))
                .sortWithinPartitions("__bucket", *plan_obj.stage_order))
    plan = _plan(shuffled)
    assert re.search(r"Exchange shufflepartitionidpassthrough\("
                     r"direct_shuffle_partition_id\(__bucket#\d+\), 8\), "
                     r"REPARTITION_BY_NUM", plan), plan
    assert "BroadcastHashJoin" in plan, plan          # salt map broadcast
    assert plan.count("Exchange") <= 3, plan           # agg + repartition
    assert "CartesianProduct" not in plan, plan


# Python operators as they appear in a physical plan, and the nodes allowed
# between one of them and the exchange that feeds it
_PYTHON_OPS = {"MapInArrow", "ArrowEvalPython", "MapInPandas"}
_PASS_THROUGH = {"Sort", "Project"}


def _children(node):
    """Physical children of a py4j plan node, subquery plans included and
    the adaptive wrapper unwrapped to the plan it will run."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    out = []
    for seq in (node.children(), node.subqueries()):
        out.extend(seq.apply(i) for i in range(seq.size()))
    return out


def _python_feeding_exchanges(node):
    """Yield ``(python_op, exchange)`` for every shuffle exchange directly
    under a Python operator, with only Sort/Project nodes between them."""
    if node.nodeName() in _PYTHON_OPS:
        below = _children(node)
        while len(below) == 1 and below[0].nodeName() in _PASS_THROUGH:
            below = _children(below[0])
        for c in below:
            if c.nodeName() == "Exchange":
                yield node.nodeName(), c
    for c in _children(node):
        yield from _python_feeding_exchanges(c)


def test_python_stages_get_explicit_partition_counts(spark):
    """Every exchange that directly feeds a Python operator carries an
    explicit partition count (``REPARTITION_BY_NUM``).  A count-free
    exchange is coalesced by AQE on shuffle BYTES, which cannot see Python
    CPU, and serializes the kernel on 1-2 tasks (see
    ``session.partition_for_python``).

    Audited: every registry query at sf0.001 whose plan is built lazily.
    Not audited: ``dedup_near_cluster`` and ``simhash_neardup`` run jobs
    while planning and return checkpointed/cached frames, so their Python
    stages are not in the returned plan."""
    from colonnade_spark.queries import registry

    eager = {"dedup_near_cluster", "simhash_neardup"}
    fed = set()
    for name, (fn, _sql) in registry().items():
        if name in eager:
            continue
        root = fn(spark, SF)._jdf.queryExecution().executedPlan()
        for op, ex in _python_feeding_exchanges(root):
            origin = ex.shuffleOrigin().toString()
            assert origin == "REPARTITION_BY_NUM", (
                f"{name}: {op} fed by {origin} exchange\n{ex.toString()}")
            fed.add(name)
    # the audit reached both the keyless spread and the keyed kernels
    assert {"doc_winnow", "minhash_neardup", "ngram_jaccard",
            "embedding_neardup_lsh"} <= fed, sorted(fed)


def test_chunking_and_mix_sample_are_shuffle_free(spark):
    """doc_chunk_windows (explode over per-row windows) and
    dataset_mix_sample (hash-bucket filter) are embarrassingly parallel by
    construction — their plans must contain NO exchange at all (at 100 TB
    these run as pure map stages over the scan)."""
    from colonnade_spark.queries import (q_dataset_mix_sample,
                                         q_doc_chunk_windows)

    for q in (q_doc_chunk_windows, q_dataset_mix_sample):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, plan
