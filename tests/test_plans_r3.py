"""Physical-plan audits for round-3 operators — the anti-pattern checks
test_plans.py pins for the core engine, extended to the new families:
no Python row evals, no cartesian products, broadcasts where the design
says broadcast, hashed (8-byte) shuffle keys where the design says hashed.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_containment_plan_hashed_keys_no_cartesian(spark):
    from cars_bids_data_pipeline_v0__spark.operators.dedup_docs import (
        containment_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    p = plan(containment_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "xxhash64" in p          # inverted index joins on 8-byte keys


def test_boilerplate_plan_broadcasts_group_sizes(spark):
    from cars_bids_data_pipeline_v0__spark.operators.dedup_docs import (
        boilerplate_ngram_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"text body {i}", "src") for i in range(8)],
        "doc_id long, text string, source string",
    )
    p = plan(boilerplate_ngram_stats(docs))
    assert "BroadcastHashJoin" in p  # per-group doc counts broadcast
    assert "BatchEvalPython" not in p


def test_market_basket_plan_broadcasts_marginals(spark):
    from cars_bids_data_pipeline_v0__spark.plans import queries as Q

    Q._load_extensions()
    df = Q.REGISTRY["q134_market_basket_lift"].builder(
        spark, "/root/testdata/sf0.001"
    )
    p = plan(df)
    assert "BroadcastHashJoin" in p  # part dim + brand marginals broadcast
    assert "CartesianProduct" not in p


def test_hard_negatives_plan_broadcast_queries_single_corpus_scan(spark):
    from cars_bids_data_pipeline_v0__spark.plans import queries as Q

    Q._load_extensions()
    df = Q.REGISTRY["q138_hard_negative_mining"].builder(
        spark, "/root/testdata/sf0.001"
    )
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_tx_stage_writes_are_distributed_no_collect(spark, tmp_path):
    """stage_dataframe must ship rows via a distributed write — the plan
    of the staged frame is a plain InsertIntoHadoopFsRelation shape, and
    nothing in txlog collects row data to the driver (only file names)."""
    import inspect

    from cars_bids_data_pipeline_v0__spark.sources import txlog

    src = inspect.getsource(txlog)
    # every .collect() in txlog must be bounded METADATA, never row data.
    # The audited sites (update this count WITH an audit when adding one):
    #   1 partition-value list (tx_merge_partitioned)
    #   2 per-file visible-hit counts (_affected_files: the one discovery
    #     step of delete, update and merge — was two collects, the
    #     delete/update hit counts and merge's distinct file list)
    #   3 merge cardinality probe (delta-sized agg, limit(1))
    #   4 constraint-violation counts (one agg row)
    #   5 generated-column validation counts (one agg row)
    #   6 set_constraint born-valid probe (one agg row)
    #   7 add-column type/default validation probe (one literal row)
    #   8 merge fused source-stats probe (ONE count/count_distinct agg row
    #     over the persisted source — replaced the separate source.count()
    #     job + unconditional dup-key groupBy probe in round 13)
    # (round 10 removed the separate merge action-count collect: the
    # update/delete counts now ride the staging write as CollectMetrics
    # — see tx_merge's single-pass rewrite.)
    assert src.count(".collect()") == 8
    assert ".toPandas()" not in src and ".toLocalIterator()" not in src
