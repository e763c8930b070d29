"""Physical-plan hygiene assertions: the properties .explain() must show
for the 100 TB posture — predicate pushdown into parquet scans, broadcast
joins for small dimensions/query sides, sort-merge on salted keys, and
UDF-free whole-stage-codegen pipelines for the text operators."""

import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators import relational, textql
from frechetrange_spark.operators.range_query import (
    build_grid_index,
    grid_candidates,
)
from frechetrange_spark.sources.trajectories import curves as load_curves
from tests.conftest import SF_SMALL


def _explain(df, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_relational_filters_push_into_parquet_scan(spark):
    """pricing_summary's shipdate predicate must reach the lineitem scan
    (PushedFilters), and the scan must prune to the referenced columns."""
    plan = _explain(relational.pricing_summary(spark, SF_SMALL))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 16-column lineitem scan reads only what Q1 needs
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_relational_dims_broadcast(spark):
    """Q3-shaped shipping_priority joins customer/orders dims via
    BroadcastHashJoin — no shuffle of the small sides."""
    plan = _explain(relational.shipping_priority(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_grid_join_broadcasts_small_query_side(spark):
    """A small query workload against the grid index must plan as a
    broadcast join (no shuffle of the indexed dataset)."""
    curves = load_curves(spark, SF_SMALL)
    queries = curves.filter(F.col("traj_id") % 50 == 0)
    index_df, meta = build_grid_index(curves, 15.0, corner="min_min")
    plan = _explain(grid_candidates(index_df, queries, 15.0, meta))
    assert "BroadcastHashJoin" in plan


def test_endpoint_join_broadcasts_small_query_side(spark):
    """J3 di-hash probe: the exploded query side (small workload) must be
    the broadcast side of the cell equi-join, with both endpoint distance
    predicates attached as the join condition — pins the round-2 driver
    bench regression to variance, not a lost broadcast."""
    from frechetrange_spark.operators.dihash import endpoint_candidates

    curves = load_curves(spark, SF_SMALL)
    queries = curves.filter(F.col("traj_id") % 50 == 0)
    plan = _explain(endpoint_candidates(curves, queries, 15.0, 15.0))
    assert "BroadcastHashJoin" in plan
    # endpoint predicates run inside the join, not a post-join filter stage
    assert "Join condition" in plan
    cond = plan[plan.index("Join condition"):].splitlines()[0]
    assert "q_x_first" in cond and "q_x_last" in cond


def test_salted_grid_join_is_sort_merge(spark):
    """With salt, the join is hinted to sort-merge on the salted key —
    the skew-spreading plan (see BENCH.md hot-cell section)."""
    curves = load_curves(spark, SF_SMALL)
    index_df, meta = build_grid_index(curves, 15.0, corner="min_min")
    plan = _explain(grid_candidates(index_df, curves, 15.0, meta, salt=4))
    assert "SortMergeJoin" in plan
    assert "_salt" in plan


def test_text_operators_are_udf_free_codegen(spark):
    """token_stats / language_id / quality / fingerprints compile to pure
    Catalyst (no Python eval nodes) with whole-stage codegen spans."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for op in (
        textql.token_stats,
        textql.language_id,
        textql.quality_score,
        textql.doc_fingerprints,
    ):
        plan = _explain(op(docs))
        assert "BatchEvalPython" not in plan, op.__name__
        assert "ArrowEvalPython" not in plan, op.__name__
        # formatted mode annotates codegen stages with "[codegen id : N]";
        # AQE-wrapped plans (isFinalPlan=false) don't show them until the
        # first stage runs, so require the annotation only pre-AQE
        if "AdaptiveSparkPlan" not in plan:
            assert "codegen id" in plan, op.__name__


def test_refine_input_is_explicitly_repartitioned(spark):
    """The refine kernel input carries a round-robin exchange (AQE's
    byte-based coalescing must not serialize CPU-heavy pair rows)."""
    from frechetrange_spark.operators.range_query import range_query_grid

    curves = load_curves(spark, SF_SMALL)
    index_df, meta = build_grid_index(curves, 15.0, corner="min_min")
    plan = _explain(range_query_grid(index_df, curves, 15.0, meta))
    assert "RoundRobinPartitioning" in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "mapInArrow" in plan


def _refine_repartition_input(plan: str) -> set[str]:
    """Column names entering the round-robin Exchange that feeds the
    refine kernel (ids stripped: ``xs#12`` -> ``xs``)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "RoundRobinPartitioning" in line and lines[i - 1].startswith("Input"):
            cols = lines[i - 1].split(": ", 1)[1].strip("[]")
            return {c.split("#")[0].strip() for c in cols.split(",")}
    raise AssertionError("no round-robin repartition in plan")


def test_refine_repartition_carries_only_rows_side_arrays(spark):
    """The repartition feeding the refine carries a side's array columns
    (q_xs/q_ys for the query side, xs/ys for the dataset side) only when
    that side's curves ride the rows; broadcast and disk sides move ids
    only."""
    from frechetrange_spark.operators.range_query import range_query_grid
    from frechetrange_spark.sources.pack_store import _est_broadcast_bytes

    conf = "spark.sql.autoBroadcastJoinThreshold"
    curves = load_curves(spark, SF_SMALL)
    queries = curves.filter(F.col("traj_id") % 50 == 0)
    index_df, meta = build_grid_index(curves, 15.0, corner="min_min")
    between = (_est_broadcast_bytes(queries) + meta["payload_bytes"]) // 2
    cases = [
        # (threshold, meta, query side rides rows, dataset side rides rows)
        (None, meta, False, False),  # both broadcast
        (between, meta, False, True),  # query broadcast, dataset rows
        (between, {**meta, "pack_path": "/nonexistent"}, False, False),  # disk
        (-1, meta, True, True),  # all rows
    ]
    old = spark.conf.get(conf)
    try:
        for thr, m, q_rows, d_rows in cases:
            spark.conf.set(conf, old if thr is None else str(thr))
            plan = _explain(range_query_grid(index_df, queries, 15.0, m))
            cols = _refine_repartition_input(plan)
            assert {"query_id", "traj_id"} <= cols, (thr, cols)
            assert bool({"q_xs", "q_ys"} & cols) == q_rows, (thr, cols)
            assert bool({"xs", "ys"} & cols) == d_rows, (thr, cols)
    finally:
        spark.conf.set(conf, old)


def test_trajectory_reconstruction_udf_free(spark):
    """The carrier-table -> point-table reconstruction is pure Catalyst."""
    from frechetrange_spark.sources.trajectories import trajectory_points

    plan = _explain(trajectory_points(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_worker_warmup_runs_and_is_idempotent(spark):
    """session.warm_python_workers (pre-faults worker heaps; bench.py and
    the spark-submit job call it before timing) completes and is safe to
    call repeatedly."""
    from frechetrange_spark.session import warm_python_workers

    warm_python_workers(spark, mb_per_task=16)
    warm_python_workers(spark, mb_per_task=16)
