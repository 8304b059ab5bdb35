"""Physical-plan audits (the 100 TB lens, SURVEY §4): these assertions pin
the plan shapes that matter at scale — broadcast joins for dim lookups,
predicate pushdown + column pruning into the parquet scan, partial
(map-side) aggregation, and no shuffle in the solver's per-iteration
passes."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECTNESS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_join_is_broadcast(spark):
    from entropy_balance_weighting_spark.queries import QUERIES

    df = QUERIES["j1_broadcast_dim_join"].fn(spark, SF_CORRECTNESS)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # a 25-row dim must never SMJ


def test_filter_and_projection_reach_the_scan(spark):
    li = spark.read.parquet(f"{SF_CORRECTNESS}/lineitem.parquet")
    scan = li.filter(F.col("l_quantity") > 0).select("l_quantity", "l_discount")
    plan = _plan(scan)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity,0.0)" in m.group(1)
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m2 is not None
    cols = {c.split(":")[0] for c in m2.group(1).split(",")}
    # column pruning: only the two projected columns are read
    assert cols == {"l_quantity", "l_discount"}


def test_moment_totals_uses_partial_aggregation(spark):
    from entropy_balance_weighting_spark.queries import QUERIES

    df = QUERIES["a1_weighted_moment_totals"].fn(spark, SF_CORRECTNESS)
    plan = _plan(df)
    # partial_ markers show map-side combine before the shuffle
    assert "partial_" in plan or plan.count("HashAggregate") >= 2


def test_builder_prepacked_arrays_have_no_shuffle(spark):
    """The data layer's projection-derived packed arrays give the solver a
    ZERO-shuffle plan end-to-end (generic x_long packing needs one
    co-partitioning shuffle; builder-made problems skip even that)."""
    import numpy as np
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(300),
            "w": rng.uniform(0.5, 2.0, 300),
            "x0": rng.uniform(size=300),
            "cat": rng.integers(0, 3, 300).astype(str),
        }
    )
    pt = build_problem_tables(
        spark.createDataFrame(pdf),
        MomentSpec(
            weight_col="w", numeric=("x0",), onehot=("cat",), row_key=("rid",)
        ),
    )
    assert pt.packed_arrays is not None
    # no SHUFFLE exchange; the tiny combo→idx dim joins via BroadcastExchange,
    # which moves K-scale bytes, not data
    plan = _plan(pt.packed_arrays)
    assert not re.search(r"Exchange (hash|range|SinglePartition)", plan), plan
    assert "BroadcastHashJoin" in plan or "Project" in plan
    # and the packed rows decode to the exact x_long content
    from pyspark.sql import functions as F

    exploded = pt.packed_arrays.select(
        "row_id", F.explode(F.arrays_zip("idx", "val")).alias("e")
    ).select(
        "row_id",
        F.col("e.idx").alias("moment_id"),
        F.col("e.val").alias("value"),
    )
    a = {(r["row_id"], r["moment_id"], r["value"]) for r in exploded.collect()}
    b = {
        (r["row_id"], r["moment_id"], r["value"])
        for r in pt.x_long.collect()
    }
    assert a == b


def test_embedding_near_dups_has_no_cartesian(spark):
    """The registered near-dup query must candidate-generate via bucketed
    (equi-join) cell pairs — a corpus×corpus theta-join (cartesian /
    nested-loop) is the r2 scale-killer this pins against."""
    from entropy_balance_weighting_spark.queries import QUERIES

    df = QUERIES["dd_embedding_near_dups"].fn(spark, SF_CORRECTNESS)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_solver_iteration_pass_has_no_shuffle(spark):
    """The packed-kernel per-iteration jobs must be map-only: the packing
    shuffle happens once at construction; stats/step/commit scans reuse
    the checkpointed partitioning."""
    import numpy as np
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.spark import (
        SparkKernel,
        _stats_pass,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(200),
            "w": rng.uniform(0.5, 2.0, 200),
            "x0": rng.uniform(size=200),
        }
    )
    pt = build_problem_tables(
        spark.createDataFrame(pdf),
        MomentSpec(weight_col="w", numeric=("x0",), row_key=("rid",)),
    )
    from entropy_balance_weighting_spark.kernels.blobstore import (
        blob_payload_adapter,
    )

    kern = SparkKernel.from_problem(pt.x_long, pt.w0, pt.k)
    # iteration passes are narrow mapPartitions over the cached blob RDD:
    # the lineage must contain no shuffle stage
    pass_rdd = kern._store.base.mapPartitions(
        blob_payload_adapter(
            _stats_pass(
                kern.k, np.zeros(kern.k), wprog=kern._wprog, sum_w0=kern.sum_w0
            )
        )
    )
    assert "ShuffledRDD" not in pass_rdd.toDebugString().decode()
    # the collected payload must also be executable (schema/order contract)
    sums_b, mins_b = pass_rdd.collect()[0]
    assert len(sums_b) > 0 and len(mins_b) == 8
    kern.cleanup()


def test_incremental_dedup_is_anti_join_no_smj(spark):
    """dd_incremental_new_docs: corpus keys reduce to a DISTINCT aggregate
    feeding a LEFT ANTI hash join (broadcast at dim scale); the arrivals
    filter pushes to the scan; no sort-merge join, no cartesian."""
    from entropy_balance_weighting_spark.queries import QUERIES

    df = QUERIES["dd_incremental_new_docs"].fn(spark, SF_CORRECTNESS)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the doc_id split predicates reach the parquet scans
    assert "PushedFilters" in plan and "doc_id" in plan


def test_sketch_rollups_use_partial_aggregation(spark):
    """HLL and KLL sketch rollups must show map-side partial sketch
    aggregation (the mergeable-sketch property IS the plan shape: partial
    sketches combine before the exchange)."""
    from entropy_balance_weighting_spark.queries import QUERIES

    for q in ("txt_vocab_sketch_rollup", "txt_len_kll_rollup"):
        plan = _plan(QUERIES[q].fn(spark, SF_CORRECTNESS))
        assert "partial_" in plan, q
        assert "ObjectHashAggregate" in plan or "HashAggregate" in plan, q


def test_fixed_k_sample_single_exchange_no_global_sort(spark):
    """samp_fixed_per_stratum: one hash exchange on the stratum column +
    within-partition ranking; the only range partitioning allowed is the
    final presentation ORDER BY, never a global sort to rank."""
    from entropy_balance_weighting_spark.queries import QUERIES

    plan = _plan(QUERIES["samp_fixed_per_stratum"].fn(spark, SF_CORRECTNESS))
    assert "hashpartitioning(source" in plan
    # exactly one rank-feeding exchange: hash on source; range only for output
    assert plan.count("Exchange hashpartitioning") == 1
