"""A distributed kernel's ``cleanup()`` releases every RDD block it cached.

Each case builds a kernel, runs a full solve on it (including the
``new_weights`` render), then calls ``cleanup()``.  Blocks are read from
the block manager itself: ``getPersistentRDDs`` holds its RDDs weakly, so
its size moves with the JVM's garbage collector.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables
from entropy_balance_weighting_spark.plans.moment_spec import targets_from_problem


def _rdd_blocks(sc) -> set[int]:
    """Ids of the RDDs that hold at least one block, memory or disk."""
    ids: set[int] = set()
    for status in sc._jsc.sc().env().blockManager().master().getStorageStatus():
        it = status.rddBlocks().iterator()
        while it.hasNext():
            ids.add(int(it.next()._1().rddId()))
    return ids


@pytest.fixture(scope="module")
def problem(spark):
    rng = np.random.default_rng(3)
    n = 400
    pdf = pd.DataFrame(
        {
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "x1": rng.uniform(size=n),
            "c": [f"c{i % 3}" for i in range(n)],
        }
    )
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1"), onehot=("c",))
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    targets = dict(targets_from_problem(pt, perturb=0.03).collect())
    m = np.array([targets[name] for name in pt.moment_names])
    return pt, m


def _kwargs(pt):
    return {
        "moment_groups": pt.moment_groups,
        "known_sums": (pt.sum_w0, pt.n),
        "prepacked": pt.packed_arrays,
    }


def _newton(pt, m, monkeypatch):
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    # every primal commit past the start program rewrites the blob cache
    monkeypatch.setattr(SparkKernel, "_MAX_PROG", 1)
    kern = SparkKernel.from_problem(pt.x_long, pt.w0, pt.k, **_kwargs(pt))
    return kern, lambda: solve_unbounded(kern, m, {}, original_weights=None)


def _elastic(pt, m, ratio_guess=None):
    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.solvers.elastic import solve_elastic

    kern = ElasticSparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        bounds=(0.2, 5.0),
        ratio_guess=ratio_guess,
        **_kwargs(pt),
    )
    return kern, lambda: solve_elastic(kern, m, {}, original_weights=None)


def _elastic_fused(pt, m, monkeypatch):
    from entropy_balance_weighting_spark.kernels import elastic_spark as es

    monkeypatch.setattr(es, "_FUSED_MIN_ROWS", 0)
    return _elastic(pt, m)


def _elastic_warm(pt, m, monkeypatch):
    guess = pt.w0.select("row_id", F.lit(1.1).alias("ratio"))
    return _elastic(pt, m, ratio_guess=guess)


def _penalty_bounded(pt, m, monkeypatch):
    from entropy_balance_weighting_spark.kernels.penalty_spark import (
        PenaltySparkKernel,
    )
    from entropy_balance_weighting_spark.solvers.penalty import (
        solve_penalty_bounded,
    )

    kern = PenaltySparkKernel.from_problem(
        pt.x_long, pt.w0, pt.k, bounds=(0.2, 5.0), **_kwargs(pt)
    )
    return kern, lambda: solve_penalty_bounded(
        kern, m, 4.0, {}, original_weights=None
    )


@pytest.mark.parametrize(
    "build", [_newton, _elastic_fused, _elastic_warm, _penalty_bounded]
)
def test_cleanup_releases_every_cached_block(spark, problem, build, monkeypatch):
    sc = spark.sparkContext
    pt, m = problem
    watermark = sc.emptyRDD().id()
    kern, solve = build(pt, m, monkeypatch)
    res = solve()
    assert res.converged
    assert res.new_weights.count() == pt.n
    # the solve really cached blobs, so an empty set below means released
    assert {r for r in _rdd_blocks(sc) if r > watermark}
    kern.cleanup()
    assert not {r for r in _rdd_blocks(sc) if r > watermark}
