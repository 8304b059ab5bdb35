"""Edge-case coverage on the DISTRIBUTED kernels specifically: collinear
designs (Tikhonov defense), infeasible problems (failure contract and
elastic certificates), validation rejection, and the estimator's
non-convergence error path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from entropy_balance_weighting_spark import entropy_balance, entropy_balance_penalty
from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables
from entropy_balance_weighting_spark.plans.moment_spec import targets_from_problem


def _tables(spark, pdf, numeric):
    spec = MomentSpec(weight_col="w", numeric=numeric, row_key=("rid",))
    return build_problem_tables(spark.createDataFrame(pdf), spec)


def test_collinear_moments_converge_distributed(spark):
    """Duplicated numeric columns → rank-deficient Gram; the adaptive
    Tikhonov path must still converge on the distributed kernel and match
    the moments (ref: test_colinear.py semantics)."""
    rng = np.random.default_rng(41)
    n = 400
    x0 = rng.uniform(size=n)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": x0,
            "x1": x0,  # exact duplicate → collinear
            "x2": rng.uniform(size=n),
        }
    )
    pt = _tables(spark, pdf, ("x0", "x1", "x2"))
    targets = targets_from_problem(pt, perturb=0.02)
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"force_distributed": True},
    )
    assert res.converged
    ach = (
        pt.x_long.join(res.new_weights, "row_id")
        .groupBy("moment_id")
        .agg((F.sum(F.col("value") * F.col("new_weight")) / pt.sum_w0).alias("a"))
        .collect()
    )
    tgt = {
        r["moment_id"]: r["target"]
        for r in targets.join(pt.moments, "moment_name").collect()
    }
    for r in ach:
        assert r["a"] == pytest.approx(tgt[r["moment_id"]], rel=1e-6)


def test_infeasible_distributed_failure_contract(spark):
    """Provably infeasible targets on the distributed unbounded kernel:
    new_weights must be the ORIGINAL weights, with the attempt preserved
    in failure_weights (ref: ebw_routines.py:321-331)."""
    rng = np.random.default_rng(43)
    n = 300
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "x1": rng.uniform(size=n),
        }
    )
    pt = _tables(spark, pdf, ("x0", "x1"))
    m = np.array([-1.0, 0.5])  # negative target over nonnegative X
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=pt,
        options={"force_distributed": True},
    )
    assert not res.converged
    got = {r["row_id"]: r["new_weight"] for r in res.new_weights.collect()}
    orig = {r["row_id"]: r["w0"] for r in pt.w0.collect()}
    for rid, w in orig.items():
        assert got[rid] == pytest.approx(w)
    assert res.failure_weights is not None


def test_infeasible_distributed_elastic_certificate(spark):
    """The same infeasible problem through the distributed elastic kernel
    converges WITH a violation certificate on the impossible moment."""
    rng = np.random.default_rng(47)
    n = 250
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "x1": rng.uniform(size=n),
        }
    )
    pt = _tables(spark, pdf, ("x0", "x1"))
    m = np.array([-1.0, 0.5])
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=pt,
        options={"force_distributed": True, "bounds": (0.0, None), "max_steps": 200},
    )
    assert res.converged
    rel = np.abs(res.constraint_violations) / pt.sum_w0
    assert rel[0] > 0.5  # the negative target is certifiably impossible


def test_distributed_validation_rejects_bad_inputs(spark):
    pdf = pd.DataFrame(
        {
            "rid": np.arange(10),
            "w": [1.0] * 10,
            "x0": list(np.linspace(0, 1, 9)) + [np.nan],
        }
    )
    spec = MomentSpec(
        weight_col="w",
        numeric=("x0",),
        row_key=("rid",),
        dropna=False,  # let the NaN value through to the validator (V1)
    )
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    with pytest.raises(ValueError, match="invalid values"):
        entropy_balance(
            mean_population_moments=np.array([0.5]),
            x_sample=pt,
            options={"force_distributed": True},
        )


def test_deferred_validation_same_error_all_distributed_kernels(spark):
    """V1 validation is fused into the kernels' first pass (r13
    optimization): the unbounded, elastic and penalty distributed kernels
    must still raise the SAME bad-entry ValueError — with the counts —
    that the eager aggregate produced, for bad X values and bad weights."""
    pdf = pd.DataFrame(
        {
            "rid": np.arange(12),
            "w": [1.0] * 10 + [-2.0, 1.0],  # one non-positive weight
            "x0": list(np.linspace(0, 1, 10)) + [0.5, np.inf],  # one bad X
        }
    )
    spec = MomentSpec(
        weight_col="w",
        numeric=("x0",),
        dropna=False,
        drop_nonpositive_weights=False,  # let both reach the validator
    )
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    for solve, opts in (
        (entropy_balance, {"force_distributed": True}),
        (entropy_balance, {"force_distributed": True, "bounds": (0.2, 5.0)}),
        (entropy_balance_penalty, {"force_distributed": True}),
        (
            entropy_balance_penalty,
            {"force_distributed": True, "bounds": (0.2, 5.0)},
        ),
    ):
        with pytest.raises(
            ValueError, match=r"1 bad X rows, 1 bad weights"
        ):
            solve(
                mean_population_moments=np.array([0.5]),
                x_sample=pt,
                options=opts,
            )


def test_estimator_raises_on_nonconvergence(spark):
    from entropy_balance_weighting_spark.ml import EntropyBalanceEstimator

    rng = np.random.default_rng(51)
    n = 100
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    # a NEGATIVE target over nonnegative X is provably unreachable
    bad_targets = spark.createDataFrame(
        [("x0", -1.0)], "moment_name string, target double"
    )
    est = EntropyBalanceEstimator(
        weightCol="w",
        numericCols=["x0"],
        rowKeyCols=["rid"],
        maxSteps=10,
    ).setTargets(bad_targets)
    with pytest.raises(RuntimeError, match="did not converge"):
        est.fit(df)


def test_distributed_bounds_must_contain_guess(spark):
    """Bounded kernels validate the initial ratio guess against the bounds
    during the checkpoint materialization (fused — no separate count job);
    a guess outside the bounds must still surface as ValueError."""
    import pandas as pd

    n = 50
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": np.linspace(0.5, 2.0, n),
            "x0": np.linspace(0.0, 1.0, n),
        }
    )
    spec = MomentSpec(weight_col="w", numeric=("x0",), row_key=("rid",))
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    guess = pt.w0.select("row_id", F.lit(3.0).alias("ratio"))  # outside ub
    with pytest.raises(ValueError, match="strictly contain"):
        entropy_balance(
            mean_population_moments=np.array([0.55]),
            x_sample=pt,
            options={
                "force_distributed": True,
                "bounds": (0.5, 2.0),
                "initial_ratio_guess": guess,
            },
        )
