"""Local vs distributed kernel differential test.

Random small problems are solved twice through the public API: once on the
dense-numpy local kernel (the small-problem dispatch) and once on the Spark
kernel (``force_distributed``).  Both runs see the same ``ProblemTables``,
so the two kernels must agree on the converged flag, the iteration count
and every weight (within 1e-9 relative), for the unbounded Newton solver,
the elastic solver with bounds (0.2, 5.0), and the penalty solver with and
without bounds.

Shapes cover the moment layouts the kernels treat differently: one-hot
indicators (sparse rows), a collinear design (intercept plus a full one-hot
set, and a numeric column duplicated at twice its value — a singular Gram),
and group-blocked moments (the block-diagonal Gram path).

Group-blocked problems are held to 1e-6, not 1e-9.  There the Spark
kernels hand the driver a ``BlockGram``, whose regularized solve scales the
Tikhonov shift per block, while the local kernel's dense Gram gets one
global shift (``solvers/linalg.py``).  The two runs then take slightly
different Newton steps to the same optimum: the elastic solver's weights
differ by up to about 2e-8 relative (measured: shape grouped, seed 2,
n 200, 4 groups, perturb −0.03; and 1.01e-9 at seed 0, n 60, 2 groups,
perturb 0).  Converged flags and iteration counts must still match exactly.

Each distributed solve costs a few seconds of Spark jobs, so the example
count is bounded to keep the test near a minute, and shrinking is off so a
failure reports its first counterexample without re-solving dozens more.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from entropy_balance_weighting_spark import entropy_balance, entropy_balance_penalty
from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables
from entropy_balance_weighting_spark.plans.moment_spec import targets_from_problem

BOUNDS = (0.2, 5.0)
PENALTY = 4.0

SPECS = {
    "onehot": MomentSpec(weight_col="w", numeric=("x0",), onehot=("c",)),
    "collinear": MomentSpec(
        weight_col="w", numeric=("x0", "x0d"), onehot=("c",), intercept=True
    ),
    "grouped": MomentSpec(weight_col="w", numeric=("x0", "x1"), group=("g",)),
}


def _solve(algo: str, m: np.ndarray, pt, distributed: bool):
    opts = {"force_distributed": True} if distributed else {}
    if algo == "newton":
        return entropy_balance(mean_population_moments=m, x_sample=pt, options=opts)
    if algo == "elastic":
        return entropy_balance(
            mean_population_moments=m, x_sample=pt, options={**opts, "bounds": BOUNDS}
        )
    if algo == "penalty_bounded":
        opts = {**opts, "bounds": BOUNDS}
    return entropy_balance_penalty(m, pt, penalty_parameter=PENALTY, options=opts)


def _weights(res) -> dict[int, float]:
    return {r["row_id"]: r["new_weight"] for r in res.new_weights.collect()}


@pytest.mark.parametrize("algo", ["newton", "elastic", "penalty", "penalty_bounded"])
@settings(
    max_examples=2,
    deadline=None,
    phases=(Phase.explicit, Phase.reuse, Phase.generate),
    suppress_health_check=list(HealthCheck),
)
@given(
    shape=st.sampled_from(sorted(SPECS)),
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(60, 240),
    n_cats=st.integers(2, 4),
    perturb=st.floats(-0.03, 0.03),
)
def test_local_and_distributed_kernels_agree(
    spark, algo, shape, seed, n, n_cats, perturb
):
    rng = np.random.default_rng(seed)
    x0 = rng.uniform(size=n)
    pdf = pd.DataFrame(
        {
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": x0,
            "x0d": 2.0 * x0,
            "x1": rng.uniform(size=n),
            # every category and group is present, so K is fixed by n_cats
            "c": [f"c{i % n_cats}" for i in rng.permutation(n)],
            "g": [f"g{i % n_cats}" for i in rng.permutation(n)],
        }
    )
    pt = build_problem_tables(spark.createDataFrame(pdf), SPECS[shape])
    targets = dict(targets_from_problem(pt, perturb=perturb).collect())
    m = np.array([targets[name] for name in pt.moment_names])

    local = _solve(algo, m, pt, distributed=False)
    dist = _solve(algo, m, pt, distributed=True)
    assert dist.converged == local.converged
    assert dist.n_iterations == local.n_iterations
    w_local, w_dist = _weights(local), _weights(dist)
    assert set(w_dist) == set(w_local)
    ids = sorted(w_local)
    np.testing.assert_allclose(
        [w_dist[i] for i in ids],
        [w_local[i] for i in ids],
        rtol=1e-6 if shape == "grouped" else 1e-9,
        atol=0.0,
    )
