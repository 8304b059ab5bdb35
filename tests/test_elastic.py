"""Elastic/bounded solver tests (SURVEY §5 layers 5, 10; ref:
test_inequality.py:60-214 full-KKT oracle, test_elastic.py:35-83
infeasibility semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from entropy_balance_weighting_spark import entropy_balance


def _problem(n=400, k=3, seed=7, perturb=1.03):
    rng = np.random.default_rng(seed)
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, size=n)
    m = x.T @ w0 / w0.sum() * perturb
    return x, w0, m


def test_condensed_step_satisfies_full_kkt_newton_system():
    """The Schur-condensed step + closed-form recoveries must satisfy every
    block of the full linearized KKT system (the reference proves the same
    equivalence against a brute-force factorization,
    ref: test_inequality.py:60-214)."""
    n, k = 40, 3
    x, w0, m = _problem(n=n, k=k, seed=3)
    from entropy_balance_weighting_spark.kernels.elastic_local import (
        ElasticLocalKernel,
    )

    kern = ElasticLocalKernel(x, w0, bounds=(0.3, 2.0))
    a = x * w0[:, None]
    b = m * w0.sum()

    # driver init (mirrors solvers.elastic)
    cv = kern.elastic_g1() - b
    u = np.where(cv < 0, -cv + 0.01, 0.01)
    v = np.where(cv > 0, cv + 0.01, 0.01)
    mu_s = mu_u = mu_v = 0.05
    lu = mu_u / u
    lv = mu_u / v
    lam = np.zeros(k)
    eta = 1.5 * max(lu.max(), lv.max())

    st = kern.elastic_stats(lam, eta, mu_s)
    ce = st.g1 - b + u - v
    cu = 1.0 - lam - lu
    cvv = 1.0 + lam - lv
    clu = u * lu - mu_u
    clv = v * lv - mu_v
    lhs = st.gram + np.diag(u / lu + v / lv)
    rhs = ce + (v / lv) * (cvv + clv / v) - (u / lu) * (cu + clu / u) - st.rhs_leg
    dlam = -np.linalg.solve(lhs, rhs)  # δ=0: test the exact condensation

    r_step, li_lo, li_hi, ss_lo, ss_hi = kern._steps(lam, dlam, eta, mu_s)
    u_step = (u / lu) * (dlam - (cu + clu / u))
    v_step = (v / lv) * (-dlam - (cvv + clv / v))
    lu_step = (1.0 / u) * (-clu - lu * u_step)
    lv_step = (1.0 / v) * (-clv - lv * v_step)

    r = kern.ratio
    cd = (1.0 / eta) * w0 * np.log(r) - a @ lam - (kern.lm_lo - kern.lm_hi)
    ci_lo = r - kern.s_lo - kern.lb
    ci_hi = -r - kern.s_hi + kern.ub
    cs_lo = kern.s_lo * kern.lm_lo - mu_s
    cs_hi = kern.s_hi * kern.lm_hi - mu_s

    atol = 1e-9
    # 1: dual feasibility row
    np.testing.assert_allclose(
        (1.0 / eta) * (w0 / r) * r_step - a @ dlam - (li_lo - li_hi),
        -cd,
        atol=atol,
    )
    # 2: elastic equality row
    np.testing.assert_allclose(a.T @ r_step + u_step - v_step, -ce, atol=atol)
    # 3: inequality rows (both bound sides)
    np.testing.assert_allclose(r_step - ss_lo, -ci_lo, atol=atol)
    np.testing.assert_allclose(-r_step - ss_hi, -ci_hi, atol=atol)
    # 4/5: elastic multiplier rows
    np.testing.assert_allclose(-dlam - lu_step, -cu, atol=atol)
    np.testing.assert_allclose(dlam - lv_step, -cvv, atol=atol)
    # 6/7: elastic complementarity rows
    np.testing.assert_allclose(lu * u_step + u * lu_step, -clu, atol=atol)
    np.testing.assert_allclose(lv * v_step + v * lv_step, -clv, atol=atol)
    # 8: slack complementarity rows
    np.testing.assert_allclose(
        kern.lm_lo * ss_lo + kern.s_lo * li_lo, -cs_lo, atol=atol
    )
    np.testing.assert_allclose(
        kern.lm_hi * ss_hi + kern.s_hi * li_hi, -cs_hi, atol=atol
    )


def test_elastic_feasible_matches_targets():
    """Wide bounds + feasible targets: elastic converges and the weighted
    moments reproduce the targets (violations are interior-point-small)."""
    x, w0, m = _problem(seed=11)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.0, None)},
    )
    assert res.converged
    achieved = x.T @ res.new_weights / w0.sum()
    np.testing.assert_allclose(achieved, m, rtol=1e-5)
    assert res.new_weights.min() > 0


def test_elastic_bounds_respected():
    x, w0, m = _problem(seed=19, perturb=1.10)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.8, 1.25)},
    )
    assert res.converged
    ratio = res.new_weights / w0
    assert ratio.min() >= 0.8 - 1e-6
    assert ratio.max() <= 1.25 + 1e-6


def test_elastic_infeasible_converges_with_certificate():
    """Impossible targets (share > 1 per indicator-free scaling): elastic
    still converges; constraint_violations carry the infeasibility
    (ref: README.md:97-99, test_elastic.py:35-83)."""
    x, w0, m = _problem(seed=23)
    m_bad = m * 5.0  # unreachable under ratio ≤ 1.05
    res = entropy_balance(
        mean_population_moments=m_bad,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.95, 1.05)},
    )
    assert res.converged
    viol = np.abs(res.constraint_violations) / w0.sum()
    assert viol.max() > 0.1  # certifiably infeasible, not silently "solved"


def test_elastic_violation_decreases_with_eta():
    """Higher η (L¹ price) ⇒ weakly smaller violation on an infeasible
    problem (ref: test_elastic.py eta monotonicity)."""
    x, w0, m = _problem(seed=29)
    m_bad = m * 1.5
    viols = []
    for eta in (10.0, 1000.0):
        res = entropy_balance(
            mean_population_moments=m_bad,
            x_sample=x,
            weights0=w0,
            options={"bounds": (0.5, 1.6), "eta": eta},
        )
        assert res.converged
        viols.append(float(np.sum(np.abs(res.constraint_violations))))
    assert viols[1] <= viols[0] * 1.01


def test_elastic_results_fields():
    x, w0, m = _problem(seed=31)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.0, None)},
    )
    assert res.equality_multipliers_estimate.shape == (3,)
    assert res.moment_slack_multipliers_estimate.shape == (6,)
    assert res.eta is not None and res.eta > 0


def test_elastic_distributed_matches_local(spark):
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)
    opts = {"bounds": (0.5, 1.8)}
    res_local = entropy_balance(
        mean_population_moments=m, x_sample=x, weights0=w0, options=opts
    )
    res_dist = entropy_balance(
        mean_population_moments=m,
        x_sample=pt,
        options={**opts, "force_distributed": True},
    )
    assert res_local.converged and res_dist.converged
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(pdf[["rid"]]).select(
        "rid", F.xxhash64("rid").alias("row_id")
    ).collect()
    by_rid = {r["rid"]: r["row_id"] for r in rows}
    got = {r["row_id"]: r["new_weight"] for r in res_dist.new_weights.collect()}
    w_dist = np.array([got[by_rid[rid]] for rid in pdf["rid"]])
    np.testing.assert_allclose(w_dist, res_local.new_weights, rtol=1e-5)


def test_reference_readme_golden_bounded_case():
    """The reference README's own worked example (ref: README.md:68-109):
    unbounded weights [1.75, .75, .75, .825, .825]; with bounds (0.5, 1.5)
    the problem turns infeasible, elastic clips the first weight to 1.5
    and certifies violation ≈ −0.25 on moment 0 while the other moments
    stay matched."""
    x = np.array(
        [
            [1.0, 0.0, 0.0],
            [0.0, 1.0, 0.0],
            [0.0, 1.0, 0.0],
            [0.0, 0.0, 1.0],
            [0.0, 0.0, 1.0],
        ]
    )
    m = np.array([0.35, 0.30, 0.33])
    w0 = np.ones(5)

    res = entropy_balance(
        x_sample=x, weights0=w0, mean_population_moments=m
    )
    assert res.converged
    np.testing.assert_allclose(
        res.new_weights, [1.75, 0.75, 0.75, 0.825, 0.825], atol=1e-4
    )

    res_b = entropy_balance(
        x_sample=x,
        weights0=w0,
        mean_population_moments=m,
        options={"bounds": (0.5, 1.5)},
    )
    assert res_b.converged
    np.testing.assert_allclose(
        res_b.new_weights, [1.5, 0.75, 0.75, 0.825, 0.825], atol=1e-4
    )
    np.testing.assert_allclose(
        res_b.constraint_violations, [-0.25, 0.0, 0.0], atol=1e-4
    )


def test_elastic_tiny_weights_large_eta_overflow_is_not_fatal():
    """Overflow in the alternate-optimality exponential
    exp(η·(Xλ + λ_net/w0)) must NOT abort the solve: the reference lets
    that residual become inf and keeps iterating (ebw_routines.py:586-600).
    Repro: w0 ~ 1e-3 with a forced η=20 overflows at iteration 0."""
    x, w0, m = _problem(seed=47)
    w0 = np.full_like(w0, 1e-3)
    m = x.T @ w0 / w0.sum() * 1.03
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.0, None), "eta": 20.0},
    )
    assert res.converged, res.error_message
    achieved = x.T @ res.new_weights / w0.sum()
    np.testing.assert_allclose(achieved, m, rtol=1e-4)


@pytest.mark.parametrize("bounds", [(0.3, 2.0), (0.2, None)])
def test_estats_mu_decomposition_identities(bounds):
    """The EStats μ_s-decomposition must be exact: reductions re-derived at
    μ₂ from a μ₁ scan (rhs_leg shift by rhs_mu_leg; cs_sq from the sl
    partials) equal a direct scan at μ₂ — this is what lets the driver
    update the barrier parameter from the same scan with no extra pass."""
    from entropy_balance_weighting_spark.kernels.elastic_local import (
        ElasticLocalKernel,
    )

    x, w0, _ = _problem(n=200, k=3, seed=11)
    kern = ElasticLocalKernel(x, w0, bounds=bounds)
    rng = np.random.default_rng(5)
    lam = rng.normal(scale=0.1, size=3)
    eta, mu1, mu2 = 5.0, 0.05, 0.012
    st1 = kern.elastic_stats(lam, eta, mu1)
    st2 = kern.elastic_stats(lam, eta, mu2)
    np.testing.assert_allclose(
        st1.rhs_leg + (mu1 - mu2) * st1.rhs_mu_leg, st2.rhs_leg, rtol=1e-12
    )
    assert np.isclose(
        st1.sl_sq - 2.0 * mu2 * st1.sl_sum + st1.sl_cnt * mu2**2,
        st2.cs_sq,
        rtol=1e-12,
    )
    # μ-free pieces must agree between the two scans
    assert np.isclose(st1.cd_sq, st2.cd_sq)
    np.testing.assert_allclose(st1.gram, st2.gram)


def test_elastic_distributed_two_jobs_per_iteration(spark):
    """Structural pin of the 2-jobs-per-iteration claim: a distributed
    elastic solve issues exactly one kernel reduce for the init gap, one
    per stats scan (iters+1), and one per step scan (iters) — commits must
    contribute ZERO reduces (they ride the next stats scan), and the final
    violations reuse the breaking stats scan's g1 (no extra scan)."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)

    n_reduces = 0
    orig_reduce = ElasticSparkKernel._reduce

    def counting_reduce(self, fn, **kw):
        nonlocal n_reduces
        n_reduces += 1
        return orig_reduce(self, fn, **kw)

    ElasticSparkKernel._reduce = counting_reduce
    try:
        res = entropy_balance(
            mean_population_moments=m,
            x_sample=pt,
            options={"bounds": (0.5, 1.8), "force_distributed": True},
        )
    finally:
        ElasticSparkKernel._reduce = orig_reduce
    assert res.converged
    t = res.n_iterations
    # init g1 + (t+1) stats + t steps; final violations reuse st.g1
    assert n_reduces == 2 * t + 2, (n_reduces, t)


def test_eta_growth_cannot_declare_convergence_below_max_multiplier():
    """r3 ADVICE regression: on an iteration where the L1 price eta grows,
    the optimality residuals were evaluated at the PRE-growth eta, so the
    solver must not declare convergence there.  Pin the visible invariant:
    a converged solve started from a deliberately tiny eta ends with
    eta at or above every reported multiplier."""
    x, w0, m = _problem(perturb=1.05)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.5, 2.0), "eta": 1e-2},
    )
    assert res.converged
    hist = res.diagnostics["history"]
    assert hist[-1]["eta"] > 1e-2  # growth actually happened
    mult_max = max(
        float(np.abs(res.equality_multipliers_estimate).max()),
        float(res.moment_slack_multipliers_estimate.max()),
    )
    assert res.eta >= mult_max - 1e-9


def test_wire32_payload_roundtrip_and_merge():
    """The float32 payload wire (r10): head scalars stay exact float64,
    the K-sized tail round-trips at float32 precision, and the mixed
    merge matches the float64 merge to float32 tolerance."""
    import numpy as np

    from entropy_balance_weighting_spark.kernels import blobstore
    from entropy_balance_weighting_spark.kernels import elastic_spark as es

    rng = np.random.default_rng(11)
    k = 37

    def fake_acc():
        acc = es._EStatsAcc(k, None)
        acc.f_val = float(rng.normal()) * 1e6
        acc.cd_sq, acc.ci_sq, acc.cs_sq = 1.25e-9, 3.5, 0.125
        acc.alt_sq, acc.nan_ct = 7.0, 0.0
        acc.sl_sum, acc.sl_sq, acc.sl_cnt = 12.5, 8.25, 250.0
        acc.sl_min, acc.neg_lm_max = 1e-7, -4.5
        acc.g1 = rng.normal(size=k) * 1e5
        acc.rhs_leg = rng.normal(size=k)
        acc.rhs_mu_leg = rng.normal(size=k) * 1e-3
        acc.gram = rng.normal(size=k * k)
        return acc

    a, b = fake_acc(), fake_acc()

    def pair(acc, wire32):
        rb = acc.payload(wire32)
        return (
            rb.column(0).to_pylist()[0],
            rb.column(1).to_pylist()[0],
        )

    s64, m64 = blobstore.merge_payload(pair(a, False), pair(b, False))
    s32, m32 = es._merge_payload_mixed(pair(a, True), pair(b, True))
    full64 = np.frombuffer(s64, dtype=np.float64)
    full32 = es._decode_sums(s32, True)
    assert full32.dtype == np.float64 and len(full32) == len(full64)
    # head: bit-exact (scalars never touch the float32 wire)
    np.testing.assert_array_equal(full32[:9], full64[:9])
    # tail: float32 error model — each addend rounds to f32 (½ulp of its
    # own magnitude) plus the f32 add, so the bound is ABSOLUTE in the
    # input magnitudes, not relative to the (possibly cancelled) sum
    def tail(acc):
        return np.concatenate(
            [acc.g1, acc.rhs_leg, acc.rhs_mu_leg, np.asarray(acc.gram).ravel()]
        )

    bound = 5e-7 * (np.abs(tail(a)) + np.abs(tail(b))) + 1e-30
    assert np.all(np.abs(full32[9:] - full64[9:]) <= bound)
    assert m32 == m64


def test_wire32_solve_matches_float64_wire(spark, monkeypatch):
    """Force the float32 wire at tiny K (threshold → 0) and re-run the
    distributed bounded solve: mixed-precision refinement (f32 early,
    f64 endgame once the residual nears tolerance — see
    solvers/elastic.py set_wire_full) must converge within one
    iteration of the float64-wire solve with matching weights."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels import elastic_spark as es
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    opts = {
        "bounds": (0.5, 1.8),
        "force_distributed": True,
        "payload_wire32": True,  # the opt-in (default wire is pure f64)
    }

    res64 = entropy_balance(
        mean_population_moments=m,
        x_sample=build_problem_tables(df, spec),
        options=opts,
    )
    w64 = {r["row_id"]: r["new_weight"] for r in res64.new_weights.collect()}

    # force BOTH the f32 wire and the fused commit+stats pass — the
    # combination the 100M×100k grouped configuration actually runs
    monkeypatch.setattr(es, "_WIRE32_MIN_TAIL_BYTES", 0)
    monkeypatch.setattr(es, "_FUSED_MIN_ROWS", 0)
    res32 = entropy_balance(
        mean_population_moments=m,
        x_sample=build_problem_tables(df, spec),
        options=opts,
    )
    w32 = {r["row_id"]: r["new_weight"] for r in res32.new_weights.collect()}

    assert res32.converged and res64.converged
    # the f32 early trajectory may cost at most one extra iteration
    assert abs(res32.n_iterations - res64.n_iterations) <= 1
    a = np.array([w64[i] for i in sorted(w64)])
    b = np.array([w32[i] for i in sorted(w64)])
    np.testing.assert_allclose(b, a, rtol=5e-5)


def test_fused_gate_small_n_takes_plain_path_same_answer(spark, monkeypatch):
    """The r10 fused-pass N gate: below _FUSED_MIN_ROWS the commit
    flushes as a chained lazy swap and stats runs the plain pass
    (measured faster at sf0.1's 600k rows); forcing the fused path at
    the same tiny N must give the same converged weights and the same
    2-jobs-per-iteration reduce count — the gate is a physical-plan
    choice, never a semantics change."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels import elastic_spark as es
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    opts = {"bounds": (0.5, 1.8), "force_distributed": True}

    def solve():
        n_reduces = 0
        orig_reduce = es.ElasticSparkKernel._reduce

        def counting(self, fn, **kw):
            nonlocal n_reduces
            n_reduces += 1
            return orig_reduce(self, fn, **kw)

        es.ElasticSparkKernel._reduce = counting
        try:
            res = entropy_balance(
                mean_population_moments=m,
                x_sample=build_problem_tables(df, spec),
                options=opts,
            )
        finally:
            es.ElasticSparkKernel._reduce = orig_reduce
        assert res.converged
        assert n_reduces == 2 * res.n_iterations + 2, (
            n_reduces, res.n_iterations,
        )
        return {
            r["row_id"]: r["new_weight"] for r in res.new_weights.collect()
        }, res.n_iterations

    assert 250 < es._FUSED_MIN_ROWS  # default: plain path at this N
    w_plain, it_plain = solve()
    monkeypatch.setattr(es, "_FUSED_MIN_ROWS", 0)  # force the fused path
    w_fused, it_fused = solve()
    assert it_plain == it_fused
    assert set(w_plain) == set(w_fused)
    a = np.array([w_plain[i] for i in sorted(w_plain)])
    b = np.array([w_fused[i] for i in sorted(w_plain)])
    np.testing.assert_allclose(b, a, rtol=1e-12, atol=1e-15)


def test_gram_reuse_skips_gram_and_converges_to_same_solution(spark):
    """Lagged-Jacobian gram reuse (r11): with gram_reuse forced on, some
    stats scans skip the gram accumulate (history records gram_fresh=
    False), the 2-jobs-per-iteration pin still holds, the solve still
    converges under the UNCHANGED exact-residual test, and the weights
    agree with the fresh-gram-every-iteration solve (unique optimum of
    a strictly convex problem)."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))

    def solve(opts):
        n_reduces = 0
        orig_reduce = ElasticSparkKernel._reduce

        def counting(self, fn, **kw):
            nonlocal n_reduces
            n_reduces += 1
            return orig_reduce(self, fn, **kw)

        ElasticSparkKernel._reduce = counting
        try:
            res = entropy_balance(
                mean_population_moments=m,
                x_sample=build_problem_tables(df, spec),
                options={
                    "bounds": (0.5, 1.8),
                    "force_distributed": True,
                    **opts,
                },
            )
        finally:
            ElasticSparkKernel._reduce = orig_reduce
        assert res.converged
        assert n_reduces == 2 * res.n_iterations + 2
        w = {r["row_id"]: r["new_weight"] for r in res.new_weights.collect()}
        return res, w

    res_fresh, w_fresh = solve({"gram_reuse": False})
    res_reuse, w_reuse = solve({"gram_reuse": True, "gram_refresh_every": 3})

    hist = res_reuse.diagnostics["history"]
    frozen_iters = [h for h in hist if not h["gram_fresh"]]
    assert frozen_iters, "gram reuse never skipped a scan"
    assert hist[0]["gram_fresh"]  # first scan always fresh
    # lagged steps may cost a few extra iterations, never runaway
    assert res_reuse.n_iterations <= res_fresh.n_iterations + 3
    a = np.array([w_fresh[i] for i in sorted(w_fresh)])
    b = np.array([w_reuse[i] for i in sorted(w_fresh)])
    np.testing.assert_allclose(b, a, rtol=2e-3, atol=1e-8)
    # both land inside the same moment-match tolerance
    assert float(np.abs(res_reuse.constraint_violations).max()) < 1e-4


def test_gram_reuse_grouped_block_path(spark):
    """Gram reuse over the BLOCK-structured (grouped huge-K shape) path:
    frozen BlockGram steps still converge and the per-group moments
    match (the regime the r11 freeze actually targets, scaled down)."""
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
        targets_from_problem,
    )

    rng = np.random.default_rng(11)
    n = 600
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "g": rng.integers(0, 20, size=n),
            "x0": rng.uniform(size=n),
            "x1": rng.uniform(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(
        weight_col="w", numeric=("x0", "x1"), group=("g",), row_key=("rid",)
    )
    pt = build_problem_tables(df, spec)
    res = entropy_balance(
        mean_population_moments=targets_from_problem(pt, perturb=0.01),
        x_sample=pt,
        options={
            "bounds": (0.2, 5.0),
            "force_distributed": True,
            "gram_reuse": True,
            "gram_refresh_every": 3,
        },
    )
    assert res.converged
    hist = res.diagnostics["history"]
    assert any(not h["gram_fresh"] for h in hist)
    assert float(np.abs(res.constraint_violations).max()) < 1e-4


def test_gram_reuse_auto_off_at_small_k(spark):
    """The auto gate: at small K (every bench/oracle config) gram_reuse
    stays OFF — every scan is fresh, r10 behavior bit-for-bit."""
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=200, seed=5)
    pdf = pd.DataFrame(
        {"rid": np.arange(200), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=build_problem_tables(df, spec),
        options={"bounds": (0.5, 1.8), "force_distributed": True},
    )
    assert res.converged
    assert all(h["gram_fresh"] for h in res.diagnostics["history"])
