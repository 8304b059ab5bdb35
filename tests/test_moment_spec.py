"""Exact-value unit tests for the MomentSpec data layer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (1, "CA", "a", 2.0, 10.0),
        (2, "CA", "b", 3.0, 20.0),
        (3, "NY", "a", 5.0, 30.0),
        (4, "NY", "a", -1.0, 40.0),  # dropped by the w>0 filter (V2)
        (5, None, "b", 1.0, 50.0),  # dropped by dropna (V3)
    ]
    return spark.createDataFrame(rows, ["id", "state", "cat", "w", "x"])


def test_builder_long_encoding_exact(tiny):
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        onehot=("cat",),
        intercept=True,
        row_key=("id",),
    )
    pt = build_problem_tables(tiny, spec)
    # moments: sorted names, dense int ids
    assert pt.moment_names == ["_count", "cat=a", "cat=b", "x"]
    assert pt.k == 4

    # row 4 dropped by w>0; row 5 kept (its null is in 'state', unused here —
    # dropna only considers columns the spec references)
    w0 = {r["row_id"]: r["w0"] for r in pt.w0.collect()}
    assert len(w0) == 4
    assert sorted(w0.values()) == [1.0, 2.0, 3.0, 5.0]

    # X^T w0 per moment, exact
    totals = {
        r["moment_id"]: r["total"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .groupBy("moment_id")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("total"))
        .collect()
    }
    # _count: 2+3+5+1; cat=a: 2+5; cat=b: 3+1; x: 2*10+3*20+5*30+1*50
    assert totals == {0: 11.0, 1: 7.0, 2: 4.0, 3: 280.0}


def test_group_normalized_weights_sum_to_one(tiny):
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        group=("state",),
        normalize_weights_within_group=True,
        row_key=("id",),
    )
    pt = build_problem_tables(tiny, spec)
    assert pt.moment_names == ["grp=CA|x", "grp=NY|x"]
    sums = {
        r["moment_id"]: r["s"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .groupBy("moment_id")
        .agg(F.sum("w0").alias("s"))
        .collect()
    }
    # after V2/V3 filters NY has a single row with weight 5 → normalized 1.0
    assert sums[0] == pytest.approx(1.0)
    assert sums[1] == pytest.approx(1.0)


def test_no_moments_raises(tiny):
    with pytest.raises(ValueError):
        build_problem_tables(tiny, MomentSpec(weight_col="w", row_key=("id",)))


def test_interaction_moments_exact(tiny):
    """R-formula ``a:b`` cross terms (ref: test_colinear.py:66-78 builds
    these via formulaic): numeric×numeric is a product moment,
    numeric×categorical is a per-category copy of the numeric value,
    categorical×categorical is a joint indicator."""
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        onehot=("cat",),
        interactions=(("x", "cat"), ("x", "x")),
        row_key=("id",),
    )
    pt = build_problem_tables(tiny, spec)
    assert pt.moment_names == ["cat=a", "cat=b", "x", "x:cat=a", "x:cat=b", "x:x"]
    totals = {
        r["moment_name"]: r["total"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .join(F.broadcast(pt.moments), "moment_id")
        .groupBy("moment_name")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("total"))
        .collect()
    }
    # rows kept: (w=2,x=10,a) (w=3,x=20,b) (w=5,x=30,a) (w=1,x=50,b)
    assert totals["x:cat=a"] == pytest.approx(2 * 10 + 5 * 30)
    assert totals["x:cat=b"] == pytest.approx(3 * 20 + 1 * 50)
    assert totals["x:x"] == pytest.approx(2 * 100 + 3 * 400 + 5 * 900 + 1 * 2500)

    # packed arrays agree with the long encoding per row
    packed = {
        r["row_id"]: dict(zip(r["idx"], r["val"]))
        for r in pt.packed_arrays.collect()
    }
    long_rows = {}
    for r in pt.x_long.collect():
        long_rows.setdefault(r["row_id"], {})[r["moment_id"]] = r["value"]
    assert packed == long_rows


def test_interaction_cat_cat_and_grouped(spark):
    rows = [(1, "CA", "a", "hi", 2.0), (2, "CA", "b", "lo", 3.0),
            (3, "NY", "a", "lo", 5.0)]
    df = spark.createDataFrame(rows, ["id", "state", "cat", "lvl", "w"])
    spec = MomentSpec(
        weight_col="w",
        onehot=("cat", "lvl"),
        interactions=(("cat", "lvl"),),
        group=("state",),
        row_key=("id",),
    )
    pt = build_problem_tables(df, spec)
    assert "grp=CA|cat=a:lvl=hi" in pt.moment_names
    assert "grp=NY|cat=a:lvl=lo" in pt.moment_names
    # joint indicator only for observed combos within each group
    assert "grp=CA|cat=a:lvl=lo" not in pt.moment_names
    totals = {
        r["moment_name"]: r["t"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .join(F.broadcast(pt.moments), "moment_id")
        .groupBy("moment_name")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("t"))
        .collect()
    }
    assert totals["grp=CA|cat=a:lvl=hi"] == pytest.approx(2.0)
    assert totals["grp=CA|cat=b:lvl=lo"] == pytest.approx(3.0)


def test_interaction_collinear_problem_solves(spark):
    """A deliberately collinear interaction design (x:cat duplicates x when
    cat has one level... built with redundant cross terms) still converges —
    the Tikhonov defense covers interaction-induced rank deficiency
    (ref: test_colinear.py semantics)."""
    import numpy as np
    import pandas as pd

    from entropy_balance_weighting_spark import entropy_balance
    from entropy_balance_weighting_spark.plans.moment_spec import (
        targets_from_problem,
    )

    rng = np.random.default_rng(53)
    n = 300
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "cat": rng.choice(["a", "b"], size=n),
        }
    )
    spec = MomentSpec(
        weight_col="w",
        numeric=("x0",),
        onehot=("cat",),
        # x0:cat spans x0 exactly (x0 = x0:cat=a + x0:cat=b) → collinear
        interactions=(("x0", "cat"),),
        row_key=("rid",),
    )
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    targets = targets_from_problem(pt, perturb=0.01)
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"force_distributed": True},
    )
    assert res.converged, res.error_message
    ach = {
        r["moment_id"]: r["a"]
        for r in pt.x_long.join(res.new_weights, "row_id")
        .groupBy("moment_id")
        .agg((F.sum(F.col("value") * F.col("new_weight")) / pt.sum_w0).alias("a"))
        .collect()
    }
    tgt = {
        r["moment_id"]: r["target"]
        for r in targets.join(pt.moments, "moment_name").collect()
    }
    for mid, t in tgt.items():
        assert ach[mid] == pytest.approx(t, rel=1e-5)


def test_spread_width_is_size_derived_and_self_disabling(spark):
    """r14: the small-input spread derives its width from the optimizer's
    size estimate (clamped to [2, defaultParallelism]) instead of a
    full-width defaultParallelism wave; wide inputs skip the spread; a
    non-positive conf restores the full-width behavior."""
    from entropy_balance_weighting_spark.plans.moment_spec import (
        _SPREAD_BYTES_CONF,
        _spread_width,
    )

    cores = spark.sparkContext.defaultParallelism
    small = spark.range(0, 10, 1, 1).selectExpr(
        "id", "cast(id as double) w0"
    )
    # tiny estimate -> the floor of 2 (never a full-width wave)
    w = _spread_width(small)
    assert w == 2, w
    # self-disabling: input already at >= half the cores
    wide = small.repartition(max(2, cores))
    assert _spread_width(wide) is None
    # conf <= 0 -> legacy full-width spread
    spark.conf.set(_SPREAD_BYTES_CONF, "0")
    try:
        assert _spread_width(small) == cores
    finally:
        spark.conf.unset(_SPREAD_BYTES_CONF)
    # a 1-byte target maxes out at the core count, never beyond
    spark.conf.set(_SPREAD_BYTES_CONF, "1")
    try:
        assert _spread_width(small) == cores
    finally:
        spark.conf.unset(_SPREAD_BYTES_CONF)


def test_spread_width_fallbacks_warn(spark):
    """Both fallbacks of _spread_width name the plan they switch to: an
    unreadable conf spreads at the default bytes per partition, and a
    missing optimizer estimate spreads full-width."""
    from entropy_balance_weighting_spark.plans.moment_spec import (
        _SPREAD_BYTES_CONF,
        _spread_width,
    )

    cores = spark.sparkContext.defaultParallelism
    small = spark.range(0, 10, 1, 1).selectExpr("id", "cast(id as double) w0")
    spark.conf.set(_SPREAD_BYTES_CONF, "not-a-number")
    try:
        with pytest.warns(RuntimeWarning, match="default 2097152 bytes"):
            assert _spread_width(small) == 2
    finally:
        spark.conf.unset(_SPREAD_BYTES_CONF)

    class NoEstimate:
        sparkSession = small.sparkSession
        rdd = small.rdd

        @property
        def _jdf(self):
            raise RuntimeError("no estimate")

    with pytest.warns(RuntimeWarning, match=f"full-width to {cores} partitions"):
        assert _spread_width(NoEstimate()) == cores
