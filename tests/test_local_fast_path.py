"""Local fast path (SURVEY §7.2): ProblemTables under ``local_threshold``
cross the Spark boundary once in each direction.

In: ``_collect_dense`` reads the builder's packed CSR arrays with one
``toArrow()``; tables without packed arrays collect the long tables.  Both
collects must give the same ``row_id -> (x row, w0)``.

Out: the weights frame (and the sparse-input frames) are created as
executor-side relations, never a driver-side ``LocalRelation``, and the
``localRelationThreshold`` override does not leak into the session.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from entropy_balance_weighting_spark import entropy_balance
from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables
from entropy_balance_weighting_spark.plans.moment_spec import targets_from_problem
from entropy_balance_weighting_spark.solvers import api
from tests.conftest import SF_SMOKE
from tests.test_sparse_input import FakeCSR

_THRESHOLD = api._LOCAL_RELATION_CONF

SPECS = {
    "numeric": MomentSpec(weight_col="l_quantity", numeric=("l_discount", "l_tax")),
    "onehot": MomentSpec(
        weight_col="l_quantity", numeric=("l_discount",), onehot=("l_returnflag",)
    ),
    "grouped": MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        group=("l_linestatus",),
    ),
    "intercept": MomentSpec(
        weight_col="l_quantity", numeric=("l_tax",), intercept=True
    ),
    "interactions": MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount",),
        onehot=("l_returnflag",),
        interactions=(("l_tax", "l_returnflag"),),
    ),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _by_row_id(x, w0, row_ids):
    order = np.argsort(row_ids)
    return row_ids[order], x[order], w0[order]


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")


@pytest.mark.parametrize("shape", sorted(SPECS))
def test_packed_and_long_collects_agree(lineitem, shape):
    pt = build_problem_tables(lineitem, SPECS[shape])
    assert pt.packed_arrays is not None
    x_p, w_p, ids_p, _ = api._collect_dense(pt)
    x_l, w_l, ids_l, _ = api._collect_dense_long(pt)
    assert x_p.shape == x_l.shape == (pt.n, pt.k)
    ids_p, x_p, w_p = _by_row_id(x_p, w_p, ids_p)
    ids_l, x_l, w_l = _by_row_id(x_l, w_l, ids_l)
    np.testing.assert_array_equal(ids_p, ids_l)
    np.testing.assert_array_equal(x_p, x_l)
    np.testing.assert_array_equal(w_p, w_l)


def test_null_numeric_raises_the_same_error_on_both_collects(spark):
    schema = T.StructType(
        [
            T.StructField("rid", T.LongType()),
            T.StructField("w", T.DoubleType()),
            T.StructField("x0", T.DoubleType()),
        ]
    )
    data = [(i, 1.0, i / 10.0) for i in range(9)] + [(9, 1.0, None)]
    spec = MomentSpec(
        weight_col="w", numeric=("x0",), row_key=("rid",), dropna=False
    )
    pt = build_problem_tables(spark.createDataFrame(data, schema), spec)
    assert pt.packed_arrays is not None
    messages = []
    for tables in (pt, dataclasses.replace(pt, packed_arrays=None)):
        with pytest.raises(ValueError, match="invalid values") as err:
            entropy_balance(mean_population_moments=np.array([0.5]), x_sample=tables)
        messages.append(str(err.value))
    assert messages[0] == messages[1]


def test_table_without_packed_arrays_solves_through_fallback(lineitem):
    pt = build_problem_tables(lineitem, SPECS["onehot"])
    targets = targets_from_problem(pt, perturb=0.01)
    packed = entropy_balance(mean_population_moments=targets, x_sample=pt)
    long = entropy_balance(
        mean_population_moments=targets,
        x_sample=dataclasses.replace(pt, packed_arrays=None),
    )
    assert packed.converged and long.converged
    assert packed.n_iterations == long.n_iterations
    got = dict(long.new_weights.toPandas().to_numpy())
    want = dict(packed.new_weights.toPandas().to_numpy())
    assert got.keys() == want.keys()
    ids = sorted(want)
    np.testing.assert_allclose(
        [got[i] for i in ids], [want[i] for i in ids], rtol=1e-12
    )


def test_local_new_weights_is_executor_side_and_matches_local_kernel(
    spark, lineitem
):
    pt = build_problem_tables(lineitem, SPECS["onehot"])
    targets = targets_from_problem(pt, perturb=0.01)
    res = entropy_balance(mean_population_moments=targets, x_sample=pt)
    assert res.converged
    assert "LocalRelation" not in _plan(res.new_weights)

    x, w0, row_ids, _ = api._collect_dense(pt)
    ref = entropy_balance(
        mean_population_moments=api._moments_vector(pt, targets),
        x_sample=x,
        weights0=w0,
    )
    got = res.new_weights.toPandas().set_index("row_id")["new_weight"]
    np.testing.assert_allclose(got.loc[row_ids].to_numpy(), ref.new_weights, rtol=1e-12)
    assert spark.conf.get(_THRESHOLD, None) is None


@pytest.mark.parametrize("user_value", [None, "1048576"])
def test_threshold_override_restores_the_callers_value(spark, monkeypatch, user_value):
    if user_value is not None:
        spark.conf.set(_THRESHOLD, user_value)
    try:
        before = spark.conf.get(_THRESHOLD)
        pdf = pd.DataFrame({"row_id": np.arange(10), "new_weight": np.ones(10)})
        df = api._executor_side_frame(spark, pdf)
        assert "LocalRelation" not in _plan(df)
        assert spark.conf.get(_THRESHOLD) == before

        def fail(*args, **kwargs):
            raise RuntimeError("createDataFrame failed")

        monkeypatch.setattr(spark, "createDataFrame", fail)
        with pytest.raises(RuntimeError, match="createDataFrame failed"):
            api._executor_side_frame(spark, pdf)
        assert spark.conf.get(_THRESHOLD) == before
        assert spark.conf.get(_THRESHOLD, None) == user_value
    finally:
        spark.conf.unset(_THRESHOLD)


def test_sparse_input_frames_are_executor_side(spark):
    rng = np.random.default_rng(3)
    x = rng.uniform(size=(50, 3))
    x[x < 0.4] = 0.0
    sp = api._sparse_like(FakeCSR(x))
    pt = api._sparse_to_problem_tables(sp, np.ones(50))
    for df in (pt.x_long, pt.w0):
        assert "LocalRelation" not in _plan(df)
    assert pt.x_long.count() == np.count_nonzero(x)
    assert spark.conf.get(_THRESHOLD, None) is None

