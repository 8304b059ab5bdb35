"""Public solver API — mirrors the reference's surface (ref:
ebw_routines.py:18-24, ebw_penalty.py:17-23) for both local numpy inputs and
distributed DataFrame inputs.

Input forms accepted for ``x_sample``:

- ``numpy.ndarray`` (N×K dense) — local kernel, exact reference-shaped path.
- scipy-like CSR/CSC sparse matrix (duck-typed on ``data/indices/indptr/
  shape`` — real ``scipy.sparse`` works when scipy is present, but scipy is
  never imported): densified to the local kernel below ``local_threshold``
  nnz, converted to a long-COO :class:`plans.ProblemTables` for the
  distributed kernels above it.
- :class:`plans.ProblemTables` — canonical long encoding; runs distributed,
  or collects to the local kernel below ``local_threshold`` nnz (SURVEY §7.2
  'local fast path'), unless ``options['force_distributed']``.

``mean_population_moments`` is a K-vector (id-ordered) or, with
ProblemTables input, a targets DataFrame ``(moment_name|moment_id, target)``.
``weights0`` is an N-vector (local) or implied by ``ProblemTables.w0``.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from entropy_balance_weighting_spark.plans.moment_spec import ProblemTables
from entropy_balance_weighting_spark.results import EntropyBalanceResults

_KNOWN_OPTIONS = {
    "max_steps",
    "bounds",
    "initial_ratio_guess",
    "optimality_violation",
    "step_tol",
    "save_problem_data",
    "save_failure_data",
    "eta",
    "force_distributed",
    "local_threshold",
    "validate",
    # opt-in mixed-precision payload wire for the large-K elastic path
    # (f32 while far from tolerance, f64 endgame — solvers/elastic.py)
    "payload_wire32",
    # lagged-Jacobian gram reuse across IP iterations (auto-on for
    # block-structured huge-K problems — solvers/elastic.py)
    "gram_reuse",
    "gram_refresh_every",
    "gram_stall_ratio",
    "gram_endgame_factor",
    # accepted for drop-in compatibility with reference scripts (the
    # reference reads options via .get and silently ignores these; its own
    # examples pass them — ref: examples/simple_examples.py:24,30).  They
    # select kernel internals that have no analogue here and are no-ops.
    "dual_only",
    "force_dense",
}


_LOCAL_RELATION_CONF = "spark.sql.execution.arrow.localRelationThreshold"


def _executor_side_frame(spark, pdf):
    """``spark.createDataFrame(pdf)`` as an executor-side (RDD-backed)
    relation.

    Below ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) PySpark turns the Arrow payload into a driver-side
    ``LocalRelation``, and every action on it re-converts the whole
    payload on the driver: on 4 cores a 600k-row weights frame took
    ~2 s to create and render that way, against ~0.3 s as an RDD the
    executors convert in parallel.  The threshold is overridden for this one call only; the
    caller's value (or the default) is restored afterwards."""
    conf = spark.conf
    prev = conf.get(_LOCAL_RELATION_CONF, None)  # None: never set
    conf.set(_LOCAL_RELATION_CONF, "0")
    try:
        return spark.createDataFrame(pdf)
    finally:
        if prev is None:
            conf.unset(_LOCAL_RELATION_CONF)
        else:
            conf.set(_LOCAL_RELATION_CONF, prev)


def _validate_options(options: dict | None) -> dict:
    """Unlike the reference (which silently ignores unknown keys), reject
    typos loudly — but accept the reference's documented/vestigial names."""
    opts = dict(options or {})
    unknown = set(opts) - _KNOWN_OPTIONS
    if unknown:
        raise ValueError(f"Unknown options: {sorted(unknown)}")
    return opts


def _validate_local_inputs(x: np.ndarray, w0: np.ndarray, m: np.ndarray) -> None:
    """V1 guard — same predicate set as the reference (ref: shared.py:105-133)."""
    bad = (
        np.any(~np.isfinite(x))
        or np.any(~np.isfinite(w0))
        or np.any(~np.isfinite(m))
        or np.any(w0 <= 0)
    )
    if bad:
        raise ValueError(
            "Inputs include invalid values (NaNs, Infs, or non-positive weights)"
        )


def _moments_vector(pt: ProblemTables, m: Any) -> np.ndarray:
    """Targets as an id-ordered K-vector; accepts ndarray or DataFrame."""
    if isinstance(m, np.ndarray):
        if len(m) != pt.k:
            raise ValueError(f"moments length {len(m)} != K {pt.k}")
        return np.asarray(m, dtype=np.float64)
    cols = set(m.columns)
    if "moment_id" not in cols:
        # K-bounded by contract: collect the targets and key them against
        # the driver-held dictionary instead of a broadcast join — the
        # join materialized TWO parallelized relations (2 jobs × default-
        # parallelism empty slices) to pair K rows with K names (r13
        # optimization, guide §5.1).  Unknown names are dropped either
        # way (the join was inner), and missing ids raise below as before.
        name_to_id = {nm: i for i, nm in enumerate(pt.moment_names)}
        rows = [
            {"moment_id": name_to_id[r["moment_name"]], "target": r["target"]}
            for r in m.select("moment_name", "target").collect()
            if r["moment_name"] in name_to_id
        ]
    else:
        rows = m.select("moment_id", "target").collect()
    out = np.full(pt.k, np.nan)
    for r in rows:
        out[r["moment_id"]] = float(r["target"])
    if np.any(np.isnan(out)):
        missing = [pt.moment_names[i] for i in np.where(np.isnan(out))[0][:5]]
        raise ValueError(f"targets missing for moments: {missing}")
    return out


def entropy_balance(
    *,
    mean_population_moments: Any,
    x_sample: Any,
    weights0: Any = None,
    options: dict | None = None,
) -> EntropyBalanceResults:
    """Primary entry point: entropy-balance reweighting (unbounded or bounded).

    With ``options['bounds']`` set, dispatches to the elastic interior-point
    solver (ref: ebw_routines.py:166-172 dispatch semantics).
    """
    opts = _validate_options(options)

    if opts.get("bounds") is not None:
        from entropy_balance_weighting_spark.solvers.elastic import (
            entropy_balance_elastic,
        )

        return entropy_balance_elastic(
            mean_population_moments=mean_population_moments,
            x_sample=x_sample,
            weights0=weights0,
            options=opts,
        )

    kernel, m, original = _build_kernel(
        x_sample, weights0, mean_population_moments, opts
    )
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    res = solve_unbounded(kernel, m, opts, original_weights=original)
    _maybe_dump(opts, x_sample, weights0, m, res)
    return res


def entropy_balance_penalty(
    mean_population_moments: Any,
    x_sample: Any,
    weights0: Any = None,
    penalty_parameter: Any = 1.0,
    options: dict | None = None,
) -> EntropyBalanceResults:
    """Quadratic-penalty variant (ref: ebw_penalty.py:17-23); dispatches to
    the bounded variant when ``options['bounds']`` is set (ref:
    ebw_penalty.py:155-162)."""
    from entropy_balance_weighting_spark.solvers.penalty import (
        solve_penalty,
        solve_penalty_bounded,
    )

    opts = _validate_options(options)
    bounds = opts.get("bounds")
    kernel, m, original = _build_penalty_kernel(
        x_sample, weights0, mean_population_moments, opts, bounds
    )
    solve = solve_penalty_bounded if bounds else solve_penalty
    res = solve(kernel, m, penalty_parameter, opts, original_weights=original)
    _maybe_dump(opts, x_sample, weights0, m, res)
    return res


def _sparse_like(x):
    """Duck-typed ``scipy.sparse`` CSR/CSC detection — NO scipy import
    (the reference accepts scipy sparse for ``x_sample``, ref:
    ebw_routines.py:18-24, typing.py:12-14; scipy is absent from this
    environment, so the contract is matched structurally: anything
    carrying ``data/indices/indptr/shape`` in compressed-sparse layout is
    accepted, which includes real scipy matrices when present).  Returns
    ``(data, indices, indptr, (n, k), fmt)`` or None."""
    if not all(hasattr(x, a) for a in ("data", "indices", "indptr", "shape")):
        return None
    fmt = getattr(x, "format", "csr")
    if fmt not in ("csr", "csc"):
        if hasattr(x, "tocsr"):
            x = x.tocsr()
            fmt = "csr"
        else:
            return None
    return (
        np.asarray(x.data, dtype=np.float64),
        np.asarray(x.indices, dtype=np.int64),
        np.asarray(x.indptr, dtype=np.int64),
        (int(x.shape[0]), int(x.shape[1])),
        fmt,
    )


def _csx_coo(data, indices, indptr, shape, fmt):
    """(row, col, value) COO arrays from compressed-sparse storage."""
    n, k = shape
    if fmt == "csr":
        rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
        cols = indices
    else:
        cols = np.repeat(np.arange(k, dtype=np.int64), np.diff(indptr))
        rows = indices
    return rows, cols, data


def _sparse_to_problem_tables(sp, weights0):
    """Long-COO ProblemTables from a driver-resident sparse matrix — the
    handoff from 'fits on the driver as index arrays' to the distributed
    kernels (Arrow-batched createDataFrame, one partition per ~1M nnz)."""
    from pyspark.sql import SparkSession

    data, indices, indptr, shape, fmt = sp
    n, k = shape
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "sparse x_sample above local_threshold needs an active SparkSession"
        )
    rows, cols, vals = _csx_coo(data, indices, indptr, shape, fmt)
    import pandas as pd

    x_long = _executor_side_frame(
        spark,
        pd.DataFrame(
            {"row_id": rows, "moment_id": cols.astype(np.int32), "value": vals}
        ),
    )
    w0 = np.asarray(weights0, dtype=np.float64)
    w0_df = _executor_side_frame(
        spark, pd.DataFrame({"row_id": np.arange(n, dtype=np.int64), "w0": w0})
    )
    names = [f"m{j}" for j in range(k)]
    moments = spark.createDataFrame(
        pd.DataFrame({"moment_id": np.arange(k, dtype=np.int32), "moment_name": names})
    )
    return ProblemTables(
        x_long=x_long,
        w0=w0_df,
        moments=moments,
        moment_names=names,
        n=n,
        sum_w0=float(w0.sum()),
    )


def _resolve_problem(x_sample, weights0, mean_population_moments, opts):
    """Dispatch on input form → ('local'|'spark', payload).

    'local' payload: (x, w0, m, original, wrap) where ``wrap`` re-exposes an
    ndarray-weights kernel as a DataFrame-weights kernel when the input came
    from ProblemTables (API symmetry), else identity.
    'spark' payload: (pt, m, original).
    """
    validate = opts.get("validate", True)

    if isinstance(x_sample, np.ndarray):
        x = np.asarray(x_sample, dtype=np.float64)
        w0 = np.asarray(weights0, dtype=np.float64)
        m = np.asarray(mean_population_moments, dtype=np.float64)
        if validate:
            _validate_local_inputs(x, w0, m)
        return "local", (x, w0, m, w0.copy(), lambda kernel: kernel)

    sp = _sparse_like(x_sample)
    if sp is not None:
        data, indices, indptr, shape, fmt = sp
        n, k = shape
        nnz = len(data)
        threshold = int(opts.get("local_threshold", 2_000_000))
        if (
            not opts.get("force_distributed")
            and nnz <= threshold
            and n * k <= 8 * threshold
        ):
            # small sparse: densify on the driver, exact reference-shaped path
            rows, cols, vals = _csx_coo(data, indices, indptr, shape, fmt)
            x = np.zeros((n, k))
            # Sum duplicate (row, col) entries — scipy semantics for
            # non-canonical CSR/CSC, and what the long-COO distributed
            # path's groupBy-sum does.  Plain fancy-index assignment is
            # last-write-wins, so the two paths would disagree.
            np.add.at(x, (rows, cols), vals)
            w0 = np.asarray(weights0, dtype=np.float64)
            m = np.asarray(mean_population_moments, dtype=np.float64)
            if validate:
                _validate_local_inputs(x, w0, m)
            return "local", (x, w0, m, w0.copy(), lambda kernel: kernel)
        # large sparse: long-COO ProblemTables, distributed kernels
        pt = _sparse_to_problem_tables(sp, weights0)
        return _resolve_problem(pt, None, mean_population_moments, opts)

    if isinstance(x_sample, ProblemTables):
        pt = x_sample
        if pt.k == 0:
            raise ValueError("Problem has no moments (K=0)")
        m = _moments_vector(pt, mean_population_moments)

        n = pt.n if pt.n is not None else pt.w0.count()
        # nnz is known exactly when the data layer built the tables (fixed
        # entries per row) — no extra counting pass (VERDICT r1 perf note).
        nnz = n * pt.nnz_per_row if pt.nnz_per_row else pt.x_long.count()
        threshold = int(opts.get("local_threshold", 2_000_000))
        # Gate on the DENSE footprint too: _collect_local densifies to n×k,
        # so a sparse problem under the nnz threshold with huge n·k must
        # still run distributed (8·n·k bytes ≲ 8× the nnz budget).
        dense_cells = n * pt.k
        original = pt.w0.select("row_id", pt.w0["w0"].alias("new_weight"))
        if (
            not opts.get("force_distributed")
            and nnz <= threshold
            and dense_cells <= 8 * threshold
        ):
            x, w0, row_ids, spark = _collect_dense(pt)
            if validate:
                # the problem is on the driver anyway — validate the
                # collected arrays (free numpy) instead of running a
                # separate full Spark scan (r13 optimization; NaN/Inf
                # long values land in the dense cells, so the predicate
                # set is unchanged)
                _validate_local_inputs(x, w0, m)
            wrap = lambda kernel: _LocalKernelAsDataFrame(kernel, row_ids, spark)  # noqa: E731
            return "local", (x, w0, m, original, wrap)
        # V1 validation for the distributed kernels is DEFERRED into the
        # kernel's first pass (r13 optimization, guide §1.2): the pass that
        # materializes the blob cache counts bad X rows / bad weights in
        # its payload and raises the same ValueError — one fewer full scan
        # per solve than a separate validation aggregate.
        return "spark", (pt, m, original, validate)

    raise TypeError(
        "x_sample must be numpy.ndarray, a scipy-like CSR/CSC sparse matrix, "
        f"or ProblemTables, got {type(x_sample)}"
    )


def _build_kernel(x_sample, weights0, mean_population_moments, opts):
    """Unbounded-Newton kernel factory → (kernel, m-vector, original)."""
    mode, payload = _resolve_problem(
        x_sample, weights0, mean_population_moments, opts
    )
    guess = opts.get("initial_ratio_guess")
    if mode == "local":
        x, w0, m, original, wrap = payload
        from entropy_balance_weighting_spark.kernels.local import LocalKernel

        kernel = LocalKernel(x, w0)
        kernel.init_state(None if guess is None else np.asarray(guess, float))
        return wrap(kernel), m, original

    pt, m, original, validate = payload
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    kernel = SparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        ratio_guess=guess,
        moment_groups=pt.moment_groups,
        known_sums=(
            (pt.sum_w0, pt.n) if pt.sum_w0 is not None and pt.n is not None else None
        ),
        prepacked=pt.packed_arrays,
    )
    if validate:
        kernel.defer_validation()
    return kernel, m, original


def _build_penalty_kernel(x_sample, weights0, mean_population_moments, opts, bounds):
    """Penalty kernel factory → (kernel, m-vector, original)."""
    mode, payload = _resolve_problem(
        x_sample, weights0, mean_population_moments, opts
    )
    guess = opts.get("initial_ratio_guess")
    if mode == "local":
        x, w0, m, original, wrap = payload
        from entropy_balance_weighting_spark.kernels.penalty_local import (
            PenaltyLocalKernel,
        )

        kernel = PenaltyLocalKernel(
            x,
            w0,
            bounds=bounds,
            ratio_guess=None if guess is None else np.asarray(guess, float),
        )
        return wrap(kernel), m, original

    pt, m, original, validate = payload
    from entropy_balance_weighting_spark.kernels.penalty_spark import (
        PenaltySparkKernel,
    )

    kernel = PenaltySparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        bounds=bounds,
        ratio_guess=guess,
        moment_groups=pt.moment_groups,
        known_sums=(
            (pt.sum_w0, pt.n) if pt.sum_w0 is not None and pt.n is not None else None
        ),
        prepacked=pt.packed_arrays,
    )
    if validate:
        kernel.defer_validation()
    return kernel, m, original


def _build_elastic_kernel(x_sample, weights0, mean_population_moments, opts, bounds):
    """Elastic kernel factory → (kernel, m-vector, original)."""
    mode, payload = _resolve_problem(
        x_sample, weights0, mean_population_moments, opts
    )
    guess = opts.get("initial_ratio_guess")
    if mode == "local":
        x, w0, m, original, wrap = payload
        from entropy_balance_weighting_spark.kernels.elastic_local import (
            ElasticLocalKernel,
        )

        kernel = ElasticLocalKernel(
            x,
            w0,
            bounds=bounds,
            ratio_guess=None if guess is None else np.asarray(guess, float),
        )
        return wrap(kernel), m, original

    pt, m, original, validate = payload
    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )

    kernel = ElasticSparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        bounds=bounds,
        ratio_guess=guess,
        moment_groups=pt.moment_groups,
        known_sums=(
            (pt.sum_w0, pt.n) if pt.sum_w0 is not None and pt.n is not None else None
        ),
        prepacked=pt.packed_arrays,
    )
    if validate:
        kernel.defer_validation()
    return kernel, m, original


class _LocalKernelAsDataFrame:
    """LocalKernel wrapper that reports weights as a (row_id, new_weight)
    DataFrame, so ProblemTables input yields a DataFrame result regardless of
    which kernel ran (API symmetry with SparkKernel)."""

    def __init__(self, inner, row_ids, spark):
        self._inner = inner
        self._row_ids = row_ids
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def new_weights(self):
        import pandas as pd

        w = self._inner.new_weights()
        pdf = pd.DataFrame(
            {"row_id": np.asarray(self._row_ids, dtype=np.int64), "new_weight": w}
        )
        return _executor_side_frame(self._spark, pdf)


def _collect_dense(pt: ProblemTables):
    """Local fast path: collect the problem into a dense numpy problem
    (SURVEY §7.2 — exactness for small fixtures, no per-iteration jobs).

    With builder-packed arrays this is ONE ``toArrow()`` of the per-row CSR
    columns ``(row_id, w0, idx, val)``: the row lengths come from the list
    offsets and the flattened ``idx``/``val`` buffers scatter straight into
    the dense matrix — no long table, no row_id lookup.  Tables without
    packed arrays (sparse-derived, bundle-loaded, null-category and
    huge-combo specs) collect the long tables instead."""
    if pt.packed_arrays is None:
        return _collect_dense_long(pt)
    import pyarrow.compute as pc

    tbl = pt.packed_arrays.select("row_id", "w0", "idx", "val").toArrow()
    row_ids = tbl.column("row_id").to_numpy()
    w0 = tbl.column("w0").to_numpy()
    n = len(row_ids)
    lengths = pc.fill_null(pc.list_value_length(tbl.column("idx")), 0)
    rows = np.repeat(np.arange(n), lengths.to_numpy())
    x = np.zeros((n, pt.k))
    # null list entries (dropna=False numerics) arrive as NaN, as they do
    # through the long collect, so validation sees the same cells
    x[rows, pc.list_flatten(tbl.column("idx")).to_numpy()] = pc.list_flatten(
        tbl.column("val")
    ).to_numpy()
    return x, w0, row_ids, pt.w0.sparkSession


def _collect_dense_long(pt: ProblemTables):
    """Long-table fallback of :func:`_collect_dense`: Arrow-batched
    ``toPandas`` + vectorized scatter — no per-row Python.  The two
    collects run as concurrent jobs (guide §2.6): they share the
    materialized prep rows, so overlapping them makes the wall the max of
    the two instead of the sum."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_w = pool.submit(pt.w0.toPandas)
        fut_x = pool.submit(pt.x_long.toPandas)
        wpd = fut_w.result()
        xpd = fut_x.result()
    row_ids = wpd["row_id"].to_numpy(np.int64)
    w0 = wpd["w0"].to_numpy(np.float64)
    n = len(row_ids)
    # row_id -> dense position, fully vectorized (a Python dict + .map is
    # a per-long-row interpreter loop — N·nnz lookups)
    order = np.argsort(row_ids, kind="stable")
    ridx = order[
        np.searchsorted(row_ids[order], xpd["row_id"].to_numpy(np.int64))
    ]
    x = np.zeros((n, pt.k))
    x[ridx, xpd["moment_id"].to_numpy(np.int64)] = xpd["value"].to_numpy(np.float64)
    return x, w0, row_ids, pt.w0.sparkSession


def _maybe_dump(opts, x_sample, weights0, m, res) -> None:
    """S2 problem-bundle sinks: ``save_problem_data`` always writes,
    ``save_failure_data`` writes only on failure (ref: ebw_routines.py:312-319).
    ``m`` is the resolved id-ordered target vector."""
    from entropy_balance_weighting_spark.sources import bundle

    names = (
        x_sample.moment_names
        if isinstance(x_sample, ProblemTables)
        else None
    )
    if path := opts.get("save_problem_data"):
        bundle.dump_problem(path, x_sample, weights0, m, moment_names=names)
    if (path := opts.get("save_failure_data")) and not res.converged:
        bundle.dump_problem(path, x_sample, weights0, m, moment_names=names)
