"""Seeded inputs, the three workloads, the op loop and the output checks.

A workload is a cycle of solver kinds run as a closed loop by one client:
each op starts after the previous op and its check have finished.

- ``prep_local``: each op scans a lineitem-shaped parquet file, builds the
  problem tables (K=5, 3 nnz per row, just under the 2M-nnz local gate),
  solves unbounded with default dispatch (the local kernel) and
  materializes the weights.  The data layer and the local-path collect
  carry the op; the distributed kernels do no work.
- ``solve_mix_small``: the K=5 tables are built once in setup; each op is
  one ``force_distributed`` solve, cycling unbounded Newton, bounded
  elastic and penalty.  Few blob partitions, so wall time follows the Spark
  job count (the per-job dispatch floor), and persisted caches accumulate
  across solves.
- ``grouped_large``: a synthetic survey with 500 groups and 4 numeric
  moments per group (K=2000, block-diagonal Gram); each op builds the
  tables and solves with default dispatch (distributed), alternating
  bounded elastic and unbounded Newton.  Scan-bound: per-row kernel math
  and block-Gram payloads carry the op.

The seed drives the synthetic data and a per-moment target perturbation of
1-3%.  The engine receives only the generated parquet files
and the target vector.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

BOUNDS = (0.2, 5.0)
PENALTY = 5.0
MATCH_RTOL = 1e-6  # unbounded/elastic moment match, relative
BOUND_SLACK = 1e-12  # relative rounding allowance on new_weight/w0 bounds


# -- inputs -------------------------------------------------------------------
@dataclass
class Inputs:
    """Generated data plus everything the checks need, computed in numpy
    from the generated columns (independent of the engine)."""

    path: str
    spec: object  # MomentSpec
    n: int
    sum_w0: float
    means: dict[str, float]  # moment name → Σ x·w0 / Σw0
    targets: dict[str, float]  # perturbed means handed to the solver
    nnz: int
    sum_kb2: int  # Σ k_b² of the block-diagonal Gram (K² when dense)

    @property
    def k(self) -> int:
        return len(self.means)


def _perturb(rng: np.random.Generator, names: list[str]) -> dict[str, float]:
    """Target factor per moment, drawn from the 1-3% band."""
    return {nm: 1.0 + float(s) for nm, s in zip(names, rng.uniform(0.01, 0.03, len(names)))}


LINEITEM_NAMES = ["l_discount", "l_tax", "l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]


def lineitem_arrays(n: int, seed: int) -> dict[str, np.ndarray]:
    """Lineitem-shaped columns with TPC-H value domains."""
    rng = np.random.default_rng([seed, 1])
    return {
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "flag_idx": rng.choice(3, n, p=[0.25, 0.5, 0.25]),
        "factors": _perturb(rng, LINEITEM_NAMES),
    }


def lineitem_dense(cols: dict) -> tuple[np.ndarray, np.ndarray]:
    """(X, w0) of the K=5 problem, columns in ``LINEITEM_NAMES`` order."""
    n = len(cols["l_quantity"])
    x = np.zeros((n, 5))
    x[:, 0], x[:, 1] = cols["l_discount"], cols["l_tax"]
    x[np.arange(n), 2 + cols["flag_idx"]] = 1.0
    return x, cols["l_quantity"]


def lineitem_inputs(data_dir: str, n: int, seed: int) -> Inputs:
    """Weight ``l_quantity``, numeric ``l_discount``/``l_tax`` and one-hot
    ``l_returnflag`` → K=5, 3 nnz per row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entropy_balance_weighting_spark.plans import MomentSpec

    cols = lineitem_arrays(n, seed)
    path = os.path.join(data_dir, f"lineitem-{seed}-{n}.parquet")
    pq.write_table(
        pa.table(
            {
                "l_quantity": cols["l_quantity"],
                "l_discount": cols["l_discount"],
                "l_tax": cols["l_tax"],
                "l_returnflag": np.array(["A", "N", "R"])[cols["flag_idx"]],
            }
        ),
        path,
    )
    spec = MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        onehot=("l_returnflag",),
    )
    x, w0 = lineitem_dense(cols)
    sum_w0 = float(w0.sum())
    means = dict(zip(LINEITEM_NAMES, (x.T @ w0) / sum_w0))
    return Inputs(
        path=path,
        spec=spec,
        n=n,
        sum_w0=sum_w0,
        means=means,
        targets={nm: means[nm] * cols["factors"][nm] for nm in LINEITEM_NAMES},
        nnz=3 * n,
        sum_kb2=25,
    )


def survey_inputs(data_dir: str, n: int, groups: int, seed: int) -> Inputs:
    """Synthetic survey: ``groups`` groups × 4 numeric moments per group,
    every moment group-specific → K = 4·groups, block-diagonal Gram."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entropy_balance_weighting_spark.plans import MomentSpec

    rng = np.random.default_rng([seed, 2])
    cols = {
        "w": rng.uniform(0.5, 3.0, n),
        "g": rng.integers(0, groups, n).astype(np.int32),
        "x1": rng.uniform(0.5, 1.5, n),
        "x2": rng.lognormal(0.0, 0.5, n),
        "x3": rng.integers(0, 2, n).astype(np.float64),
        "x4": rng.gamma(2.0, 1.0, n),
    }
    path = os.path.join(data_dir, f"survey-{seed}-{n}.parquet")
    pq.write_table(pa.table(cols), path)
    spec = MomentSpec(weight_col="w", numeric=("x1", "x2", "x3", "x4"), group=("g",))
    w, g = cols["w"], cols["g"]
    sum_w0 = float(w.sum())
    means = {}
    for var in ("x1", "x2", "x3", "x4"):
        tot = np.bincount(g, weights=cols[var] * w, minlength=groups)
        for gi in range(groups):
            means[f"grp={gi}|{var}"] = float(tot[gi]) / sum_w0
    names = sorted(means)
    factors = _perturb(rng, names)
    return Inputs(
        path=path,
        spec=spec,
        n=n,
        sum_w0=sum_w0,
        means=means,
        targets={nm: means[nm] * factors[nm] for nm in names},
        nnz=4 * n,
        sum_kb2=16 * groups,
    )


# -- workloads ----------------------------------------------------------------
@dataclass(frozen=True)
class WorkloadDef:
    name: str
    kinds: tuple[str, ...]  # solver-kind cycle
    build_per_op: bool
    force_distributed: bool
    rows: int
    groups: int = 0  # 0 → lineitem-shaped K=5 data
    # untimed ops before the window: on prep_local the first op after one
    # warm-up still ran ~15% slow (JIT), so it gets a second one
    warmup_ops: int = 1


WORKLOADS = {
    "prep_local": WorkloadDef(
        "prep_local", ("newton",), build_per_op=True, force_distributed=False,
        rows=600_000, warmup_ops=2,
    ),
    "solve_mix_grouped": WorkloadDef(
        "solve_mix_grouped", ("newton", "elastic", "penalty"), build_per_op=False,
        force_distributed=True, rows=200_000, groups=500,
    ),
}


def make_inputs(wd: WorkloadDef, data_dir: str, seed: int) -> Inputs:
    if wd.groups:
        return survey_inputs(data_dir, wd.rows, wd.groups, seed)
    return lineitem_inputs(data_dir, wd.rows, seed)


# -- one op -------------------------------------------------------------------
@dataclass
class OpRecord:
    kind: str
    cycle: int
    ok: bool = False
    reason: str = ""
    build_s: float = 0.0
    solve_s: float = 0.0  # solver API call through materialized weights
    check_s: float = 0.0
    iterations: int = 0
    rows: int = 0
    persisted_plans: int = 0
    persisted_kernels: int = 0
    cached_bytes: int = 0  # all cached RDD blocks (memory + disk) after the op
    blob_partitions: int = 0

    @property
    def op_s(self) -> float:
        return self.build_s + self.solve_s


class Runner:
    """Holds the session, the inputs and the cached-RDD ownership ledger for
    one workload run.  ``tracer`` is None in the untraced run."""

    def __init__(self, spark, wd: WorkloadDef, inputs: Inputs) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.wd = wd
        self.inputs = inputs
        # targets handed to the check; the solver always gets inputs.targets
        self.check_targets = dict(inputs.targets)
        self.tracer = None
        self.pt = None  # tables built in setup (build_per_op=False)
        # RDD id ranges [lo, hi) created by the data layer / by solves
        self.plans_ids: list[tuple[int, int]] = []
        self.kernel_ids: list[tuple[int, int]] = []

    # RDD ids are handed out in increasing order, so the id counter read at
    # a layer boundary attributes every RDD to the layer that created it
    def _next_rdd_id(self) -> int:
        return int(self.sc._jsc.sc().newRddId())

    def _cached_blocks(self) -> tuple[dict[int, int], int]:
        """(RDD id → blocks, total bytes in memory and on disk) held by the
        block manager.  Read from the block manager, not
        ``getPersistentRDDs``: that map holds its RDDs weakly, so its size
        changes whenever the JVM collects garbage."""
        blocks: dict[int, int] = {}
        nbytes = 0
        for status in self.sc._jsc.sc().env().blockManager().master().getStorageStatus():
            it = status.rddBlocks().iterator()
            while it.hasNext():
                entry = it.next()  # (RDDBlockId, BlockStatus)
                rid = int(entry._1().rddId())
                blocks[rid] = blocks.get(rid, 0) + 1
                nbytes += int(entry._2().memSize()) + int(entry._2().diskSize())
        return blocks, nbytes

    def _span(self, name: str, layer: str):
        from contextlib import nullcontext

        return nullcontext() if self.tracer is None else self.tracer.span(name, layer)

    def build(self):
        from entropy_balance_weighting_spark.plans import build_problem_tables

        with self._span("plans.build_problem_tables", "plans"):
            df = self.spark.read.parquet(self.inputs.path)
            return build_problem_tables(df, self.inputs.spec)

    def setup_tables(self) -> None:
        if not self.wd.build_per_op:
            lo = self._next_rdd_id()
            self.pt = self.build()
            self.plans_ids.append((lo, self._next_rdd_id()))

    def _solve(self, kind: str, pt, m: np.ndarray):
        from entropy_balance_weighting_spark import entropy_balance, entropy_balance_penalty

        opts = {"force_distributed": True} if self.wd.force_distributed else {}
        if kind == "newton":
            return entropy_balance(mean_population_moments=m, x_sample=pt, options=opts or None)
        if kind == "elastic":
            return entropy_balance(
                mean_population_moments=m, x_sample=pt, options={**opts, "bounds": BOUNDS}
            )
        return entropy_balance_penalty(m, pt, penalty_parameter=PENALTY, options=opts or None)

    def run_op(self, kind: str, cycle: int, *, check: bool = True) -> OpRecord:
        """One op; ``check=False`` skips the output check (the untimed
        warm-up op, whose weights are never reported)."""
        rec = OpRecord(kind=kind, cycle=cycle, rows=self.inputs.n)
        try:
            with self._span(f"op.{kind}", "bench"):
                lo = self._next_rdd_id()
                t0 = time.perf_counter()
                pt = self.build() if self.wd.build_per_op else self.pt
                t1 = time.perf_counter()
                mid = self._next_rdd_id()
                t2 = time.perf_counter()
                m = np.array([self.inputs.targets[nm] for nm in pt.moment_names])
                with self._span(f"solvers.api.{kind}", "solvers"):
                    res = self._solve(kind, pt, m)
                with self._span("kernels.render", "kernels"):
                    weights = res.new_weights.toPandas()
                t3 = time.perf_counter()
                hi = self._next_rdd_id()
            rec.build_s = (t1 - t0) if self.wd.build_per_op else 0.0
            rec.solve_s = t3 - t2
            rec.iterations = int(res.n_iterations)
            if self.wd.build_per_op:
                self.plans_ids.append((lo, mid))
            self.kernel_ids.append((mid, hi))
            cached, rec.cached_bytes = self._cached_blocks()

            def owned(ranges):
                return [r for r in cached if any(a <= r < b for a, b in ranges)]

            rec.persisted_plans = len(owned(self.plans_ids))
            rec.persisted_kernels = len(owned(self.kernel_ids))
            rec.blob_partitions = max((cached[r] for r in owned([(mid, hi)])), default=0)
            if not res.converged:
                rec.reason = f"not converged: {res.error_message}"
                return rec
            if not check:
                rec.ok = True
                return rec
            c0 = time.perf_counter()
            with self._span("operators.check", "operators"):
                rec.reason = check_output(self, kind, pt, res, weights)
            rec.check_s = time.perf_counter() - c0
            rec.ok = not rec.reason
        except Exception as exc:  # noqa: BLE001 - an op that raises is a failed op
            rec.reason = f"{type(exc).__name__}: {exc}"[:300]
        return rec


# -- output checks --------------------------------------------------------------
def check_output(runner: Runner, kind: str, pt, res, weights) -> str:
    """Empty string when the op's weights pass; else the first failure.

    - every weight finite and positive;
    - bounded (elastic) ops keep new_weight/w0 inside the bounds;
    - unbounded and elastic ops match the targets within 1e-6 relative,
      recomputed with ``operators.weighted_moment_totals`` (not the solver's
      own constraint violations);
    - penalty ops shrink every moment gap relative to the initial weights.
    """
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.operators.weighted_moments import (
        weighted_moment_totals,
    )

    w = weights["new_weight"].to_numpy(np.float64)
    if len(w) != runner.inputs.n:
        return f"{len(w)} weights for {runner.inputs.n} rows"
    if not np.all(np.isfinite(w)) or not np.all(w > 0):
        return "non-finite or non-positive weight"
    if kind == "elastic":
        lo, hi = BOUNDS
        row = (
            res.new_weights.join(pt.w0, "row_id")
            .agg(
                F.min(F.col("new_weight") / F.col("w0")).alias("lo"),
                F.max(F.col("new_weight") / F.col("w0")).alias("hi"),
            )
            .first()
        )
        if row["lo"] < lo * (1 - BOUND_SLACK) or row["hi"] > hi * (1 + BOUND_SLACK):
            return f"ratio range [{row['lo']:.6g}, {row['hi']:.6g}] outside {BOUNDS}"
    totals = {
        r["moment_id"]: r["total"]
        for r in weighted_moment_totals(pt.x_long, res.new_weights, weight_col="new_weight")
        .select("moment_id", "total")
        .collect()
    }
    sum_w0 = runner.inputs.sum_w0
    for mid, nm in enumerate(pt.moment_names):
        b = runner.check_targets[nm] * sum_w0
        got = totals.get(mid, 0.0)
        if kind == "penalty":
            start_gap = abs(runner.inputs.means[nm] * sum_w0 - b)
            if not abs(got - b) < start_gap:
                return f"penalty gap grew on {nm}: {abs(got - b):.6g} >= {start_gap:.6g}"
        elif abs(got - b) > MATCH_RTOL * abs(b):
            return f"moment {nm}: total {got:.10g} vs target {b:.10g}"
    return ""


# -- loop and summary -----------------------------------------------------------
@dataclass
class LoopResult:
    records: list[OpRecord] = field(default_factory=list)
    window_s: float = 0.0


def run_cycles(runner: Runner, seconds: float, deadline: float, on_op=None) -> LoopResult:
    """Whole kind cycles, back to back, until ``seconds`` of wall have passed
    (at least one cycle), or the hard ``deadline`` (perf_counter) is near."""
    out = LoopResult()
    start = time.perf_counter()
    cycle = 0
    while True:
        for kind in runner.wd.kinds:
            rec = runner.run_op(kind, cycle)
            out.records.append(rec)
            if on_op is not None:
                on_op(rec)
        cycle += 1
        now = time.perf_counter()
        per_cycle = (now - start) / cycle
        if now - start >= seconds or now + per_cycle > deadline:
            break
    out.window_s = time.perf_counter() - start
    return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def summarize(records: list[OpRecord]) -> dict:
    """End-to-end figures over the measured ops (failed ops add no timing)."""
    ok = [r for r in records if r.ok]
    cycles: dict[int, list[OpRecord]] = {}
    for r in records:
        cycles.setdefault(r.cycle, []).append(r)
    cycle_walls = [sum(r.op_s for r in c) for c in cycles.values() if all(r.ok for r in c)]
    per_kind = {}
    for kind in dict.fromkeys(r.kind for r in records):
        vals = [r.solve_s for r in ok if r.kind == kind]
        per_kind[kind] = {"p50": median(vals), "n": len(vals)}
    op_wall = sum(r.op_s for r in ok)
    return {
        "attempted": len(records),
        "failed": len(records) - len(ok),
        "op_s_p50": median(r.op_s for r in ok),
        "op_s_n": len(ok),
        "cycle_s": median(cycle_walls),
        "cycle_n": len(cycle_walls),
        "rows_per_s": sum(r.rows for r in ok) / op_wall if op_wall > 0 else 0.0,
        # after the first cycle: the op count of a run must not change it
        "cached_mb": cycles[min(cycles)][-1].cached_bytes / 2**20 if cycles else 0.0,
        "per_kind": per_kind,
        "fail_reasons": sorted({r.reason for r in records if not r.ok}),
    }


def numpy_reference_s(seed: int, n: int = 600_000, reps: int = 3) -> float:
    """Driver-only LocalKernel Newton solve of the sf0.1-sized K=5 problem
    (no Spark): the floor the Spark paths are compared against."""
    from entropy_balance_weighting_spark.kernels.local import LocalKernel
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    cols = lineitem_arrays(n, seed)
    x, w0 = lineitem_dense(cols)
    means = (x.T @ w0) / w0.sum()
    m = np.array([means[j] * cols["factors"][nm] for j, nm in enumerate(LINEITEM_NAMES)])
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        kern = LocalKernel(x, w0)
        kern.init_state(None)
        res = solve_unbounded(kern, m, None, original_weights=w0)
        times.append(time.perf_counter() - t)
        if not res.converged:
            raise RuntimeError("numpy reference solve did not converge")
    return median(times)
