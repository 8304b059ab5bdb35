"""Distributed kernel for the penalty solver — split-state Arrow blobs
over an RDD ``zip``, same execution design as the elastic kernel (one
fused scan per stage, zero per-iteration shuffles, only K/K²-sized
partials cross the driver boundary; the immutable CSR base is cached ONCE
as pre-encoded IPC blobs and never rewritten — commits re-cache only the
mutable state columns).  The caches and their lifecycle live in a
split-state :class:`~entropy_balance_weighting_spark.kernels.blobstore.BlobStore`.

State columns: ``ratio`` always (8 B/row); bounded mode adds ``s_lo,
lm_lo, s_hi, lm_hi`` (slacks and inequality multipliers per bound side —
the reference's ``A_ineq=[I,−I]`` incidence never materializes, its
products ARE these column pairs; ref: ebw_penalty.py:275,402-439).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from entropy_balance_weighting_spark.kernels.base import (
    PBStats,
    PBStepStats,
    PenaltyStats,
)
from entropy_balance_weighting_spark.kernels.blobstore import BlobStore
from entropy_balance_weighting_spark.kernels.penalty_local import TAU
from entropy_balance_weighting_spark.kernels.spark import (
    _flatten_rb,
    _pack_rb,
    _rb_col,
    _x_dot,
    _xt_v,
    blocks_tuple,
    reduce_big,
    gram_from_sums,
    ipc_ser,
    make_gram_accum,
    pack_rows,
)

UNBOUNDED_STATE = ["ratio"]
BOUNDED_STATE = ["ratio", "s_lo", "lm_lo", "s_hi", "lm_hi"]


def _ftb_batch(point: np.ndarray, step: np.ndarray) -> float:
    blocked = step < 0
    if not blocked.any():
        return np.inf
    return float(np.min(-TAU * point[blocked] / step[blocked]))


def _gram_init_pass(k: int, blocks) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        g2, g2_add = make_gram_accum(k, blocks)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            g2_add(flat_idx, flat_val, lens, w0**2)
        yield _pack_rb([g2], [np.inf])

    return fn


def _moment_totals_pass(k: int) -> Callable:
    """Xᵀ(w0·ratio): the penalty solve's moment totals, and the elastic
    solve's first pass."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        g1 = np.zeros(k)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            r = _rb_col(rb, "ratio")
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
        yield _pack_rb([g1], [np.inf])

    return fn


# -- unbounded -------------------------------------------------------------
def _pstats_pass(k: int, blocks) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        f_val = 0.0
        s_ll = 0.0
        nan_ct = 0.0
        g1 = np.zeros(k)
        g2v = np.zeros(k)
        h = np.zeros(k)
        gram, gram_add = make_gram_accum(k, blocks)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            r = _rb_col(rb, "ratio")
            with np.errstate(divide="ignore", invalid="ignore"):
                lr = np.log(r)
            bad = ~np.isfinite(lr)
            nan_ct += float(bad.sum())
            lrf = np.where(bad, 0.0, lr)
            f_val += float(np.sum(w0 * (r * lrf - r + 1.0)))
            s_ll += float(np.sum(w0**2 * lrf**2))
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
            g2v += _xt_v(flat_idx, flat_val, lens, w0 * r * lrf, k)
            h += _xt_v(flat_idx, flat_val, lens, w0**2 * lrf, k)
            gram_add(flat_idx, flat_val, lens, w0 * r)
        yield _pack_rb([f_val, s_ll, nan_ct, g1, g2v, h, gram], [np.inf])

    return fn


def _state_blob(rb: pa.RecordBatch, names, **new: np.ndarray) -> bytes:
    """The next state blob: the ``names`` columns of ``rb``, with the
    ``new`` ones replaced."""
    return ipc_ser(
        pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(new[c], dtype=np.float64), type=pa.float64())
                if c in new
                else rb.column(rb.schema.get_field_index(c))
                for c in names
            ],
            names,
        )
    )


def _pcommit_pass(z: np.ndarray) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[bytes]:
        for rb in batches:
            flat_idx, flat_val, lens = _flatten_rb(rb)
            r = _rb_col(rb, "ratio")
            with np.errstate(divide="ignore", invalid="ignore"):
                p = -r * (np.log(r) + _x_dot(flat_idx, flat_val, lens, z))
            yield _state_blob(
                rb, UNBOUNDED_STATE, ratio=r + np.where(np.isfinite(p), p, 0.0)
            )

    return fn


def _pstep_sq_pass(z: np.ndarray) -> Callable:
    """Σp² + NaN count for the step just about to be committed."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        p_sq = 0.0
        nan_ct = 0.0
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            r = _rb_col(rb, "ratio")
            with np.errstate(divide="ignore", invalid="ignore"):
                p = -r * (np.log(r) + _x_dot(flat_idx, flat_val, lens, z))
            bad = ~np.isfinite(p)
            nan_ct += float(bad.sum())
            pf = np.where(bad, 0.0, p)
            p_sq += float(pf @ pf)
        yield _pack_rb([p_sq, nan_ct], [np.inf])

    return fn


# -- bounded ---------------------------------------------------------------
def _bounded_pieces(rb: pa.RecordBatch, has_ub: bool):
    w0 = _rb_col(rb, "w0")
    r = _rb_col(rb, "ratio")
    s_lo = _rb_col(rb, "s_lo")
    lm_lo = _rb_col(rb, "lm_lo")
    s_hi = _rb_col(rb, "s_hi")
    lm_hi = _rb_col(rb, "lm_hi")
    with np.errstate(divide="ignore", invalid="ignore"):
        lr = np.log(r)
        hb = w0 / r + lm_lo / s_lo + (lm_hi / s_hi if has_ub else 0.0)
        inv_hb = 1.0 / hb
    return w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb


def _pbstats_pass(k: int, has_ub: bool, blocks) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        f_val = 0.0
        sd0_sq = 0.0
        s_sum = 0.0
        s_sq = 0.0
        nan_ct = 0.0
        s_min = np.inf
        g1 = np.zeros(k)
        hd = np.zeros(k)
        u1a = np.zeros(k)
        u1b = np.zeros(k)
        gb, gb_add = make_gram_accum(k, blocks)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb = _bounded_pieces(
                rb, has_ub
            )
            d0 = w0 * lr - lm_lo + (lm_hi if has_ub else 0.0)
            bad = ~np.isfinite(d0) | ~np.isfinite(inv_hb)
            nan_ct += float(bad.sum())
            d0 = np.where(bad, 0.0, d0)
            inv_hb = np.where(bad, 0.0, inv_hb)
            lrf = np.where(np.isfinite(lr), lr, 0.0)
            f_val += float(np.sum(w0 * (r * lrf - r + 1.0)))
            sd0_sq += float(d0 @ d0)
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
            hd += _xt_v(flat_idx, flat_val, lens, w0 * d0, k)
            u1a += _xt_v(flat_idx, flat_val, lens, w0 * inv_hb * w0 * lrf, k)
            sinv = 1.0 / s_lo - (1.0 / s_hi if has_ub else 0.0)
            u1b += _xt_v(flat_idx, flat_val, lens, w0 * inv_hb * sinv, k)
            gb_add(flat_idx, flat_val, lens, w0**2 * inv_hb)
            sl = s_lo * lm_lo
            if has_ub:
                sl = np.concatenate([sl, s_hi * lm_hi])
            s_sum += float(np.sum(sl))
            s_sq += float(sl @ sl)
            if len(sl):
                s_min = min(s_min, float(sl.min()))
        yield _pack_rb(
            [f_val, sd0_sq, s_sum, s_sq, nan_ct, g1, hd, u1a, u1b, gb], [s_min]
        )

    return fn


def _pb_step_arrays(rb, flat_idx, flat_val, lens, z, mu, has_ub):
    w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb = _bounded_pieces(rb, has_ub)
    e = w0 * lr - mu / s_lo + (mu / s_hi if has_ub else 0.0)
    p = -inv_hb * (e + w0 * _x_dot(flat_idx, flat_val, lens, z))
    dl_lo = lm_lo / s_lo * (-p - s_lo + mu / lm_lo)
    dl_hi = (
        lm_hi / s_hi * (p - s_hi + mu / lm_hi) if has_ub else np.zeros(len(r))
    )
    return p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi


def _pbstep_pass(z: np.ndarray, mu: float, has_ub: bool) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        p_sq = 0.0
        nan_ct = 0.0
        ftb_s = np.inf
        ftb_l = np.inf
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi = _pb_step_arrays(
                rb, flat_idx, flat_val, lens, z, mu, has_ub
            )
            bad = ~np.isfinite(p)
            nan_ct += float(bad.sum())
            pf = np.where(bad, 0.0, p)
            p_sq += float(pf @ pf)
            ftb_s = min(ftb_s, _ftb_batch(s_lo, pf))
            ftb_l = min(ftb_l, _ftb_batch(lm_lo, dl_lo))
            if has_ub:
                ftb_s = min(ftb_s, _ftb_batch(s_hi, -pf))
                ftb_l = min(ftb_l, _ftb_batch(lm_hi, dl_hi))
        yield _pack_rb([p_sq, nan_ct], [ftb_s, ftb_l])

    return fn


def _pbcommit_pass(
    z: np.ndarray, mu: float, bp: float, bd: float, has_ub: bool
) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[bytes]:
        for rb in batches:
            flat_idx, flat_val, lens = _flatten_rb(rb)
            p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi = _pb_step_arrays(
                rb, flat_idx, flat_val, lens, z, mu, has_ub
            )
            new_cols = {
                "ratio": _rb_col(rb, "ratio") + bp * p,
                "s_lo": s_lo + bp * p,
                "lm_lo": lm_lo + bd * dl_lo,
            }
            if has_ub:
                new_cols["s_hi"] = s_hi - bp * p
                new_cols["lm_hi"] = lm_hi + bd * dl_hi
            yield _state_blob(rb, BOUNDED_STATE, **new_cols)

    return fn


class PenaltySparkKernel:
    """Distributed penalty kernel over split-state Arrow blobs."""

    def __init__(
        self, store, k: int, sum_w0: float, n: int,
        has_ub: bool, bounded: bool, block_structure=None,
    ) -> None:
        self._store = store
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.has_ub = has_ub
        self.bounded = bounded
        self.block_structure = block_structure

    @classmethod
    def from_problem(
        cls,
        x_long: DataFrame,
        w0: DataFrame,
        k: int,
        *,
        bounds: tuple[float, float | None] | None = None,
        ratio_guess: DataFrame | None = None,
        moment_groups: list[str] | None = None,
        known_sums: tuple[float, int] | None = None,
        prepacked: DataFrame | None = None,
    ) -> "PenaltySparkKernel":
        from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

        df, sum_w0, n = pack_rows(x_long, w0, known_sums, prepacked)
        bounded = bounds is not None
        has_ub = bounded and bounds[1] is not None
        lb = max(float(bounds[0]), 0.0) if bounded else 0.0
        ub = float(bounds[1]) if has_ub else 0.0

        def state_of(ratio: np.ndarray) -> pa.RecordBatch:
            """Initial state from a start ratio (bounds-checked by the store)."""
            arrays = [ratio]
            if bounded:
                s_lo = ratio - lb
                s_hi = (ub - ratio) if has_ub else np.ones(len(ratio))
                lm_hi = 1.0 / s_hi if has_ub else np.zeros(len(ratio))
                arrays = [ratio, s_lo, 1.0 / s_lo, s_hi, lm_hi]
            return pa.RecordBatch.from_arrays(
                [pa.array(np.ascontiguousarray(a, dtype=np.float64)) for a in arrays],
                BOUNDED_STATE if bounded else UNBOUNDED_STATE,
            )

        store = BlobStore.build(
            df,
            k,
            n,
            ratio_guess=ratio_guess,
            state_of=state_of,
            bounds=(lb, ub if has_ub else None) if bounded else None,
        )
        bs = BlockStructure.from_groups(moment_groups) if moment_groups else None
        return cls(store, k, sum_w0, n, has_ub, bounded, block_structure=bs)

    def _reduce(self, fn, big: bool = False) -> tuple[np.ndarray, np.ndarray]:
        return self._store.reduce(fn, big)

    @property
    def _gram_big(self) -> bool:
        return reduce_big(self.k, self.block_structure, self._store.num_partitions)

    def defer_validation(self) -> None:
        """Arm the fused V1 check on the first pass (``penalty_init``)."""
        self._store.defer_validation()

    # -- shared ------------------------------------------------------------
    def penalty_init(self):
        sums, _ = self._reduce(
            _gram_init_pass(self.k, blocks_tuple(self.block_structure)),
            big=self._gram_big,
        )
        return gram_from_sums(sums, self.k, self.block_structure)

    def moment_totals(self) -> np.ndarray:
        sums, _ = self._reduce(_moment_totals_pass(self.k))
        return sums

    def new_weights(self) -> DataFrame:
        def render(batches: Iterator[pa.RecordBatch]):
            for rb in batches:
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(rb.schema.get_field_index("row_id")),
                        pa.array(
                            _rb_col(rb, "ratio") * _rb_col(rb, "w0"),
                            type=pa.float64(),
                        ),
                    ],
                    ["row_id", "new_weight"],
                )

        return self._store.weights_df(render)

    def cleanup(self) -> None:
        self._store.cleanup()

    # -- unbounded ---------------------------------------------------------
    def penalty_stats(self) -> PenaltyStats:
        k = self.k
        sums, _ = self._reduce(
            _pstats_pass(k, blocks_tuple(self.block_structure)),
            big=self._gram_big,
        )
        f_val, s_ll, nan_ct = sums[0], sums[1], sums[2]
        g1 = sums[3 : 3 + k]
        g2v = sums[3 + k : 3 + 2 * k]
        h = sums[3 + 2 * k : 3 + 3 * k]
        gram = gram_from_sums(sums[3 + 3 * k :], k, self.block_structure)
        return PenaltyStats(
            f_val=float(f_val),
            g1=g1,
            g2v=g2v,
            h=h,
            s_ll=float(s_ll),
            gram=gram,
            has_nan=nan_ct > 0,
        )

    def penalty_commit(self, z: np.ndarray) -> tuple[float, bool]:
        sums, _ = self._reduce(_pstep_sq_pass(z))
        self._store.commit(_pcommit_pass(z))
        return float(sums[0]), sums[1] > 0

    # -- bounded -----------------------------------------------------------
    def pb_stats(self) -> PBStats:
        k = self.k
        sums, mins = self._reduce(
            _pbstats_pass(k, self.has_ub, blocks_tuple(self.block_structure)),
            big=self._gram_big,
        )
        f_val, sd0_sq, s_sum, s_sq, nan_ct = sums[:5]
        off = 5
        g1 = sums[off : off + k]
        hd = sums[off + k : off + 2 * k]
        u1a = sums[off + 2 * k : off + 3 * k]
        u1b = sums[off + 3 * k : off + 4 * k]
        gb = gram_from_sums(sums[off + 4 * k :], k, self.block_structure)
        return PBStats(
            f_val=float(f_val),
            g1=g1,
            sd0_sq=float(sd0_sq),
            hd=hd,
            gb=gb,
            u1a=u1a,
            u1b=u1b,
            s_sum=float(s_sum),
            s_sq=float(s_sq),
            s_min=float(mins[0]),
            s_cnt=float(self.n * (2 if self.has_ub else 1)),
            has_nan=nan_ct > 0,
        )

    def pb_step(self, z: np.ndarray, mu: float) -> PBStepStats:
        sums, mins = self._reduce(_pbstep_pass(z, mu, self.has_ub))
        return PBStepStats(
            p_sq=float(sums[0]),
            ftb_slack=float(mins[0]),
            ftb_dual=float(mins[1]),
            has_nan=sums[1] > 0,
        )

    def pb_commit(self, z: np.ndarray, mu: float, bp: float, bd: float) -> None:
        self._store.commit(_pbcommit_pass(z, mu, bp, bd, self.has_ub))
