"""Distributed kernel for the elastic interior-point solver — split-state
Arrow batches over an RDD ``zip`` (round-7 design).

The elastic loop is the only kernel that mutates per-row state every
iteration.  The previous packed-DataFrame design committed by rewriting the
WHOLE row cache — including the immutable CSR columns (idx/val, most of the
bytes): ~3 s/iter of pure cache-write bandwidth at 5M rows (PLANS.md
§"Elastic per-iteration anatomy").  DataFrames cannot narrow-align two
co-partitioned caches (that align is a join = a shuffle per iteration), but
``RDD.zip`` is exactly that narrow pairing, legal here by construction
because the state RDD is derived element-for-element from the base RDD.

Data plane:
  - **base RDD** — one element per Arrow batch: the IPC-serialized
    immutable columns ``(row_id, w0, idx, val)``.  Cached ONCE, never
    rewritten.
  - **state RDD** — IPC batches of the 3 mutable doubles
    ``(ratio, lm_lo, lm_hi)`` (24 B/row since r9 — the bound slacks are
    DERIVED, see STATE_NAMES — vs ~150 B/row for full packed rows at
    K=8; the gap widens with K).  Re-cached per commit; lm_hi is inert
    (0) without an upper bound.
  - **passes** — one ``mapPartitions`` over the zipped base and state,
    where the pair batches are reassembled ZERO-COPY (same buffers, one
    combined RecordBatch) and fed to the ``_estats``/``_estep`` math;
    K/K²-sized partials only.  Both caches, the zip, the reduce and the
    commit lifecycle live in a split-state
    :class:`~entropy_balance_weighting_spark.kernels.blobstore.BlobStore`.
    Commits stay lazy (zero jobs) and materialize inside the next stats
    scan — 2 jobs per iteration, the same discipline the job-count pin
    (tests/test_elastic.py) enforces.
  - **fused commit+stats (r9)** — a pending commit is applied BY the
    next stats scan itself (``_ecommit_stats_pass``): one pass over
    the zipped base and old state yields the new state cache elements (with
    the partition stats payload piggybacked on each partition's last
    element) while accumulating the stats on the just-committed state —
    the base cache crosses the JVM/Python boundary once per iteration's
    stats job instead of twice, and each batch flattens once.

Measured at N=5M, K=8 (solo box, r7): full iteration 4.5–5.5 s vs
7.8–10 s for the packed-row design.  At N=100M, K=8 (r9): stats+commit
14.5 s → ~9.2 s, per-iteration ~19.5 s → ~14.5 s (PLANS.md §15).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from entropy_balance_weighting_spark.kernels.base import EStats, EStepStats
from entropy_balance_weighting_spark.kernels.blobstore import BlobStore
from entropy_balance_weighting_spark.kernels.penalty_spark import (
    _ftb_batch,
    _moment_totals_pass,
)
from entropy_balance_weighting_spark.kernels.spark import (
    _flatten_rb,
    _pack_rb,
    _rb_col,
    _x_dot,
    _xt_v,
    blocks_tuple,
    gram_bytes,
    reduce_big,
    gram_from_sums,
    ipc_ser,
    make_gram_accum,
    pack_rows,
)

# r9 narrow state: the bound slacks are NOT stored — the IP's own step
# algebra maintains s_lo ≡ r − lb and s_hi ≡ ub − r exactly (ss_lo =
# r_step + Ci_lo with Ci_lo ≡ 0 from a feasible start — the identity
# pinned by tests/test_elastic.py::test_condensed_step_satisfies_full_kkt
# _newton_system), so ``_cols`` derives them per pass and every state
# commit writes 24 B/row instead of 40.
STATE_NAMES = ["ratio", "lm_lo", "lm_hi"]

def _cols(rb: pa.RecordBatch, lb: float, ub: float, has_ub: bool):
    """State columns with the slacks DERIVED (see STATE_NAMES): s_lo =
    r − lb, s_hi = ub − r (inert ones without an upper bound)."""
    r = _rb_col(rb, "ratio")
    return (
        _rb_col(rb, "w0"),
        r,
        r - lb,
        (ub - r) if has_ub else np.ones(len(r)),
        _rb_col(rb, "lm_lo"),
        _rb_col(rb, "lm_hi"),
    )


def _pieces(rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub):
    """Batch rendering of ElasticLocalKernel._pieces (kept in lockstep)."""
    w0, r, s_lo, s_hi, lm_lo, lm_hi = _cols(rb, lb, ub, has_ub)
    with np.errstate(divide="ignore", invalid="ignore"):
        lr = np.log(r)
    xlam = _x_dot(flat_idx, flat_val, lens, lam)
    lm_net = lm_lo - lm_hi if has_ub else lm_lo
    cd = (1.0 / eta) * w0 * lr - w0 * xlam - lm_net
    ci_lo = r - s_lo - lb
    cs_lo = s_lo * lm_lo - mu_s
    with np.errstate(divide="ignore", invalid="ignore"):
        ht = (1.0 / eta) * w0 / r + lm_lo / s_lo
        zterm = lm_lo / s_lo * (ci_lo + cs_lo / lm_lo)
        if has_ub:
            ci_hi = -r - s_hi + ub
            cs_hi = s_hi * lm_hi - mu_s
            ht = ht + lm_hi / s_hi
            zterm = zterm - lm_hi / s_hi * (ci_hi + cs_hi / lm_hi)
        else:
            ci_hi = np.zeros(len(r))
            cs_hi = np.zeros(len(r))
    return w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd, ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm


def _steps_arrays(pieces, flat_idx, flat_val, lens, dlam, mu_s, has_ub):
    (w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd,
     ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm) = pieces
    xdl = _x_dot(flat_idx, flat_val, lens, dlam)
    r_step = (1.0 / ht) * (w0 * xdl - cd - zterm)
    li_lo = lm_lo / s_lo * (-r_step - ci_lo - cs_lo / lm_lo)
    ss_lo = -s_lo - s_lo / lm_lo * li_lo + mu_s / lm_lo
    if has_ub:
        li_hi = lm_hi / s_hi * (r_step - ci_hi - cs_hi / lm_hi)
        ss_hi = -s_hi - s_hi / lm_hi * li_hi + mu_s / lm_hi
    else:
        li_hi = np.zeros(len(r_step))
        ss_hi = np.zeros(len(r_step))
    return r_step, li_lo, li_hi, ss_lo, ss_hi


def _gram_noop(flat_idx, flat_val, lens, d) -> None:
    """Gram accumulation stub for lagged-Jacobian stats scans."""


class _EStatsAcc:
    """Per-partition stats accumulator shared by the plain stats pass and
    the fused commit+stats pass (``_ecommit_stats_pass``) — one body, no
    math divergence between the two shapes."""

    def __init__(self, k: int, blocks, skip_gram: bool = False) -> None:
        self.k = k
        self.f_val = self.cd_sq = self.ci_sq = self.cs_sq = 0.0
        self.alt_sq = self.nan_ct = 0.0
        self.sl_sum = self.sl_sq = self.sl_cnt = 0.0
        self.sl_min = np.inf
        self.neg_lm_max = np.inf  # min(−λ) = −max(λ)
        self.g1 = np.zeros(k)
        self.rhs_leg = np.zeros(k)
        self.rhs_mu_leg = np.zeros(k)
        if skip_gram:
            # Lagged-Jacobian iteration (gram frozen driver-side): the
            # pass accumulates NO gram — deletes both the bincount/BLAS
            # accumulate CPU and the Σk_b²/K² payload bytes, the two
            # measured per-iteration walls at grouped huge K (PLANS §16)
            self.gram = np.zeros(0)
            self.gram_add = _gram_noop
        else:
            self.gram, self.gram_add = make_gram_accum(k, blocks)

    def add(self, rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub):
        if not rb.num_rows:
            # Zero-row batches contribute nothing; guarded HERE (not in
            # each caller) so the plain and fused stats passes share one
            # invariant — an empty batch would otherwise raise on the
            # lm_lo.max()/sl.min() reductions below.
            return
        k = self.k
        pieces = _pieces(
            rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
        )
        (w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd,
         ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm) = pieces
        bad = ~np.isfinite(cd) | ~np.isfinite(ht) | (ht <= 0)
        cdf = np.where(bad, 0.0, cd)
        lrf = np.where(np.isfinite(lr), lr, 0.0)
        with np.errstate(over="ignore"):
            alt = np.exp(eta * (xlam + lm_net / w0)) - r
        # Overflowing alt residual -> alt_sq=inf, NOT an abort (the
        # reference keeps iterating, ebw_routines.py:586-600); only
        # Cd/ht non-finiteness counts toward nan_ct.
        alt_bad = ~np.isfinite(alt)
        self.nan_ct += float(bad.sum())
        altf = np.where(alt_bad, 0.0, alt)
        inv_ht = np.where(bad, 0.0, 1.0 / ht)
        self.f_val += float(np.sum(w0 * (r * lrf - r + 1.0)))
        self.cd_sq += float(cdf @ cdf)
        self.ci_sq += float(ci_lo @ ci_lo) + (
            float(ci_hi @ ci_hi) if has_ub else 0.0
        )
        self.cs_sq += float(cs_lo @ cs_lo) + (
            float(cs_hi @ cs_hi) if has_ub else 0.0
        )
        self.alt_sq += np.inf if alt_bad.any() else float(altf @ altf)
        # μ_s decomposition legs + slack/multiplier stats of THIS state
        # (post-commit when a lazy commit is pending — this scan applies
        # it), so the driver updates μ_s/η with no separate pass
        z1 = 1.0 / s_lo - (1.0 / s_hi if has_ub else 0.0)
        sl = s_lo * lm_lo
        lm_mx = float(lm_lo.max())
        if has_ub:
            sl = np.concatenate([sl, s_hi * lm_hi])
            lm_mx = max(lm_mx, float(lm_hi.max()))
        self.sl_sum += float(np.sum(sl))
        self.sl_sq += float(sl @ sl)
        self.sl_cnt += float(len(sl))
        self.sl_min = min(self.sl_min, float(sl.min()))
        self.neg_lm_max = min(self.neg_lm_max, -lm_mx)
        self.g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
        self.rhs_leg += _xt_v(
            flat_idx, flat_val, lens, w0 * inv_ht * (cdf + zterm), k
        )
        self.rhs_mu_leg += _xt_v(flat_idx, flat_val, lens, w0 * inv_ht * z1, k)
        self.gram_add(flat_idx, flat_val, lens, w0**2 * inv_ht)

    def payload(self, wire32: bool = False) -> pa.RecordBatch:
        head = [self.f_val, self.cd_sq, self.ci_sq, self.cs_sq, self.alt_sq,
                self.nan_ct, self.sl_sum, self.sl_sq, self.sl_cnt]
        tail = [self.g1, self.rhs_leg, self.rhs_mu_leg, self.gram]
        if not wire32:
            return _pack_rb(head + tail, [self.sl_min, self.neg_lm_max])
        # float32 WIRE for the K-sized tail (g1 + 2 RHS legs + gram flat)
        # — the r10 payload-bandwidth cut: per-partition accumulation
        # stays float64 (above); only the treeReduce bytes halve.  The
        # 9 convergence-critical scalars keep full precision in the head
        # so predicates (cd_sq, f_val, nan_ct, slack stats) never feel
        # the wire.  The driver solve upcasts the tail to float64; Newton
        # self-corrects the ~1e-7 relative direction error (iteration
        # counts pinned unchanged at the 20M×100k config, PLANS §16).
        hbuf = np.asarray(head, dtype=np.float64).tobytes()
        tbuf = (
            np.concatenate([np.asarray(t, dtype=np.float64).ravel() for t in tail])
            .astype(np.float32)
            .tobytes()
        )
        mbuf = np.asarray(
            [self.sl_min, self.neg_lm_max], dtype=np.float64
        ).tobytes()
        return pa.RecordBatch.from_arrays(
            [
                pa.array([hbuf + tbuf], type=pa.binary()),
                pa.array([mbuf], type=pa.binary()),
            ],
            ["sums", "mins"],
        )


def _estats_pass(
    k, lam, eta, mu_s, lb, ub, has_ub, blocks, wire32: bool = False,
    skip_gram: bool = False,
) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = _EStatsAcc(k, blocks, skip_gram)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            acc.add(
                rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
        yield acc.payload(wire32)

    return fn


def _estep_pass(k, lam, dlam, eta, mu_s, lb, ub, has_ub) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rstep_sq = nan_ct = 0.0
        xt_rstep = np.zeros(k)
        ftb_s = np.inf
        ftb_l = np.inf
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            pieces = _pieces(
                rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
            r_step, li_lo, li_hi, ss_lo, ss_hi = _steps_arrays(
                pieces, flat_idx, flat_val, lens, dlam, mu_s, has_ub
            )
            s_lo, s_hi, lm_lo, lm_hi = pieces[2], pieces[3], pieces[4], pieces[5]
            bad = ~np.isfinite(r_step)
            nan_ct += float(bad.sum())
            rsf = np.where(bad, 0.0, r_step)
            rstep_sq += float(rsf @ rsf)
            xt_rstep += _xt_v(flat_idx, flat_val, lens, rsf, k)
            ftb_s = min(ftb_s, _ftb_batch(s_lo, ss_lo))
            ftb_l = min(ftb_l, _ftb_batch(lm_lo, li_lo))
            if has_ub:
                ftb_s = min(ftb_s, _ftb_batch(s_hi, ss_hi))
                ftb_l = min(ftb_l, _ftb_batch(lm_hi, li_hi))
        yield _pack_rb([rstep_sq, nan_ct, xt_rstep], [ftb_s, ftb_l])

    return fn


def _state_rb(arrays) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.ascontiguousarray(a, dtype=np.float64)) for a in arrays],
        STATE_NAMES,
    )


# Fused commit+stats pays off only when the state cache is big enough
# that reading the base cache ONCE (not twice) dominates its fixed
# costs (payload piggyback elements, per-batch commit recompute inside
# the stats scan).  Measured (r10): N=600k bounded at sf0.1 runs
# ~10.8-11.2 s unfused vs 12.6-13.8 s fused (the r9 sf0.1 drift, now
# adjudicated as REAL); N=100M runs ~9.2 s/iter fused vs ~14.5
# unfused (PLANS §15).  Below this row count the commit flushes as a
# chained lazy swap and stats runs the plain pass.
_FUSED_MIN_ROWS = 2_000_000

# The stats payload's mixed-precision wire layout: 9 float64 scalars
# (convergence predicates — full precision always), then the K-sized
# tail as float32 (see _EStatsAcc.payload wire32).
_STATS_HEAD_BYTES = 9 * 8

# Use the float32 wire only when the tail is big enough to matter: at
# this threshold the f64→f32 halving saves ≥ 1 MB per partition per
# pass (≥ 0.4 GB/iteration at 400 partitions).  Small-K paths — every
# registered correctness query (K ≤ ~2000: tail ≤ ~100 KB) — keep the
# bit-stable float64 wire.
_WIRE32_MIN_TAIL_BYTES = 2 * 1024 * 1024


def _merge_payload_mixed(a, b):
    h = np.frombuffer(a[0][:_STATS_HEAD_BYTES], dtype=np.float64) + (
        np.frombuffer(b[0][:_STATS_HEAD_BYTES], dtype=np.float64)
    )
    t = np.frombuffer(a[0][_STATS_HEAD_BYTES:], dtype=np.float32) + (
        np.frombuffer(b[0][_STATS_HEAD_BYTES:], dtype=np.float32)
    )
    mins = np.minimum(
        np.frombuffer(a[1], dtype=np.float64),
        np.frombuffer(b[1], dtype=np.float64),
    )
    return (h.tobytes() + t.tobytes(), mins.tobytes())


def _decode_sums(buf: bytes, wire32: bool) -> np.ndarray:
    if not wire32:
        return np.frombuffer(buf, dtype=np.float64).copy()
    head = np.frombuffer(buf[:_STATS_HEAD_BYTES], dtype=np.float64)
    tail = np.frombuffer(buf[_STATS_HEAD_BYTES:], dtype=np.float32)
    return np.concatenate([head, tail.astype(np.float64)])


def _ecommit_state_pass(
    lam, dlam, eta, mu_s, alpha_p, alpha_d, lb, ub, has_ub
) -> Callable:
    """Commit, RECOMPUTE form (the chained lazy swap — see
    ``elastic_commit``): recompute the step on the CURRENT state and emit
    only the next state blob — the immutable base columns are never
    rewritten."""

    def fn(batches: Iterator[pa.RecordBatch]):
        for rb in batches:
            flat_idx, flat_val, lens = _flatten_rb(rb)
            pieces = _pieces(
                rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
            r_step, li_lo, li_hi, _ss_lo, _ss_hi = _steps_arrays(
                pieces, flat_idx, flat_val, lens, dlam, mu_s, has_ub
            )
            _, r, _s_lo, _s_hi, lm_lo, lm_hi = _cols(rb, lb, ub, has_ub)
            yield ipc_ser(
                _state_rb(
                    [
                        r + alpha_p * r_step,
                        lm_lo + alpha_d * li_lo,
                        lm_hi + alpha_d * li_hi if has_ub else lm_hi,
                    ]
                )
            )

    return fn


def _ecommit_stats_pass(
    k, clam, cdlam, ceta, cmu_s, alpha_p, alpha_d,
    lam, eta, mu_s, lb, ub, has_ub, blocks, wire32: bool = False,
    skip_gram: bool = False,
) -> Callable:
    """FUSED commit+stats — the r9 commit-bandwidth cut.  One pass over
    the zipped base and old state, per batch: replay the pending commit (step
    recompute at the COMMIT-time parameters, then the α-combine), yield
    the new state blob as a cache element, and feed the new state straight
    into the stats accumulation at the STATS-time parameters.  The
    persisted RDD therefore IS the new state cache (each element is
    ``(state_ipc, sums, mins)`` with the partition payload piggybacked on
    the LAST batch's element (empty bytes on the others), so the element
    count per partition equals the batch count —
    later passes ``zip`` this cache with the base cache DIRECTLY at the
    JVM level (an element-count-preserving view through a Python
    ``filter`` would force every later read through an extra
    Python→JVM→Python round trip, measured +2.3 s/pass at 100M)) AND the
    stats source — versus the r8 shape (new state = a nested base/prev
    zip inside the outer stats zip) this reads the multi-GB
    base cache ONCE instead of twice and flattens each batch once instead
    of twice.  Payload bytes ride the state cache until the next commit
    replaces it: K-sized per partition — negligible at small K, bounded
    by partitions × (3K+Σk_b²)·8 B on the grouped huge-K path (~1.6 GB at
    K=100k × 400 partitions, transient)."""

    def fn(batches: Iterator[pa.RecordBatch]):
        acc = _EStatsAcc(k, blocks, skip_gram)
        n_state = len(STATE_NAMES)
        held = None
        for rb in batches:
            flat_idx, flat_val, lens = _flatten_rb(rb)
            pieces = _pieces(
                rb, flat_idx, flat_val, lens, clam, ceta, cmu_s, lb, ub,
                has_ub,
            )
            r_step, li_lo, li_hi, _ss_lo, _ss_hi = _steps_arrays(
                pieces, flat_idx, flat_val, lens, cdlam, cmu_s, has_ub
            )
            r, lm_lo, lm_hi = pieces[1], pieces[4], pieces[5]
            st_rb = _state_rb(
                [
                    r + alpha_p * r_step,
                    lm_lo + alpha_d * li_lo,
                    lm_hi + alpha_d * li_hi if has_ub else lm_hi,
                ]
            )
            if held is not None:
                yield (held, b"", b"")
            held = ipc_ser(st_rb)
            nb = rb.num_columns - n_state
            fields = [rb.schema.field(i) for i in range(nb)] + [
                st_rb.schema.field(j) for j in range(st_rb.num_columns)
            ]
            rb2 = pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(nb)] + list(st_rb.columns),
                schema=pa.schema(fields, metadata=rb.schema.metadata),
            )
            acc.add(
                rb2, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
        if held is None:
            return  # empty partition: no batches, no payload
        pay = acc.payload(wire32)
        yield (
            held,
            pay.column(0).to_pylist()[0],
            pay.column(1).to_pylist()[0],
        )

    return fn


class ElasticSparkKernel:
    # the solver's gram-reuse policy may call elastic_stats(need_gram=
    # False) — lagged-Jacobian iterations (solvers/elastic.py)
    supports_gram_skip = True

    def __init__(
        self, store, k: int, sum_w0: float, n: int,
        lb: float, ub: float, has_ub: bool, block_structure=None,
    ) -> None:
        self._store = store
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.lb = lb
        self.ub = ub
        self.has_ub = has_ub
        self.block_structure = block_structure
        # pending lazy commit parameters (lam, dlam, eta, mu_s, αp, αd) —
        # applied by the next elastic_stats as the fused pass, or flushed
        # into a chained lazy state swap by any other consumer
        self._pending = None
        # mixed-precision wire (r10): when True (the DEFAULT), the
        # stats payload tail is always float64.  The elastic solver
        # flips it per-iteration only under options={"payload_wire32":
        # True} — an opt-in for network-bound clusters, because the
        # measured local trade is negative: the f32 wire halves payload
        # bytes but the f32 step trajectory costs +1-2 IP iterations
        # (20M×100k: f64 5 iters / hybrid-1e3 7 / hybrid-1e4 6, steady
        # per-iteration within noise at 80 partitions — PLANS §16), and
        # an always-f32 wire stalls above tolerance and hits the
        # iteration cap.
        self._wire_full = True

    @classmethod
    def from_problem(
        cls,
        x_long: DataFrame,
        w0: DataFrame,
        k: int,
        *,
        bounds: tuple[float, float | None],
        ratio_guess: DataFrame | None = None,
        moment_groups: list[str] | None = None,
        known_sums: tuple[float, int] | None = None,
        prepacked: DataFrame | None = None,
    ) -> "ElasticSparkKernel":
        from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

        df, sum_w0, n = pack_rows(x_long, w0, known_sums, prepacked)
        lb = max(float(bounds[0]), 0.0)
        has_ub = bounds[1] is not None
        ub = float(bounds[1]) if has_ub else 0.0

        def state_of(ratio: np.ndarray) -> pa.RecordBatch:
            return _state_rb(
                [
                    ratio,
                    np.full(len(ratio), 0.05),
                    np.full(len(ratio), 0.05 if has_ub else 0.0),
                ]
            )

        # without a guess no job runs here: the solve's first pass
        # (elastic_g1's reduce over the zipped caches) materializes both
        store = BlobStore.build(
            df,
            k,
            n,
            ratio_guess=ratio_guess,
            state_of=state_of,
            bounds=(lb, ub if has_ub else None),
        )
        bs = BlockStructure.from_groups(moment_groups) if moment_groups else None
        return cls(store, k, sum_w0, n, lb, ub, has_ub, block_structure=bs)

    def _reduce(self, fn, big: bool = False, pairs=None, wire32: bool = False):
        if wire32:
            return self._store.reduce(
                fn,
                big,
                pairs=pairs,
                merge=_merge_payload_mixed,
                decode=lambda buf: _decode_sums(buf, True),
            )
        return self._store.reduce(fn, big, pairs=pairs)

    @property
    def gram_payload_bytes(self) -> int:
        """Per-partition gram payload size — the solver's gram-reuse
        auto-gate reads this (Σk_b²·8 blocked, K²·8 dense)."""
        return gram_bytes(self.k, self.block_structure)

    def set_wire_full(self, full: bool) -> None:
        """Precision hint from the solver loop: ``True`` forces the
        float64 payload wire for subsequent stats scans (the refinement
        endgame — a float32 step direction cannot push the residual the
        last decades to tolerance); ``False`` re-allows the float32 wire
        for large tails.  No-op for small-K problems (the size gate in
        :meth:`elastic_stats` already keeps those float64)."""
        self._wire_full = bool(full)

    def defer_validation(self) -> None:
        """Arm the fused V1 check on the first pass — ``elastic_g1``, the
        solve's first job, which also materializes both blob caches."""
        self._store.defer_validation()

    def elastic_g1(self) -> np.ndarray:
        self._flush_pending_lazy()
        sums, _ = self._reduce(_moment_totals_pass(self.k))
        return sums

    def elastic_stats(self, lam, eta, mu_s, *, need_gram: bool = True) -> EStats:
        """One stats scan.  ``need_gram=False`` is the lagged-Jacobian
        iteration (solvers/elastic.py gram-reuse policy): the pass skips
        the gram accumulate entirely — no Σk_b²/K² bincount CPU, no gram
        payload bytes — and the returned ``EStats.gram`` is ``None`` (the
        driver reuses its frozen copy).  Every residual/leg the
        convergence predicates and the RHS need is still computed
        exactly, so a skipped scan can never mis-report convergence."""
        k = self.k
        g_bytes = gram_bytes(k, self.block_structure) if need_gram else 0
        big = reduce_big(
            k,
            self.block_structure,
            self._store.num_partitions,
            gram_nbytes=g_bytes,
        )
        # float32 wire for the K-sized payload tail, gated on size so
        # every small-K (oracle-hashed) path stays bit-stable float64,
        # and on the solver's precision hint (f64 endgame — see
        # set_wire_full / solvers/elastic.py).
        wire32 = not self._wire_full and (
            3 * k * 8 + g_bytes
        ) >= _WIRE32_MIN_TAIL_BYTES
        skip_gram = not need_gram
        if self._pending is not None and self.n < _FUSED_MIN_ROWS:
            # Small-N: the fused pass's fixed costs exceed its bandwidth
            # savings (see _FUSED_MIN_ROWS) — flush the commit as a
            # chained LAZY swap (zero jobs; the stats scan below
            # materializes it through the RDD chain) and take the plain
            # stats path.
            self._flush_pending_lazy()
        if self._pending is not None:
            # Fused commit+stats: ONE pass over the zipped base and old
            # state whose persisted elements are the new state blobs +
            # partition payloads — the base cache crosses once, not twice
            # (r9).  Later passes zip this cache with the base at the JVM
            # level and the store's zip iterator unwraps the
            # (state, sums, mins) tuples.
            clam, cdlam, ceta, cmu_s, ap, ad = self._pending
            self._pending = None
            fused = self._store.commit(
                _ecommit_stats_pass(
                    k, clam, cdlam, ceta, cmu_s, ap, ad,
                    lam, eta, mu_s, self.lb, self.ub, self.has_ub,
                    blocks_tuple(self.block_structure), wire32,
                    skip_gram,
                )
            )
            payloads = fused.map(lambda t: (t[1], t[2])).filter(
                lambda t: len(t[0]) > 0
            )
            sums, mins = self._reduce(
                None, big=big, pairs=payloads, wire32=wire32
            )
        else:
            sums, mins = self._reduce(
                _estats_pass(
                    k, lam, eta, mu_s, self.lb, self.ub, self.has_ub,
                    blocks_tuple(self.block_structure), wire32, skip_gram,
                ),
                big=big,
                wire32=wire32,
            )
        (f_val, cd_sq, ci_sq, cs_sq, alt_sq, nan_ct,
         sl_sum, sl_sq, sl_cnt) = sums[:9]
        g1 = sums[9 : 9 + k]
        rhs_leg = sums[9 + k : 9 + 2 * k]
        rhs_mu_leg = sums[9 + 2 * k : 9 + 3 * k]
        gram = (
            gram_from_sums(sums[9 + 3 * k :], k, self.block_structure)
            if need_gram
            else None
        )
        return EStats(
            f_val=float(f_val),
            cd_sq=float(cd_sq),
            ci_sq=float(ci_sq),
            cs_sq=float(cs_sq),
            alt_sq=float(alt_sq),
            g1=g1,
            rhs_leg=rhs_leg,
            rhs_mu_leg=rhs_mu_leg,
            gram=gram,
            sl_sum=float(sl_sum),
            sl_sq=float(sl_sq),
            sl_min=float(mins[0]),
            sl_cnt=float(sl_cnt),
            lm_max=float(-mins[1]),
            has_nan=nan_ct > 0,
        )

    def elastic_step(self, lam, dlam, eta, mu_s) -> EStepStats:
        self._flush_pending_lazy()
        sums, mins = self._reduce(
            _estep_pass(
                self.k, lam, dlam, eta, mu_s, self.lb, self.ub, self.has_ub
            )
        )
        return EStepStats(
            rstep_sq=float(sums[0]),
            xt_rstep=sums[2 : 2 + self.k],
            ftb_slack=float(mins[0]),
            ftb_dual=float(mins[1]),
            has_nan=sums[1] > 0,
        )

    def _flush_pending_lazy(self) -> None:
        """Convert a pending commit into the chained lazy state swap (zero
        jobs) — for consumers other than ``elastic_stats`` (whose fused
        pass is the fast path the solver loop always takes: commit is
        invariably followed by stats there)."""
        if self._pending is None:
            return
        clam, cdlam, ceta, cmu_s, ap, ad = self._pending
        self._pending = None
        self._store.commit(
            _ecommit_state_pass(
                clam, cdlam, ceta, cmu_s, ap, ad, self.lb, self.ub, self.has_ub
            )
        )

    def elastic_commit(
        self, lam, dlam, eta, mu_s, alpha_p, alpha_d
    ) -> None:
        """Lazy transition — ZERO jobs here: the swapped-in state RDD
        materializes (commit transform + state-cache write, 24 B/row)
        inside the NEXT ``elastic_stats`` reduce, which also returns the
        post-commit slack/multiplier aggregates the μ/η rules need.  2 jobs
        per iteration total (stats, step), same shape as the Newton solver.

        The solver loop always follows a commit with ``elastic_stats``,
        which applies it as the FUSED commit+stats pass (one base
        crossing — see ``_ecommit_stats_pass``); any other next consumer
        flushes it into the r8-style chained lazy swap first."""
        if self._pending is not None:
            self._flush_pending_lazy()
        self._pending = (
            np.array(lam, dtype=float, copy=True),
            np.array(dlam, dtype=float, copy=True),
            float(eta),
            float(mu_s),
            float(alpha_p),
            float(alpha_d),
        )

    def new_weights(self) -> DataFrame:
        """(row_id, new_weight = ratio·w0) as a DataFrame."""
        self._flush_pending_lazy()

        def render(batches: Iterator[pa.RecordBatch]):
            for rb in batches:
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(rb.schema.get_field_index("row_id")),
                        pa.array(_rb_col(rb, "ratio") * _rb_col(rb, "w0")),
                    ],
                    ["row_id", "new_weight"],
                )

        return self._store.weights_df(render)

    def cleanup(self) -> None:
        self._pending = None
        self._store.cleanup()
