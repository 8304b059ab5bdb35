"""Distributed kernel: packed rows as pre-encoded Arrow blobs + batch passes.

Layout: one logical row per observation —
``(row_id BIGINT, w0 DOUBLE, idx ARRAY<INT>, val ARRAY<DOUBLE>)`` — i.e.
per-row CSR (the Spark rendering of the reference's package-wide CSR
canonicalization, ref: shared.py:11-12); q = w0/Σw0 and the analytic start
wstar are recomputed per pass, a materialized wstar column appears only
after a warm start or a materialized commit, and a dense ``[0..k)`` idx
pattern is elided per batch (``maybe_elide_idx``).  Packing happens
once; every solver iteration then runs whole-pass batch jobs that compute
ALL of the iteration's N→{scalar,K,K×K} reductions in a single scan (the
same fusion the reference gets from numexpr + MKL, ref:
ebw_routines.py:210-233), shipping only K- and K²-sized partials to the
driver.  The Arrow list arrays' offset buffers ARE the CSR encoding, read
zero-copy by ``_flatten_rb``; pandas conversion would materialize one
Python ndarray PER ROW per list column.

Cache representation (round 7): the packed rows are cached as an RDD of
**Arrow IPC byte blobs** (one element per record batch), not as a
DataFrame.  A `mapInArrow` scan over a cached DataFrame re-encodes the
Tungsten columnar cache into Arrow on EVERY pass — measured 10.2 s/pass at
N=20M K=8 — while a cached pre-encoded blob ships straight into the Python
worker and opens zero-copy: 1.6 s for the identical math
(PLANS.md §11; the elastic kernel found this first).  The blob caches of
all three distributed kernels live in ``kernels/blobstore.py``; this module
keeps the blob format (elision, IPC, partition sizing), the per-batch math
the kernels share, and the Newton kernel's own passes.

Why whole-pass batch jobs and not joins/explodes: the per-iteration
primitives (segment dot products, Gram accumulation) are BLAS-shaped;
exploding the arrays back to long form would shuffle N·nnz rows per
iteration, while this design shuffles nothing after setup — partials are
partition-local and only K²-sized buffers cross the driver boundary
(SURVEY §3.4).

State commits are a DRIVER-SIDE program update in the common case: the
iterate is a short op-chain (``exp`` for dual steps, ``lin`` for primal
steps) replayed against the immutable once-cached base by every pass, so
no N-row cache is ever rewritten mid-solve (2 map-only jobs per
iteration, zero cache churn).  Only a long primal chain (or a warm-start
state) falls back to a lazy persisted blob rewrite, materialized by the
NEXT stats scan; the store truncates lineage every few such commits so
long solves never grow an unbounded plan — the classic iterative-MLlib
pitfall (SURVEY §4 caching note).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.kernels.base import IterStats, StepStats

# Dense-idx elision: when every row of a batch has idx == [0..k), the idx
# list column is pure redundancy — k·4 B/row (a quarter of a k=8 blob)
# paid on every crossing and in the cache.  The encode drops the column
# and stamps k in the schema metadata; _flatten_rb resynthesizes the flat
# index vector (np.tile) for the cost of one allocation per pass.
DENSE_IDX_META = b"ebw_dense_k"


def maybe_elide_idx(rb: pa.RecordBatch, k: int) -> pa.RecordBatch:
    """Drop the ``idx`` column from a packed batch when it is exactly the
    dense ``[0..k)`` pattern on every row (stamped in schema metadata for
    :func:`_flatten_rb` to resynthesize); returns ``rb`` unchanged for any
    other sparsity pattern."""
    i = rb.schema.get_field_index("idx")
    if i < 0 or k <= 0:
        return rb
    idx = rb.column(i)
    lens = pc.list_value_length(idx).to_numpy().astype(np.int64, copy=False)
    if lens.size == 0 or not (lens == k).all():
        return rb
    flat = idx.flatten().to_numpy(zero_copy_only=False)
    if not np.array_equal(
        flat, np.tile(np.arange(k, dtype=flat.dtype), lens.size)
    ):
        return rb
    arrays = [rb.column(j) for j in range(rb.num_columns) if j != i]
    fields = [rb.schema.field(j) for j in range(rb.num_columns) if j != i]
    meta = dict(rb.schema.metadata or {})
    meta[DENSE_IDX_META] = str(k).encode()
    return pa.RecordBatch.from_arrays(
        arrays, schema=pa.schema(fields, metadata=meta)
    )

# Scale-adaptive blob partitioning (r13 optimization, guide §2.2 "fewer,
# larger partitions"): an iteration pass's per-task numpy work on a
# ~19k-row blob is sub-millisecond, so at small N the per-task fixed cost
# (scheduling + Python-worker round trip) dominates every pass — measured
# 276 ms/job at 32 partitions vs 162 ms at 4 for identical work on this
# box.  Packing therefore coalesces the encoded blobs down to
# ceil(N / rows-per-partition) partitions (shuffle=True so the ENCODE
# still runs at full input parallelism and only the finished blobs move,
# once, at setup).  At real scale N/rows_target >> defaultParallelism, the
# target clamps to the core count, the condition p < current is false and
# the coalesce never fires — cluster plans are unchanged.
_BLOB_ROWS_PER_PARTITION_CONF = "spark.ebw.blobRowsPerPartition"
_BLOB_ROWS_PER_PARTITION_DEFAULT = 150_000


def adaptive_blob_partitions(spark, n: int, current: int) -> int | None:
    """Target blob-partition count for an N-row packed problem, or None
    when the current partitioning should stand (large problems, or the
    knob disabled with a non-positive value)."""
    try:
        rows_target = int(
            spark.conf.get(
                _BLOB_ROWS_PER_PARTITION_CONF,
                str(_BLOB_ROWS_PER_PARTITION_DEFAULT),
            )
        )
    except Exception as exc:
        warnings.warn(
            f"{_BLOB_ROWS_PER_PARTITION_CONF} unreadable ({exc!r}); sizing "
            f"blob partitions at the default {_BLOB_ROWS_PER_PARTITION_DEFAULT}"
            " rows per partition",
            RuntimeWarning,
            stacklevel=2,
        )
        rows_target = _BLOB_ROWS_PER_PARTITION_DEFAULT
    if rows_target <= 0 or n <= 0:
        return None
    par = max(spark.sparkContext.defaultParallelism, 1)
    p = max(1, -(-n // rows_target))
    if p > par:
        # not a small problem: N already exceeds rows_target per core —
        # moving blobs around would shuffle real data for no pass savings
        return None
    return p if p < current else None

def ipc_ser(rb: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, rb.schema) as w:
        w.write_batch(rb)
    return sink.getvalue().to_pybytes()


def ipc_deser(b: bytes) -> pa.RecordBatch:
    return pa.ipc.open_stream(pa.BufferReader(b)).read_next_batch()


def _flatten_rb(rb: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow-native CSR pieces — zero-copy flat buffers straight from the
    list arrays' offsets.  The pandas route materializes one Python
    ndarray object PER ROW for each array column; at millions of rows that
    conversion dominates the whole pass, so every kernel pass runs on
    ``mapInArrow`` and reads the batch columns directly."""
    val = rb.column(rb.schema.get_field_index("val"))
    flat_val = val.flatten().to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False
    )
    i = rb.schema.get_field_index("idx")
    if i < 0:  # dense-elided batch: resynthesize [0..k) per row
        k = int((rb.schema.metadata or {})[DENSE_IDX_META])
        lens = np.full(rb.num_rows, k, dtype=np.int64)
        flat_idx = np.tile(np.arange(k, dtype=np.int64), rb.num_rows)
        return flat_idx, flat_val, lens
    idx = rb.column(i)
    lens = pc.list_value_length(idx).to_numpy().astype(np.int64, copy=False)
    flat_idx = idx.flatten().to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    return flat_idx, flat_val, lens


def _rb_col(rb: pa.RecordBatch, name: str) -> np.ndarray:
    # Blob schemas are variable (wstar/dense-idx columns are conditional
    # since r8), and get_field_index returns -1 for a missing name — which
    # rb.column() silently resolves to the LAST column. Guard it.
    i = rb.schema.get_field_index(name)
    if i < 0:
        raise KeyError(
            f"blob batch is missing required column {name!r} "
            f"(has: {rb.schema.names})"
        )
    return rb.column(i).to_numpy(zero_copy_only=False)


def _rb_q(rb: pa.RecordBatch, sum_w0: float) -> np.ndarray:
    """Start weights q = w0/Σw0 — recomputed from the blob's w0 column
    (one divide per row; blobs stopped carrying a q column in r8)."""
    return _rb_col(rb, "w0") / sum_w0


def _segsum(prod: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Row-wise sums of a flat product vector (handles empty rows)."""
    cs = np.concatenate(([0.0], np.cumsum(prod)))
    ends = np.cumsum(lens)
    return cs[ends] - cs[ends - lens]


def _xt_v(flat_idx, flat_val, lens, v, k) -> np.ndarray:
    """X_batch^T v — scatter-add into a K-vector."""
    if flat_idx.size == 0:
        return np.zeros(k)
    return np.bincount(flat_idx, weights=flat_val * np.repeat(v, lens), minlength=k)


def _x_dot(flat_idx, flat_val, lens, lam) -> np.ndarray:
    """X_batch · λ — per-row dot products."""
    if flat_idx.size == 0:
        return np.zeros(len(lens))
    return _segsum(flat_val * lam[flat_idx], lens)


def _gram_accum_blocks(
    flat_idx, flat_val, lens, d, block_of, local, sizes, flat_offsets, out: np.ndarray
) -> None:
    """out += per-block Gram contributions (flat Σk_b² layout).

    The huge-K path: every row's nonzeros live in ONE block (group-specific
    moments never co-occur, SURVEY A10/§7.2), so its outer product scatters
    into that block's dense k_b×k_b tile.  Rows are processed grouped by
    nnz-length so the pairwise products vectorize; accumulation is a single
    bincount over flat tile coordinates.  Nothing K²-sized ever exists.
    """
    n = len(lens)
    if flat_idx.size == 0 or n == 0:
        return
    ends = np.cumsum(lens)
    starts = ends - lens
    for m in np.unique(lens):
        if m == 0:
            continue
        sel = np.where(lens == m)[0]
        gidx = starts[sel][:, None] + np.arange(m)[None, :]  # (nr, m)
        idx = flat_idx[gidx]  # moment ids
        val = flat_val[gidx]
        loc = local[idx]
        blk = block_of[idx[:, 0]]  # one block per row (structural invariant)
        kb = sizes[blk]
        off = flat_offsets[blk]
        prods = val[:, :, None] * val[:, None, :] * d[sel][:, None, None]
        keys = (
            off[:, None, None]
            + loc[:, :, None] * kb[:, None, None]
            + loc[:, None, :]
        )
        out += np.bincount(
            keys.ravel(), weights=prods.ravel(), minlength=len(out)
        )


def make_gram_accum(k: int, blocks):
    """(buffer, add_fn) pair for a pass: dense K×K scratch when ``blocks``
    is None, else the flat Σk_b² block accumulator.  Shared by every
    kernel's stats pass so all three solvers get the large-K path."""
    if blocks is None:
        buf = np.zeros((k, k))

        def add(flat_idx, flat_val, lens, d):
            _gram_accum(flat_idx, flat_val, lens, d, k, buf)

    else:
        block_of, local, sizes, flat_offsets, total_flat = blocks
        buf = np.zeros(total_flat)

        def add(flat_idx, flat_val, lens, d):
            _gram_accum_blocks(
                flat_idx, flat_val, lens, d, block_of, local, sizes,
                flat_offsets, buf,
            )

    return buf, add


_TREE_REDUCE_BYTES = 8 << 20  # payloads past this merge executor-side
# Plain collect ships ONE payload PER PARTITION to the driver; past this
# aggregate budget the reduce must go executor-side even when each payload
# is individually small.  Found at N=100M × K=100k grouped (r8): 400
# partitions × ~3.2 MB payloads (2 K-vectors + Σk_b² gram) = 1.28 GB blew
# the 1 GiB spark.driver.maxResultSize default mid-solve.  256 MiB keeps
# 4× headroom under that default.
_COLLECT_BUDGET_BYTES = 256 << 20


def gram_bytes(k: int, block_structure) -> int:
    """Size of a stats pass's gram payload: K² doubles dense, Σk_b² with
    block structure."""
    if block_structure is not None:
        return int(block_structure.total_flat) * 8
    return k * k * 8


def reduce_big(
    k: int, block_structure, n_parts: int, *, gram_nbytes: int | None = None
) -> bool:
    """Whether a kernel reduce must merge executor-side (treeReduce):
    either one payload is large, or n_partitions × payload would overrun
    the driver's collect budget.  Payload bound: a handful of scalars +
    up to 8 K-vectors + the gram buffer (generous for every pass shape
    across the three kernels).  ``gram_nbytes`` overrides the gram term
    (0 for a gram-skipped stats scan — see the elastic kernel's lagged-
    Jacobian path)."""
    if gram_nbytes is None:
        gram_nbytes = gram_bytes(k, block_structure)
    per_part = (32 + 8 * k) * 8 + gram_nbytes
    return (
        per_part > _TREE_REDUCE_BYTES
        or per_part * max(n_parts, 1) > _COLLECT_BUDGET_BYTES
    )


def gram_from_sums(flat: np.ndarray, k: int, block_structure):
    """Driver-side decode of a packed gram buffer: BlockGram or dense."""
    if block_structure is not None:
        from entropy_balance_weighting_spark.solvers.linalg import BlockGram

        return BlockGram(structure=block_structure, flat=flat)
    return flat.reshape(k, k)


def blocks_tuple(block_structure):
    """Closure-serializable view of a BlockStructure (or None)."""
    if block_structure is None:
        return None
    return (
        block_structure.block_of,
        block_structure.local,
        block_structure.sizes,
        block_structure.flat_offsets,
        block_structure.total_flat,
    )


def _gram_accum(flat_idx, flat_val, lens, d, k, out: np.ndarray) -> None:
    """out += X_batch^T Diag(d) X_batch via chunked densify + BLAS syrk-shape.

    Chunk size adapts to K so the dense scratch stays ~32 MB; the
    block-diagonal huge-K regime (group moments) takes
    :func:`_gram_accum_blocks` instead.
    """
    n = len(lens)
    if flat_idx.size == 0 or n == 0:
        return
    chunk = max(256, int(4_000_000 / max(k, 1)))
    ends = np.cumsum(lens)
    starts = ends - lens
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        rows = hi - lo
        s, e = starts[lo], ends[hi - 1]
        xc = np.zeros((rows, k))
        rr = np.repeat(np.arange(rows), lens[lo:hi])
        xc[rr, flat_idx[s:e]] = flat_val[s:e]
        out += (xc * d[lo:hi, None]).T @ xc


def pack_rows(
    x_long: DataFrame,
    w0: DataFrame,
    known_sums: tuple[float, int] | None = None,
    prepacked: DataFrame | None = None,
) -> tuple[DataFrame, float, int]:
    """Pack the canonical long tables into per-row CSR; returns
    (packed, Σw0, n).

    With ``prepacked`` (the data layer's projection-derived
    ``(row_id, w0, idx, val)``) this is a pure narrow plan — the solver
    runs ZERO shuffles end-to-end.  Otherwise the generic explode+groupBy
    path performs the one co-partitioning shuffle (any x_long source, e.g.
    a loaded bundle).  Rows absent from x_long get empty arrays.
    ``known_sums=(Σw0, n)`` skips the aggregation job when the data layer
    already computed them at build time."""
    if known_sums is not None:
        sum_w0, n = float(known_sums[0]), int(known_sums[1])
    else:
        sums = (prepacked if prepacked is not None else w0).agg(
            F.sum("w0").alias("s"), F.count(F.lit(1)).alias("n")
        ).first()
        sum_w0, n = float(sums["s"]), int(sums["n"])
    if prepacked is not None:
        return prepacked.select("row_id", "w0", "idx", "val"), sum_w0, n
    packed_x = (
        x_long.groupBy("row_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("moment_id", "value"))).alias("mv")
        )
        .select(
            "row_id",
            F.col("mv").getField("moment_id").alias("idx"),
            F.col("mv").getField("value").alias("val"),
        )
    )
    df = (
        w0.select("row_id", "w0")
        .join(packed_x, "row_id", "left")
        .select(
            "row_id",
            "w0",
            F.coalesce("idx", F.expr("array()").cast("array<int>")).alias("idx"),
            F.coalesce("val", F.expr("array()").cast("array<double>")).alias("val"),
        )
    )
    return df, sum_w0, n


def _pack_rb(sums: list[float | np.ndarray], mins: list[float]) -> pa.RecordBatch:
    sbuf = np.concatenate(
        [np.atleast_1d(np.asarray(x, dtype=np.float64)).ravel() for x in sums]
    )
    mbuf = np.asarray(mins, dtype=np.float64)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([sbuf.tobytes()], type=pa.binary()),
            pa.array([mbuf.tobytes()], type=pa.binary()),
        ],
        ["sums", "mins"],
    )


def _w_state(rb, q, flat_idx, flat_val, lens, wprog):
    """Current weight-state vector for a batch.

    ``wprog`` is the kernel's analytic weight program (see
    SparkKernel.commit): a short driver-side list of ops replayed against
    the immutable base, so commits never rewrite the N-row cache —
    ``("exp", λ)`` renders the dual iterate ``q·exp(X·λ)``;
    ``("lin", α, λ, Δλ)`` applies a primal update
    ``w·(1 + α·(X·Δλ − cd))`` with ``cd = log(w/q) − X·λ``.
    ``wprog=None`` → the state is the materialized ``wstar`` column."""
    if wprog is None:
        return _rb_col(rb, "wstar")
    w = None
    with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
        for op in wprog:
            if op[0] == "exp":
                w = q * np.exp(_x_dot(flat_idx, flat_val, lens, op[1]))
            else:
                _, alpha, lam_v, dlam_v = op
                cd = np.log(w / q) - _x_dot(flat_idx, flat_val, lens, lam_v)
                w = w + alpha * (_x_dot(flat_idx, flat_val, lens, dlam_v) - cd) * w
    return w


def _stats_pass(
    k: int,
    lam: np.ndarray,
    blocks=None,
    wprog=None,
    sum_w0: float = 1.0,
) -> Callable:
    """``blocks``: None → dense K×K Gram scratch; else the
    (block_of, local, sizes, flat_offsets, total_flat) arrays → flat Σk_b²
    per-block accumulation (the huge-K path)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        f_val = 0.0
        cd_sq = 0.0
        nan_ct = 0.0
        xt_w = np.zeros(k)
        xt_wcd = np.zeros(k)
        gram, gram_add = make_gram_accum(k, blocks)
        min_w = np.inf
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            q = _rb_q(rb, sum_w0)
            w = _w_state(rb, q, flat_idx, flat_val, lens, wprog)
            r = w / q
            with np.errstate(divide="ignore", invalid="ignore"):
                lr = np.log(r)
                f_val += float(np.sum(w0 * (r * lr - r + 1.0)))
                cd = lr - _x_dot(flat_idx, flat_val, lens, lam)
            bad = ~np.isfinite(cd)
            nan_ct += float(bad.sum())
            cdf = np.where(bad, 0.0, cd)
            cd_sq += float(cdf @ cdf)
            xt_w += _xt_v(flat_idx, flat_val, lens, w, k)
            xt_wcd += _xt_v(flat_idx, flat_val, lens, w * cdf, k)
            gram_add(flat_idx, flat_val, lens, w)
            if len(w):
                min_w = min(min_w, float(w.min()))
        yield _pack_rb([f_val, cd_sq, nan_ct, xt_w, xt_wcd, gram], [min_w])

    return fn


def _step_pass(
    k: int,
    lam: np.ndarray,
    dlam: np.ndarray,
    wprog=None,
    sum_w0: float = 1.0,
    spec_lam_new: np.ndarray | None = None,
    blocks=None,
) -> Callable:
    """Step reductions (A2/A6), optionally fused with SPECULATIVE stats of
    the α=1 primal candidate (r13 optimization, guide §1.2 "remove passes").

    Measured on both unbounded bench problems (sf0.1): every commit is
    ``primal`` with ``alpha == 1.0`` exactly (the fraction-to-boundary
    never binds on well-conditioned problems).  The post-commit state is
    then ``w + (X·Δλ − cd)·w`` — α-independent — so this pass can compute
    the NEXT iteration's full IterStats in the same scan, and the kernel
    skips that stats job entirely when the driver indeed commits primal at
    α=1.  Bit-exactness: ``w_new = w + dw`` with the RAW ``dw`` equals the
    ``_w_state`` lin-replay at α=1 (multiplying by 1.0 is an IEEE
    identity), and every speculative accumulator below mirrors
    ``_stats_pass`` expression by expression, so a hit returns the same
    bits the real pass would — iteration counts and weights cannot drift.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dw_sq = 0.0
        nan_ct = 0.0
        xt_dw = np.zeros(k)
        xt_wdual = np.zeros(k)
        alpha_raw = np.inf
        min_wdual = np.inf
        spec = spec_lam_new is not None
        if spec:
            s_f_val = 0.0
            s_cd_sq = 0.0
            s_nan_ct = 0.0
            s_xt_w = np.zeros(k)
            s_xt_wcd = np.zeros(k)
            s_gram, s_gram_add = make_gram_accum(k, blocks)
            s_min_w = np.inf
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            q = _rb_q(rb, sum_w0)
            w = _w_state(rb, q, flat_idx, flat_val, lens, wprog)
            xlam = _x_dot(flat_idx, flat_val, lens, lam)
            xdl = _x_dot(flat_idx, flat_val, lens, dlam)
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                cd = np.log(w / q) - xlam
                dw = (xdl - cd) * w
                wdual = q * np.exp(xlam + xdl)
            bad = ~np.isfinite(dw) | ~np.isfinite(wdual)
            nan_ct += float(bad.sum())
            dwf = np.where(np.isfinite(dw), dw, 0.0)
            blocked = dwf < 0
            if blocked.any():
                alpha_raw = min(alpha_raw, float(np.min(-w[blocked] / dwf[blocked])))
            dw_sq += float(dwf @ dwf)
            xt_dw += _xt_v(flat_idx, flat_val, lens, dwf, k)
            wdf = np.where(np.isfinite(wdual), wdual, 0.0)
            xt_wdual += _xt_v(flat_idx, flat_val, lens, wdf, k)
            if len(wdf):
                min_wdual = min(min_wdual, float(wdf.min()))
            if spec:
                # α=1 primal candidate, exactly as the lin-replay renders it
                w_new = w + dw
                w0 = _rb_col(rb, "w0")
                r = w_new / q
                with np.errstate(divide="ignore", invalid="ignore"):
                    lr = np.log(r)
                    s_f_val += float(np.sum(w0 * (r * lr - r + 1.0)))
                    s_cd = lr - _x_dot(flat_idx, flat_val, lens, spec_lam_new)
                s_bad = ~np.isfinite(s_cd)
                s_nan_ct += float(s_bad.sum())
                s_cdf = np.where(s_bad, 0.0, s_cd)
                s_cd_sq += float(s_cdf @ s_cdf)
                s_xt_w += _xt_v(flat_idx, flat_val, lens, w_new, k)
                s_xt_wcd += _xt_v(flat_idx, flat_val, lens, w_new * s_cdf, k)
                s_gram_add(flat_idx, flat_val, lens, w_new)
                if len(w_new):
                    s_min_w = min(s_min_w, float(w_new.min()))
        sums = [dw_sq, nan_ct, xt_dw, xt_wdual]
        mins = [alpha_raw, min_wdual]
        if spec:
            sums += [s_f_val, s_cd_sq, s_nan_ct, s_xt_w, s_xt_wcd, s_gram]
            mins += [s_min_w]
        yield _pack_rb(sums, mins)

    return fn


def _commit_pass(
    choice: str,
    lam: np.ndarray,
    dlam: np.ndarray,
    alpha: float,
    wprog=None,
    sum_w0: float = 1.0,
) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                yield rb
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            q = _rb_q(rb, sum_w0)
            xlam = _x_dot(flat_idx, flat_val, lens, lam)
            if choice == "primal":
                w = _w_state(rb, q, flat_idx, flat_val, lens, wprog)
                xdl = _x_dot(flat_idx, flat_val, lens, dlam)
                cd = np.log(w / q) - xlam
                new_w = w + alpha * (xdl - cd) * w
            else:
                xdl = _x_dot(flat_idx, flat_val, lens, dlam)
                new_w = q * np.exp(xlam + xdl)
            arrays = [rb.column(i) for i in range(rb.num_columns)]
            i_w = rb.schema.get_field_index("wstar")
            w_arr = pa.array(new_w, type=pa.float64())
            if i_w >= 0:
                arrays[i_w] = w_arr
                yield pa.RecordBatch.from_arrays(arrays, schema=rb.schema)
            else:
                # base blobs stop carrying wstar (r8 narrow blob); the
                # first materialized commit appends it, preserving the
                # schema metadata (the dense-idx elision stamp).
                arrays.append(w_arr)
                fields = [
                    *(rb.schema.field(j) for j in range(rb.num_columns)),
                    pa.field("wstar", pa.float64()),
                ]
                yield pa.RecordBatch.from_arrays(
                    arrays,
                    schema=pa.schema(fields, metadata=rb.schema.metadata),
                )

    return fn


class SparkKernel:
    """Distributed kernel over the packed rows, cached as Arrow IPC blobs.

    With ``moment_groups`` metadata (every moment group-specific), the
    per-iteration Gram is accumulated block-diagonally: Σk_b² floats per
    task instead of K² — the path that reaches the reference's
    'hundreds of thousands of constraints' regime (ref: README.md:8).

    Iteration job fusion: ``commit`` only DECLARES the state transition
    (lazy blob rewrite + persist); the very next ``stats`` job both
    materializes the new state into the cache and computes its reductions
    in a single scan — 2 jobs per iteration instead of 3.  The blob cache
    and its lifecycle live in a :class:`BlobStore` without split state."""

    def __init__(
        self, store, k: int, sum_w0: float, n: int, block_structure=None
    ) -> None:
        self._store = store
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.block_structure = block_structure
        # Analytic weight state: when set, the TRUE iterate is the replay
        # of this short op-program against the immutable base (see
        # ``_w_state``) and the cached wstar column may be stale — commits
        # are then a driver-side list update, never a cache rewrite.
        self._wprog: list | None = None
        self._prev_wprog: list | None = None
        self._last_commit: str | None = None
        # Speculative α=1 primal stats (r13 optimization): the step pass
        # fuses the NEXT iteration's stats reductions for the α=1 primal
        # candidate; ``commit`` marks the stash live when the driver indeed
        # commits primal at exactly α=1 with an analytic program append,
        # and ``stats`` then returns it with ZERO Spark jobs.  Two
        # prediction misses (dual commit or α<1) disable speculation for
        # the rest of the solve, bounding wasted work on problems where
        # the fraction-to-boundary binds.  Conf kill switch for A/B:
        # spark.ebw.speculativeStats=false.
        self._spec: dict | None = None
        self._spec_misses = 0
        self._spec_conf = (
            str(
                store.spark.conf.get("spark.ebw.speculativeStats", "true")
            ).lower()
            != "false"
        )
        self.spec_hits = 0  # observable for tests/diagnostics

    @classmethod
    def from_problem(
        cls,
        x_long: DataFrame,
        w0: DataFrame,
        k: int,
        *,
        ratio_guess: DataFrame | None = None,
        moment_groups: list[str] | None = None,
        known_sums: tuple[float, int] | None = None,
        prepacked: DataFrame | None = None,
    ) -> "SparkKernel":
        """Pack the canonical long tables into per-row CSR — the one setup
        shuffle; every subsequent iteration is shuffle-free.

        r8 pack-cost work (PLANS.md §13): the blob carries only
        ``(row_id, w0, idx?, val)`` — q and the analytic start wstar are
        recomputed per pass (one divide), a dense ``[0..k)`` idx pattern
        is elided per batch (:func:`maybe_elide_idx`), and the persist is
        LAZY: the first stats reduce materializes encode+cache+reductions
        in one job instead of a separate pack scan."""
        # imported here: blobstore builds on this module's blob format
        from entropy_balance_weighting_spark.kernels.blobstore import BlobStore
        from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

        df, sum_w0, n = pack_rows(x_long, w0, known_sums, prepacked)
        store = BlobStore.build(
            df,
            k,
            n,
            ratio_guess=ratio_guess,
            # warm start: the materialized state q·ratio rides the base
            wstar=None
            if ratio_guess is None
            else lambda rb: _rb_col(rb, "w0") / sum_w0 * _rb_col(rb, "ratio"),
        )
        bs = (
            BlockStructure.from_groups(moment_groups) if moment_groups else None
        )
        kern = cls(store, k, sum_w0, n, block_structure=bs)
        if ratio_guess is None:
            # wstar = q = q·exp(X·0): the start point is analytic
            kern._wprog = [("exp", np.zeros(k))]
        return kern

    def materialize(self) -> None:
        """Force the (lazy) blob cache to build now.  The solve path never
        needs this — the first stats reduce materializes encode + cache +
        reductions in ONE job — but benches/tests that want the pack cost
        on its own line call it explicitly."""
        self._store.base.count()

    def init_state(self, ratio_guess=None) -> None:
        if ratio_guess is not None:
            raise ValueError(
                "SparkKernel takes the ratio guess at construction (from_problem)"
            )

    # -- passes ------------------------------------------------------------
    def _reduce(self, fn, big: bool = False) -> tuple[np.ndarray, np.ndarray]:
        return self._store.reduce(fn, big)

    @property
    def _gram_big(self) -> bool:
        return reduce_big(self.k, self.block_structure, self._store.num_partitions)

    def defer_validation(self) -> None:
        """Arm the fused V1 check on the first pass (see BlobStore)."""
        self._store.defer_validation()

    def _iter_stats(self, sums: np.ndarray, min_w: float) -> IterStats:
        """Decode a stats payload (``_stats_pass`` layout, also the
        speculative tail of ``_step_pass``)."""
        k = self.k
        return IterStats(
            f_val=float(sums[0]),
            xt_w=sums[3 : 3 + k],
            cd_sq=float(sums[1]),
            xt_wcd=sums[3 + k : 3 + 2 * k],
            gram=gram_from_sums(sums[3 + 2 * k :], k, self.block_structure),
            min_w=float(min_w),
            has_nan=sums[2] > 0,
        )

    def stats(self, lam: np.ndarray) -> IterStats:
        if (
            self._spec is not None
            and self._spec["committed"]
            and np.array_equal(lam, self._spec["lam_new"])
        ):
            # speculative hit: the step pass already computed these exact
            # reductions on the committed α=1 primal state — zero jobs
            out = self._spec["stats"]
            self._spec = None
            self.spec_hits += 1
            return out
        self._spec = None
        sums, mins = self._reduce(
            _stats_pass(
                self.k,
                lam,
                blocks_tuple(self.block_structure),
                self._wprog,
                self.sum_w0,
            ),
            big=self._gram_big,
        )
        return self._iter_stats(sums, mins[0])

    def step_stats(self, lam: np.ndarray, dlam: np.ndarray) -> StepStats:
        k = self.k
        speculate = self._spec_conf and self._spec_misses < 2
        lam_new = np.asarray(lam + dlam, dtype=np.float64) if speculate else None
        sums, mins = self._reduce(
            _step_pass(
                k,
                lam,
                dlam,
                self._wprog,
                self.sum_w0,
                spec_lam_new=lam_new,
                blocks=blocks_tuple(self.block_structure) if speculate else None,
            ),
            # the speculative payload carries a gram: use the same reduce
            # topology the stats pass uses so a hit's merge order is
            # identical to what the real stats pass would have produced
            big=self._gram_big if speculate else False,
        )
        self._spec = None
        if speculate:
            self._spec = {
                "lam": np.asarray(lam, dtype=np.float64).copy(),
                "dlam": np.asarray(dlam, dtype=np.float64).copy(),
                "lam_new": lam_new,
                "committed": False,
                "stats": self._iter_stats(sums[2 + 2 * k :], mins[2]),
            }
        return StepStats(
            alpha_raw=float(mins[0]),
            xt_dw=sums[2 : 2 + k],
            dw_sq=float(sums[0]),
            xt_wdual=sums[2 + k : 2 + 2 * k],
            min_wdual=float(mins[1]),
            has_nan=sums[1] > 0,
        )

    # Analytic ops before a primal chain is materialized.  Raised 4 → 8 in
    # r13: the speculative stats fusion changed the economics — each
    # materialization now costs a full blob re-encode + persist AND loses
    # one fused iteration (its stats pass must run for real), so short
    # solves (typical Newton counts are 3–10) should never materialize.
    # The price is up to 7 replayed lin ops per pass (2 dots + a log
    # each) on solves that do run long — linear in chain length and paid
    # only past iteration 8.  Values are identical either way (the
    # materialized wstar stores exactly what the replay computes —
    # pinned by tests/test_speculative_stats.py); this is purely a
    # rewrite-avoidance knob.
    _MAX_PROG = 8

    def commit(self, choice: str, lam: np.ndarray, dlam: np.ndarray, alpha: float) -> None:
        """Advance the iterate — a driver-side program update, NOT a cache
        rewrite, in the common case.

        ``dual``: the new state is ``q·exp(X·(λ+Δλ))`` — a pure function
        of a driver-side vector, so the commit resets the analytic program
        to a single ``exp`` op with ZERO Spark work.

        ``primal``: ``w·(1 + α·(X·Δλ − cd))`` depends on the current
        weights; while the state is analytic, the update is appended to the
        program (one extra dot-product replayed per pass).  Only when the
        primal chain outgrows ``_MAX_PROG`` — or the state was already
        materialized (warm start) — is a LAZY cache rewrite declared
        (``mapInArrow`` + persist), which the next ``stats`` reduce
        materializes in the same scan that computes its reductions.

        Either way the packed base stays immutable and checkpointed once;
        passes recompute the iterate from it in the same scan as their
        reductions.  No extra min-job: zero-weight detection uses the step
        pass's ``min_wdual`` (dual candidate) and the next stats pass's
        ``min_w`` (primal underflow)."""
        self._prev_wprog = self._wprog
        if choice == "dual":
            if self._spec is not None:
                # prediction miss: the speculative α=1 primal stats were
                # computed but the driver committed the dual candidate
                self._spec = None
                self._spec_misses += 1
            self._last_commit = "analytic"
            self._wprog = [("exp", np.asarray(lam + dlam, dtype=np.float64))]
            return
        if self._wprog is not None and len(self._wprog) < self._MAX_PROG:
            if self._spec is not None:
                if (
                    alpha == 1.0
                    and np.array_equal(lam, self._spec["lam"])
                    and np.array_equal(dlam, self._spec["dlam"])
                ):
                    # the committed state IS the speculated candidate: the
                    # next stats() call returns the stash with zero jobs
                    self._spec["committed"] = True
                else:
                    self._spec = None
                    self._spec_misses += 1
            self._last_commit = "analytic"
            self._wprog = [
                *self._wprog,
                (
                    "lin",
                    float(alpha),
                    np.asarray(lam, dtype=np.float64),
                    np.asarray(dlam, dtype=np.float64),
                ),
            ]
            return
        # materialized commit: the next stats pass must run for real (it
        # materializes the rewritten cache and releases the superseded
        # one), so the stash is unusable here — dropped without a miss
        # penalty (the prediction itself was not wrong)
        self._spec = None
        self._last_commit = "materialized"
        pass_fn = _commit_pass(choice, lam, dlam, alpha, self._wprog, self.sum_w0)
        self._store.commit(lambda batches: map(ipc_ser, pass_fn(batches)))
        self._wprog = None

    def rollback(self) -> None:
        """Undo the last commit: restore the pre-commit state (reference
        semantics — a zero-weight step fails BEFORE committing,
        ebw_routines.py:274-282).  An analytic commit is undone by
        restoring the previous program; a materialized commit's pre-commit
        cache was released by the stats reduce, so that path recomputes via
        lineage — paid only on the failure path."""
        if self._last_commit is None:
            raise RuntimeError("no committed step to roll back")
        self._spec = None  # stale by definition after an undo
        if self._last_commit == "analytic":
            self._wprog = self._prev_wprog
            self._last_commit = None
            return
        self._store.rollback()
        self._wprog = self._prev_wprog
        self._last_commit = None

    def new_weights(self) -> DataFrame:
        sum_w0 = self.sum_w0
        wprog = self._wprog

        def render(batches: Iterator[pa.RecordBatch]):
            for rb in batches:
                flat_idx, flat_val, lens = _flatten_rb(rb)
                q = _rb_q(rb, sum_w0)
                w = _w_state(rb, q, flat_idx, flat_val, lens, wprog)
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(rb.schema.get_field_index("row_id")),
                        pa.array(w * sum_w0, type=pa.float64()),
                    ],
                    ["row_id", "new_weight"],
                )

        return self._store.weights_df(render)

    def cleanup(self) -> None:
        self._store.cleanup()
