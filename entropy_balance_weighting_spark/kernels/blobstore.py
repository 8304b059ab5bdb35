"""The cached blob RDDs of one distributed solve, in one place.

Every Spark kernel (``SparkKernel``, ``ElasticSparkKernel``,
``PenaltySparkKernel``) keeps its packed rows as an RDD of **Arrow IPC
blobs**, one element per record batch: a cached pre-encoded blob ships
straight into the Python worker and opens zero-copy, where a ``mapInArrow``
scan over a cached DataFrame re-encodes the columnar cache on every pass
(PLANS.md §11).  :class:`BlobStore` owns every decision about those RDDs;
the kernels keep only their per-batch math and fusion logic.

- **base** — ``(row_id, w0, idx, val)`` per batch, dense ``[0..k)`` idx
  elided (:func:`maybe_elide_idx`), encoded once at full input parallelism,
  coalesced for small problems (:func:`adaptive_blob_partitions`) and
  persisted lazily: the first reduce materializes encode, cache and
  reductions in one job.
- **state** (split-state kernels) — aligned blobs of the mutable columns
  only, paired with the base through a narrow ``RDD.zip``: legal because
  the state is derived element-for-element from the base, and cheap
  because a commit re-caches only the state bytes.  Without a start guess
  the state derives lazily from the base cache (no extra source scan); a
  per-row guess renders both sides in one pass over the source, with the
  bounds check riding that scan.
- **reduce** — one ``(sums, mins)`` payload per partition, collected, or
  merged executor-side with ``treeReduce`` when the payload is big; the
  deferred V1 input validation rides the first reduce.
- **commit** — a lazy, persisted replacement of the mutable cache (the
  state, or the whole base for a kernel without one), materialized by the
  next reduce, which then releases the cache it replaced; an RDD
  ``localCheckpoint`` every few commits truncates lineage so a long solve
  never grows an unbounded plan.
- **render** and **cleanup** — the ``(row_id, new_weight)`` DataFrame, and
  the release of every cache the store holds.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.kernels.spark import (
    _flatten_rb,
    _rb_col,
    _segsum,
    adaptive_blob_partitions,
    ipc_deser,
    ipc_ser,
    maybe_elide_idx,
)

BASE_NAMES = ["row_id", "w0", "idx", "val"]

# Identical batched serializer on every cached blob RDD: ``RDD.zip``
# silently re-pickles BOTH sides per job when batch sizes differ
# (pyspark ``RDD.zip``), measured 3.6× slower passes.  Batch size 1 is
# right regardless — each element is already a multi-MB Arrow IPC blob.
BLOB_SER = BatchedSerializer(CPickleSerializer(), 1)

_BOUNDS_MSG = "bounds must strictly contain the initial ratio guess"


def _persist(rdd):
    return rdd._reserialize(BLOB_SER).persist(StorageLevel.MEMORY_AND_DISK)


def _spread(rdd, spark, n: int):
    p = adaptive_blob_partitions(spark, n, rdd.getNumPartitions())
    if p is None:
        return rdd
    # small problem: encode at full parallelism, then move the finished
    # blobs once so every pass runs p tasks instead of one per input split
    return rdd.coalesce(p, shuffle=True)


def _check_bounds(ratio: np.ndarray, bounds) -> None:
    """``bounds``: ``(lb, ub or None)``, or None for an unbounded state."""
    if bounds is None:
        return
    lb, ub = bounds
    if (ratio - lb <= 0).any() or (ub is not None and (ub - ratio <= 0).any()):
        raise ValueError(_BOUNDS_MSG)


def _base_batch(rb: pa.RecordBatch, k: int, wstar=None) -> pa.RecordBatch:
    arrays = [rb.column(rb.schema.get_field_index(c)) for c in BASE_NAMES]
    names = list(BASE_NAMES)
    if wstar is not None:
        arrays.append(pa.array(np.ascontiguousarray(wstar(rb)), type=pa.float64()))
        names.append("wstar")
    return maybe_elide_idx(pa.RecordBatch.from_arrays(arrays, names), k)


# -- executor side: element decode and pass adapters ------------------------
def zip_combined_iter(pair_iter) -> Iterator[pa.RecordBatch]:
    """(base_blob, state_blob) zip pairs → one combined RecordBatch,
    zero-copy (same buffers).  The combined schema keeps the BASE blob's
    metadata: it carries the dense-idx elision stamp ``_flatten_rb`` needs
    to resynthesize the idx column.  A fused commit+stats state cache
    holds ``(state_blob, sums, mins)`` tuples (the elastic kernel's
    piggybacked payload); only the blob is read here."""
    for bb, sb in pair_iter:
        if isinstance(sb, tuple):
            sb = sb[0]
        b = ipc_deser(bytes(bb))
        s = ipc_deser(bytes(sb))
        fields = [
            *(b.schema.field(i) for i in range(b.num_columns)),
            *(s.schema.field(i) for i in range(s.num_columns)),
        ]
        yield pa.RecordBatch.from_arrays(
            list(b.columns) + list(s.columns),
            schema=pa.schema(fields, metadata=b.schema.metadata),
        )


def _batches(elements, split: bool) -> Iterator[pa.RecordBatch]:
    if split:
        yield from zip_combined_iter(elements)
    else:
        for b in elements:
            yield ipc_deser(bytes(b))


def blob_payload_adapter(pass_fn: Callable, split: bool = False) -> Callable:
    """Wrap a batch pass into a ``mapPartitions`` function over store
    elements, yielding one ``(sums_bytes, mins_bytes)`` pair per payload
    batch the pass emits."""

    def fn(elements):
        for rb in pass_fn(_batches(elements, split)):
            yield (rb.column(0).to_pylist()[0], rb.column(1).to_pylist()[0])

    return fn


def count_bad_entries(
    flat_val: np.ndarray, lens: np.ndarray, w0: np.ndarray
) -> tuple[float, float]:
    """V1 validation counts for one packed batch: rows with any
    non-finite X value, and weights that are non-finite or ≤ 0 (nulls
    arrive as NaN through the Arrow conversion, so one finiteness check
    covers null/NaN/±Inf)."""
    bad_x = 0.0
    if flat_val.size:
        bad_x = float(
            np.count_nonzero(
                _segsum((~np.isfinite(flat_val)).astype(np.float64), lens)
            )
        )
    with np.errstate(invalid="ignore"):
        bad_w = float(np.count_nonzero(~np.isfinite(w0) | (w0 <= 0)))
    return bad_x, bad_w


def _validating(pass_fn: Callable) -> Callable:
    """Run a payload pass and append the V1 bad-entry counts (bad X rows,
    bad weights) of the batches it read to the tail of its sums."""

    def fn(batches):
        bad = np.zeros(2)

        def counted():
            for rb in batches:
                if rb.num_rows:
                    _, flat_val, lens = _flatten_rb(rb)
                    bad[:] += count_bad_entries(flat_val, lens, _rb_col(rb, "w0"))
                yield rb

        for out in pass_fn(counted()):
            sums = out.column(0).to_pylist()[0] + bad.tobytes()
            yield pa.RecordBatch.from_arrays(
                [pa.array([sums], type=pa.binary()), out.column(1)],
                ["sums", "mins"],
            )

    return fn


def merge_payload(a, b):
    sums = np.frombuffer(a[0], dtype=np.float64) + np.frombuffer(
        b[0], dtype=np.float64
    )
    mins = np.minimum(
        np.frombuffer(a[1], dtype=np.float64),
        np.frombuffer(b[1], dtype=np.float64),
    )
    return (sums.tobytes(), mins.tobytes())


def _decode_f64(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.float64).copy()


def _unpack_weights(batches: Iterator[pa.RecordBatch]):
    for rb in batches:
        for blob in rb.column(0).to_pylist():
            yield ipc_deser(blob)


def _post_cleanup_gc(sc) -> None:
    """Nudge the JVM after dropping a multi-GB blob cache.  A solve's
    caches die at cleanup; without a collection hint the dead byte[]
    blocks linger in the old generation and the NEXT kernel's encode job
    pays for them in GC pauses (measured: 2nd pack in a session 12 s →
    90+ s without this).  Once per solve teardown — never in the
    per-iteration path."""
    try:
        sc._jvm.System.gc()
    except Exception:  # pragma: no cover - JVM gateway already closed
        pass


# -- driver side ------------------------------------------------------------
class BlobStore:
    """The base blob cache, an optional split state, and their lifecycle."""

    CKPT_EVERY = 8  # commits between lineage truncations

    def __init__(self, spark, base, state=None) -> None:
        self.spark = spark
        self.base = base
        self.state = state
        # caches replaced by commits the next reduce will materialize;
        # released right after it
        self._superseded: list = []
        self._rollback_src = None
        self._commits_since_ckpt = 0
        self._validate = False

    @classmethod
    def build(
        cls,
        df: DataFrame,
        k: int,
        n: int,
        *,
        ratio_guess: DataFrame | None = None,
        wstar: Callable | None = None,
        state_of: Callable | None = None,
        bounds=None,
    ) -> "BlobStore":
        """Encode the packed rows ``df`` (``pack_rows`` output).

        ``wstar(rb)``: an extra base column computed per batch (the Newton
        kernel's warm-start state).  ``state_of(ratio)``: the initial state
        batch for a start ratio — given, the store is split-state.
        ``ratio_guess``: ``(row_id, ratio)``, joined onto the rows (missing
        rows start at 1.0).  ``bounds``: ``(lb, ub or None)`` the start
        ratio must lie strictly inside."""
        spark = df.sparkSession
        if ratio_guess is not None:
            df = df.join(
                ratio_guess.select("row_id", "ratio"), "row_id", "left"
            ).withColumn("ratio", F.coalesce("ratio", F.lit(1.0)))
            if state_of is not None:
                return cls(spark, *_build_pair(df, k, n, state_of, bounds))
        cols = [*BASE_NAMES, *(["ratio"] if ratio_guess is not None else [])]

        def to_blob(batches: Iterator[pa.RecordBatch]):
            for rb in batches:
                if rb.num_rows:
                    blob = ipc_ser(_base_batch(rb, k, wstar))
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([blob], type=pa.binary())], ["payload"]
                    )

        base = _persist(
            _spread(
                df.select(*cols)
                .mapInArrow(to_blob, "payload binary")
                .rdd.map(lambda r: bytes(r[0])),
                spark,
                n,
            )
        )
        if state_of is None:
            return cls(spark, base)
        # constant start ratio 1.0: the bounds check is a driver-side
        # scalar check, and the state derives from the base cache — the
        # first reduce over base.zip(state) materializes BOTH caches in
        # one source scan
        _check_bounds(np.ones(1), bounds)

        def init_state(elements):
            for b in elements:
                yield ipc_ser(state_of(np.ones(ipc_deser(bytes(b)).num_rows)))

        state = _persist(base.mapPartitions(init_state, preservesPartitioning=True))
        return cls(spark, base, state)

    @property
    def num_partitions(self) -> int:
        return self.base.getNumPartitions()

    def _elements(self):
        return self.base if self.state is None else self.base.zip(self.state)

    def defer_validation(self) -> None:
        """Arm the fused V1 check: the next reduce counts bad X rows and
        bad weights in its payload and raises the same ValueError the
        eager aggregate would — one fewer full scan per solve."""
        self._validate = True

    def reduce(
        self,
        fn: Callable | None,
        big: bool = False,
        *,
        pairs=None,
        merge: Callable = merge_payload,
        decode: Callable = _decode_f64,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Run the batch pass ``fn`` over the store and reduce its
        per-partition ``(sums, mins)`` payloads: sums add, mins take the
        minimum.  ``pairs``: an already-built payload RDD instead of
        ``fn``.  ``big``: merge executor-side with ``treeReduce`` so the
        driver receives O(tree-fanout) payloads (dense K² Gram, or many
        partitions — see ``reduce_big``); otherwise one plain collect,
        which costs no extra stage.  The tree path exists because a plain
        collect of 50 partitions × 32 MB at K=2000 already exceeds
        ``spark.driver.maxResultSize``: found reproducing the reference's
        dense N=100k × K=2000 collinear workload.  ``merge``/``decode``:
        the payload wire format (float64 unless the caller packs its
        own)."""
        # the counts ride a float64 payload of a pass the store runs itself
        validate = self._validate and pairs is None and decode is _decode_f64
        if pairs is None:
            if validate:
                fn = _validating(fn)
            pairs = self._elements().mapPartitions(
                blob_payload_adapter(fn, self.state is not None),
                preservesPartitioning=True,
            )
        if big:
            sums_b, mins_b = pairs.treeReduce(merge)
            sums = decode(sums_b)
            mins = _decode_f64(mins_b)
        else:
            rows = pairs.collect()
            if not rows:
                raise ValueError(
                    "kernel reduce returned no partition payloads (empty problem?)"
                )
            sums = np.sum([decode(s) for s, _ in rows], axis=0)
            mins = np.min(
                [np.frombuffer(m, dtype=np.float64) for _, m in rows], axis=0
            )
        if validate:
            self._validate = False
            bad_x, bad_w = sums[-2], sums[-1]
            if bad_x or bad_w:
                raise ValueError(
                    f"Inputs include invalid values ({int(bad_x)} bad X "
                    f"rows, {int(bad_w)} bad weights)"
                )
            sums = sums[:-2]
        # the reduce materialized any pending commit into its cache: the
        # replaced caches can go; the last one stays as a handle so a
        # rollback can recompute it through lineage (failure path only)
        if self._superseded:
            for rdd in self._superseded:
                rdd.unpersist()
            self._rollback_src = self._superseded[-1]
            self._superseded = []
        return sums, mins

    def commit(self, fn: Callable):
        """Replace the mutable cache (the state, or the base when there is
        none) lazily: ``fn`` maps a partition's decoded batches to the new
        cache's elements.  Persisted here, materialized by the next
        reduce.  Returns the new cache."""
        split = self.state is not None
        new = _persist(
            self._elements().mapPartitions(
                lambda elements: fn(_batches(elements, split)),
                preservesPartitioning=True,
            )
        )
        self._commits_since_ckpt += 1
        if self._commits_since_ckpt >= self.CKPT_EVERY:
            new.localCheckpoint()
            self._commits_since_ckpt = 0
        if split:
            self._superseded.append(self.state)
            self.state = new
        else:
            self._superseded.append(self.base)
            self.base = new
        return new

    def rollback(self) -> None:
        """Undo the last commit: restore the cache it replaced — still
        cached before the next reduce, recomputed through lineage after."""
        src = self._superseded[-1] if self._superseded else self._rollback_src
        if src is None:
            raise RuntimeError("no committed step to roll back")
        if self.state is not None:
            self.state.unpersist()
            self.state = src.persist(StorageLevel.MEMORY_AND_DISK)
        else:
            self.base.unpersist()
            self.base = src.persist(StorageLevel.MEMORY_AND_DISK)
        self._superseded = []
        self._rollback_src = None
        self._commits_since_ckpt = max(0, self._commits_since_ckpt - 1)

    def weights_df(self, render: Callable) -> DataFrame:
        """``(row_id, new_weight)`` DataFrame — Arrow end to end: ``render``
        maps the store's batches to ``(row_id, new_weight)`` batches; their
        IPC payloads cross the RDD→DataFrame seam as single binary rows,
        then ``mapInArrow`` explodes them JVM-side."""
        split = self.state is not None

        def to_payload(elements):
            for rb in render(_batches(elements, split)):
                yield (ipc_ser(rb),)

        payload = self._elements().mapPartitions(
            to_payload, preservesPartitioning=True
        )
        return self.spark.createDataFrame(payload, "payload binary").mapInArrow(
            _unpack_weights, "row_id bigint, new_weight double"
        )

    def cleanup(self) -> None:
        for rdd in (self.base, self.state, *self._superseded):
            if rdd is not None:
                rdd.unpersist(blocking=True)
        self._superseded = []
        _post_cleanup_gc(self.spark.sparkContext)


def _build_pair(df, k, n, state_of, bounds):
    """Warm start: one Arrow pass over the source renders each batch into
    aligned (base, state) blobs, with the per-row bounds check riding that
    scan.  Both caches are materialized here, from a transient pair cache,
    so a start ratio outside the bounds raises at construction."""

    def to_pair(batches: Iterator[pa.RecordBatch]):
        for rb in batches:
            if not rb.num_rows:
                continue
            ratio = _rb_col(rb, "ratio")
            _check_bounds(ratio, bounds)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([ipc_ser(_base_batch(rb, k))], type=pa.binary()),
                    pa.array([ipc_ser(state_of(ratio))], type=pa.binary()),
                ],
                ["base", "state"],
            )

    pair_rdd = _persist(
        _spread(
            df.select(*BASE_NAMES, "ratio")
            .mapInArrow(to_pair, "base binary, state binary")
            .rdd.map(lambda r: (bytes(r[0]), bytes(r[1]))),
            df.sparkSession,
            n,
        )
    )
    base = _persist(pair_rdd.map(lambda t: t[0], preservesPartitioning=True))
    state = _persist(pair_rdd.map(lambda t: t[1], preservesPartitioning=True))
    try:
        base.count()
    except Exception as exc:
        if _BOUNDS_MSG in str(exc):
            raise ValueError(_BOUNDS_MSG) from None
        raise
    state.count()  # reads the pair cache, not the source scan
    pair_rdd.unpersist(blocking=True)
    return base, state
