"""Compute kernels: the N-dimensional half of every solver iteration.

A kernel owns the observation matrix X (N×K), initial weights and the
N-dimensional iterate state, and exposes the handful of primitives every
solver needs (SURVEY §1.4): elementwise maps over N, reductions N→K /
N→K×K / N→scalar, and broadcasts K→N.  K-dimensional algebra stays on the
driver (solvers/).

Each solver (unbounded Newton, elastic, penalty) has two kernels with
identical semantics:

- a dense-numpy kernel (:mod:`kernels.local`, :mod:`kernels.elastic_local`,
  :mod:`kernels.penalty_local`), used below a size threshold and as the
  parity oracle;
- a Spark kernel (:mod:`kernels.spark`, :mod:`kernels.elastic_spark`,
  :mod:`kernels.penalty_spark`) over per-row CSR record batches
  ``(row_id, w0, idx, val)`` cached as Arrow IPC blobs, where one
  ``mapPartitions`` pass computes all of an iteration's reductions.  The
  elastic and penalty kernels keep their mutable per-row state in a
  separate blob cache aligned with the base.  All three hold their caches
  in a :class:`kernels.blobstore.BlobStore`, which owns encode, reduce,
  lazy commit, the weights render and cleanup.
"""
