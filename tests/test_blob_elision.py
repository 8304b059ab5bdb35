"""Dense-idx elision + narrow-blob contracts (kernels/spark.py, r8).

Pure-pyarrow unit tests (no Spark session): the elision must be exactly
invertible through _flatten_rb, must refuse non-dense patterns, and must
survive the zip/commit batch rebuilds that propagate schema metadata.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from entropy_balance_weighting_spark.kernels.spark import (
    DENSE_IDX_META,
    _commit_pass,
    _flatten_rb,
    _rb_q,
    ipc_deser,
    ipc_ser,
    maybe_elide_idx,
)
from entropy_balance_weighting_spark.kernels.blobstore import zip_combined_iter


def _packed_rb(idx_rows, val_rows, w0=None):
    n = len(idx_rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(n), type=pa.int64()),
            pa.array(
                w0 if w0 is not None else np.linspace(1.0, 2.0, n),
                type=pa.float64(),
            ),
            pa.array(idx_rows, type=pa.list_(pa.int32())),
            pa.array(val_rows, type=pa.list_(pa.float64())),
        ],
        ["row_id", "w0", "idx", "val"],
    )


def test_elide_roundtrip_dense():
    k, n = 5, 7
    idx_rows = [list(range(k))] * n
    val_rows = [[float(i * k + j) for j in range(k)] for i in range(n)]
    rb = _packed_rb(idx_rows, val_rows)
    fi0, fv0, l0 = _flatten_rb(rb)

    elided = maybe_elide_idx(rb, k)
    assert elided.schema.get_field_index("idx") == -1
    assert elided.schema.metadata[DENSE_IDX_META] == b"5"
    # roundtrips through IPC (the blob cache representation)
    back = ipc_deser(ipc_ser(elided))
    fi1, fv1, l1 = _flatten_rb(back)
    np.testing.assert_array_equal(fi0, fi1)
    np.testing.assert_array_equal(fv0, fv1)
    np.testing.assert_array_equal(l0, l1)


def test_elide_refuses_non_dense_patterns():
    k = 3
    # wrong length row
    rb = _packed_rb([[0, 1, 2], [0, 1]], [[1.0, 2.0, 3.0], [1.0, 2.0]])
    assert maybe_elide_idx(rb, k) is rb
    # right length, wrong indices
    rb2 = _packed_rb([[0, 1, 2], [0, 2, 1]], [[1.0] * 3, [1.0] * 3])
    assert maybe_elide_idx(rb2, k) is rb2
    # empty batch
    rb3 = _packed_rb([], [])
    assert maybe_elide_idx(rb3, k) is rb3


def test_rb_q_recomputes_from_w0():
    rb = _packed_rb([[0]], [[1.0]], w0=np.array([3.0]))
    np.testing.assert_allclose(_rb_q(rb, 6.0), [0.5])


def test_zip_combined_preserves_elision_metadata():
    k, n = 4, 3
    base = maybe_elide_idx(
        _packed_rb([list(range(k))] * n, [[1.0] * k] * n), k
    )
    state = pa.RecordBatch.from_arrays(
        [pa.array(np.ones(n), type=pa.float64())], ["ratio"]
    )
    (combined,) = list(
        zip_combined_iter([(ipc_ser(base), ipc_ser(state))])
    )
    assert combined.schema.metadata[DENSE_IDX_META] == str(k).encode()
    fi, fv, lens = _flatten_rb(combined)
    np.testing.assert_array_equal(lens, [k] * n)
    np.testing.assert_array_equal(fi[:k], np.arange(k))
    assert combined.schema.get_field_index("ratio") >= 0


def test_commit_pass_appends_wstar_and_keeps_metadata():
    k, n = 3, 4
    base = maybe_elide_idx(
        _packed_rb(
            [list(range(k))] * n,
            [[0.1, 0.2, 0.3]] * n,
            w0=np.full(n, 2.0),
        ),
        k,
    )
    sum_w0 = 8.0
    wprog = [("exp", np.zeros(k))]
    fn = _commit_pass("dual", np.zeros(k), np.zeros(k), 1.0, wprog, sum_w0)
    (out,) = list(fn(iter([base])))
    i_w = out.schema.get_field_index("wstar")
    assert i_w >= 0
    assert out.schema.metadata[DENSE_IDX_META] == str(k).encode()
    # dual step with lam=dlam=0: wstar = q = w0/sum_w0
    np.testing.assert_allclose(
        out.column(i_w).to_numpy(), np.full(n, 0.25)
    )
    # a second commit replaces in place (no duplicate column)
    (out2,) = list(
        _commit_pass("dual", np.zeros(k), np.zeros(k), 1.0, None, sum_w0)(
            iter([out])
        )
    )
    assert out2.num_columns == out.num_columns


def test_adaptive_blob_partitions(spark):
    """Scale-adaptive blob partitioning (r13): small problems coalesce to
    ceil(N / rows-per-partition) clamped to the core count; large problems
    (and a disabled knob) leave the encode partitioning alone."""
    from entropy_balance_weighting_spark.kernels.spark import (
        adaptive_blob_partitions,
    )

    par = spark.sparkContext.defaultParallelism
    # small problem at default 150k rows/partition: 600k rows -> 4 parts
    assert adaptive_blob_partitions(spark, 600_000, 32) == 4
    # already at (or below) the target: leave alone
    assert adaptive_blob_partitions(spark, 600_000, 4) is None
    assert adaptive_blob_partitions(spark, 600_000, 2) is None
    # large problem: target clamps to parallelism, current >= that -> None
    assert adaptive_blob_partitions(spark, 10**9, max(par, 64)) is None
    # degenerate/disabled
    assert adaptive_blob_partitions(spark, 0, 32) is None
    spark.conf.set("spark.ebw.blobRowsPerPartition", "0")
    try:
        assert adaptive_blob_partitions(spark, 600_000, 32) is None
    finally:
        spark.conf.unset("spark.ebw.blobRowsPerPartition")


def test_adaptive_blob_partitions_bad_conf_warns(spark):
    """An unreadable rows-per-partition conf falls back to the default,
    and says so."""
    import pytest

    from entropy_balance_weighting_spark.kernels.spark import (
        adaptive_blob_partitions,
    )

    spark.conf.set("spark.ebw.blobRowsPerPartition", "lots")
    try:
        with pytest.warns(RuntimeWarning, match="default 150000 rows"):
            assert adaptive_blob_partitions(spark, 600_000, 32) == 4
    finally:
        spark.conf.unset("spark.ebw.blobRowsPerPartition")
