"""Moment-spec builder: any DataFrame → canonical EBW problem tables.

This is the engine's data layer (SURVEY §7.0 layer 1).  The reference takes
a pre-built numpy/CSR design matrix (ref: ebw_routines.py:18-24); its survey
example builds that matrix with Polars selects, one-hot dummies, per-state
``partition_by`` + scipy ``block_diag`` stacking, and window normalization
(ref: examples/pums_example.py:85-96,222-296).  Here the whole pipeline is
declarative DataFrame ops producing the **long/COO encoding**:

- ``x_long  (row_id BIGINT, moment_id INT, value DOUBLE)``
- ``w0      (row_id BIGINT, w0 DOUBLE)``
- ``moments (moment_id INT, moment_name STRING)`` — the schema IS this table

Design decisions for 100 TB scale:

- One-hot encoding never widens the table: an indicator is just a long row
  ``(row_id, 'col=value', 1.0)`` (E10) — K can reach 10⁵ with no schema blowup.
- Group-specific ("block-diagonal") moments are composite moment names
  ``'grp=<g>|var'`` (A10) — no per-group splitting, no block_diag, and the
  resulting Gram matrix is block-diagonal by construction because moments of
  different groups never co-occur in a row.
- ``moment_id`` comes from a deterministic sort of moment names (driver-side:
  K is small relative to N) broadcast back into the long table — an explicit
  key replacing the reference's positional column↔target alignment (J2).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class MomentSpec:
    """Declarative description of how to turn rows into moments.

    Attributes
    ----------
    weight_col: survey-weight column (must be > 0 after filtering; V2).
    numeric: numeric moment columns (cast to double; V5).
    onehot: categorical columns expanded to indicator moments (E10).
    interactions: ``(a, b)`` pairs of cross-term moments — the R-formula
        ``a:b`` (the reference's collinearity tests build these via
        ``formulaic.model_matrix``, ref: test_colinear.py:66-78).  A side
        listed in ``onehot`` is treated as categorical; any other side is
        cast to double.  numeric×numeric → one moment ``'a:b'`` with value
        ``a·b``; numeric×categorical → per-category moments ``'a:b=<v>'``
        with value ``a``; categorical×categorical → indicator moments
        ``'a=<u>:b=<v>'``.  Encoded as long rows like every other moment,
        so K grows without widening the table.
    group: grouping columns making every moment group-specific (A10).
    intercept: add a constant ``1.0`` "count" moment (V6,
        ref: pums_example.py:223,277-278).
    drop_nonpositive_weights: apply the ``w > 0`` filter (V2,
        ref: pums_example.py:222).
    dropna: drop rows with nulls in any used column (V3,
        ref: pums_example.py:276).
    normalize_weights_within_group: divide weights by their group total via
        a window (W1, ref: pums_example.py:277-281); requires ``group``.
    row_key: columns forming a unique row key; hashed to ``row_id``.  None →
        a zipWithIndex-style id (deterministic given stable input order).
    dedupe_row_key: opt-in for known-duplicate keys — appends a
        window-derived sequence before hashing (full shuffle+sort; at scale
        prefer supplying a truly unique key).  When False (default) the key
        is hashed directly and uniqueness is asserted with a cheap
        count == count_distinct guard at build time.
    """

    weight_col: str
    numeric: tuple[str, ...] = ()
    onehot: tuple[str, ...] = ()
    interactions: tuple[tuple[str, str], ...] = ()
    group: tuple[str, ...] = ()
    intercept: bool = False
    drop_nonpositive_weights: bool = True
    dropna: bool = True
    normalize_weights_within_group: bool = False
    row_key: tuple[str, ...] | None = None
    dedupe_row_key: bool = False


@dataclass
class ProblemTables:
    """The canonical problem encoding consumed by the solver layer."""

    x_long: DataFrame  # (row_id, moment_id, value)
    w0: DataFrame  # (row_id, w0)
    moments: DataFrame  # (moment_id, moment_name)
    moment_names: list[str] = field(default_factory=list)  # id-ordered
    n: int | None = None  # row count, when known at build time
    sum_w0: float | None = None  # Σw0, when known at build time (saves the
    # packing/targets layers their own aggregation jobs)
    nnz_per_row: int | None = None  # exact long entries per row (data layer
    # emits a fixed count: numeric + intercept + one indicator per onehot col)
    moment_groups: list[str] | None = None  # id-ordered group label per moment
    # ('' when ungrouped); group-specific moments never co-occur in a row, so
    # the Gram matrix is block-diagonal by group (SURVEY A10) — the large-K
    # solve path exploits this.
    x_long_w0: DataFrame | None = None  # (row_id, moment_id, value, w0) —
    # the long table with the weight still inline, before the w0 split-off.
    # Weighted per-moment aggregations read this directly and skip the
    # row_id re-join shuffle (one column of redundancy for one fewer
    # shuffle — the right trade at scale).
    weighted_sums: dict[str, float] | None = None  # moment_name → Σ value·w0,
    # derived driver-side from the builder's per-combo aggregate (no extra
    # scan); targets_from_problem divides by sum_w0 to get weighted means
    # with ZERO Spark jobs.  None when the builder ran the uniqueness-guard
    # aggregate instead (row_key specs).
    packed_arrays: DataFrame | None = None  # (row_id, w0, idx, val) — the
    # per-row CSR arrays derived by PURE PROJECTION from the prepared rows
    # (each row's moment ids come from literals / tiny category maps, no
    # explode + groupBy round trip).  When present, the solver kernels pack
    # with ZERO shuffles end-to-end.

    @property
    def k(self) -> int:
        return len(self.moment_names)


_SPREAD_BYTES_CONF = "spark.ebw.spreadPartitionBytes"
# Unit: the OPTIMIZER'S size-estimate domain (optimizedPlan().stats()),
# which for a pruned parquet scan tracks encoded column bytes (~12 B/row
# for the bench specs) — NOT in-memory row size.  2 MiB of estimate ≈
# 150k prepared rows, aligning the spread width with
# spark.ebw.blobRowsPerPartition so the packed-blob coalesce becomes a
# no-op instead of a second shuffle.
_SPREAD_BYTES_DEFAULT = 2 * 1024 * 1024


def _spread_width(rows: DataFrame) -> int | None:
    """Target width for the one-time small-input spread, or ``None`` to
    keep the scan partitioning.

    Fires only when the scan under-utilizes the cluster (input splits <
    half the cores); at real scale splits >> cores and this never runs.
    r13 spread to ``defaultParallelism`` unconditionally; r14 derives the
    width from the optimizer's size estimate instead (guide §2.2: size
    partitions by bytes, not core count).  A full-width wave over a
    ~30 MB input pays more in task dispatch — and, on a steal-prone
    host, in stall exposure (the driver's r13 32-core bench read m1 at
    5× its 8-core time under exactly that amplification) — than the
    parallelism returns, and every downstream consumer (counts
    aggregate, long explode, packed encode) hits its per-task sweet
    spot near the blob kernel's 150k rows/partition.  Conf-overridable;
    ``<= 0`` restores the full-width r13 behavior."""
    sc = rows.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if rows.rdd.getNumPartitions() >= max(2, cores // 2):
        return None
    try:
        spread_bytes = int(
            rows.sparkSession.conf.get(
                _SPREAD_BYTES_CONF, str(_SPREAD_BYTES_DEFAULT)
            )
        )
    except Exception as exc:
        warnings.warn(
            f"{_SPREAD_BYTES_CONF} unreadable ({exc!r}); spreading with the "
            f"default {_SPREAD_BYTES_DEFAULT} bytes per partition",
            RuntimeWarning,
            stacklevel=2,
        )
        spread_bytes = _SPREAD_BYTES_DEFAULT
    if spread_bytes <= 0:
        return cores
    try:
        est = int(
            rows._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception as exc:
        warnings.warn(
            f"optimizer size estimate unavailable ({exc!r}); spreading "
            f"full-width to {cores} partitions",
            RuntimeWarning,
            stacklevel=2,
        )
        return cores
    return min(cores, max(2, -(-est // spread_bytes)))


def _interaction_cols(spec: MomentSpec) -> tuple[list[str], list[str]]:
    """(extra numeric-side, extra categorical-side) interaction columns not
    already covered by ``numeric``/``onehot``.  A side is categorical iff
    it is listed in ``onehot``."""
    extra_num: list[str] = []
    extra_cat: list[str] = []
    for a, b in spec.interactions:
        for s in (a, b):
            if s in spec.onehot:
                continue  # categorical side, already kept native
            if s not in spec.numeric and s not in extra_num:
                extra_num.append(s)
    return extra_num, extra_cat


def prepared_rows(df: DataFrame, spec: MomentSpec) -> DataFrame:
    """Filter/cast/project the input down to (row_id, w0, group, moment cols).

    Applies V2 (positive-weight filter), V3 (null drop), V4 (projection),
    V5 (double casts) and the W1 within-group weight normalization in one
    declarative plan — Catalyst pushes the filters and pruning into the scan.
    """
    extra_num, _ = _interaction_cols(spec)
    used = [spec.weight_col, *spec.numeric, *spec.onehot, *spec.group, *extra_num]
    if spec.row_key:
        used += [c for c in spec.row_key if c not in used]
    df = df.select(*dict.fromkeys(used))
    if spec.dropna:
        df = df.na.drop()
    w = F.col(spec.weight_col).cast("double")
    if spec.drop_nonpositive_weights:
        df = df.filter(w > 0)
    df = df.withColumn("__w0", w)
    if spec.normalize_weights_within_group:
        if not spec.group:
            raise ValueError("normalize_weights_within_group requires group cols")
        win = Window.partitionBy(*spec.group)
        df = df.withColumn("__w0", F.col("__w0") / F.sum("__w0").over(win))
    if spec.row_key and spec.dedupe_row_key:
        # Opt-in duplicate-tolerant path: append a deterministic within-key
        # sequence before hashing.  Ties in the ordering only occur between
        # rows identical in every used column, so any tie assignment yields
        # the same problem tables.  This shuffles and sorts on every used
        # column — at 100 TB prefer a truly unique key (default path below).
        order_cols = [F.col(c) for c in df.columns if c != "__w0"]
        seq = F.row_number().over(
            Window.partitionBy(*spec.row_key).orderBy(*order_cols)
        )
        df = df.withColumn("row_id", F.xxhash64(*spec.row_key, seq.cast("long")))
    elif spec.row_key:
        # Default: hash the declared key directly — no shuffle, no sort; the
        # scan stays embarrassingly parallel.  Uniqueness is asserted by
        # ``build_problem_tables`` (count == approx-free exact distinct).
        # 64-bit hash ids are collision-safe to ~1e8 rows (birthday bound);
        # beyond that, supply an already-unique BIGINT key as the row_key.
        df = df.withColumn("row_id", F.xxhash64(*spec.row_key))
    else:
        df = df.withColumn(
            "row_id", F.monotonically_increasing_id()
        )  # stable once cached/materialized
    casted = [
        F.col(c).cast("double").alias(c) for c in (*spec.numeric, *extra_num)
    ]
    keep = (
        [F.col("row_id"), F.col("__w0").alias("w0")]
        + casted
        + [F.col(c) for c in spec.onehot]
        + [F.col(c) for c in spec.group]
    )
    return df.select(*keep)


def _moment_name_expr(spec: MomentSpec, base: "F.Column") -> "F.Column":
    """Composite moment name: ``grp=<g1>/<g2>|<base>`` when grouped (A10)."""
    if not spec.group:
        return base
    grp = F.concat_ws("/", *[F.col(c).cast("string") for c in spec.group])
    return F.concat(F.lit("grp="), grp, F.lit("|"), base)


def _interaction_entry(spec: MomentSpec, a: str, b: str):
    """(name Column, value Column) for one ``a:b`` cross term."""
    a_cat, b_cat = a in spec.onehot, b in spec.onehot
    if a_cat and b_cat:
        name = F.concat(
            F.lit(f"{a}="), F.col(a).cast("string"),
            F.lit(f":{b}="), F.col(b).cast("string"),
        )
        val = F.lit(1.0)
    elif a_cat:
        name = F.concat(F.lit(f"{a}="), F.col(a).cast("string"), F.lit(f":{b}"))
        val = F.col(b).cast("double")
    elif b_cat:
        name = F.concat(F.lit(f"{a}:{b}="), F.col(b).cast("string"))
        val = F.col(a).cast("double")
    else:
        name = F.lit(f"{a}:{b}")
        val = (F.col(a) * F.col(b)).cast("double")
    return name, val


def long_moments(rows: DataFrame, spec: MomentSpec) -> DataFrame:
    """(row_id, w0, moment_name, value) — numeric + intercept + one-hot
    entries, emitted by ONE ``explode`` over a per-row entry array (a
    single scan of the prepared rows; the equivalent 3-branch union re-scans
    the input once per shape).  Zero-value numeric entries are kept (they
    carry information for dense parity) but a one-hot entry only exists for
    the category the row is in — the long table IS the sparse encoding.
    """
    entries = []
    for c in spec.numeric:
        entries.append(
            F.struct(
                F.lit(c).alias("n"), F.col(c).cast("double").alias("v")
            )
        )
    if spec.intercept:
        entries.append(
            F.struct(F.lit("_count").alias("n"), F.lit(1.0).alias("v"))
        )
    for c in spec.onehot:
        entries.append(
            F.struct(
                F.concat(F.lit(c), F.lit("="), F.col(c).cast("string")).alias(
                    "n"
                ),
                F.lit(1.0).alias("v"),
            )
        )
    for a, b in spec.interactions:
        name, val = _interaction_entry(spec, a, b)
        entries.append(F.struct(name.alias("n"), val.alias("v")))
    if not entries:
        raise ValueError("MomentSpec declares no moments")
    exploded = rows.select(
        "row_id", "w0", *spec.group, F.explode(F.array(*entries)).alias("e")
    )
    return exploded.select(
        "row_id",
        "w0",
        _moment_name_expr(spec, F.col("e.n")).alias("moment_name"),
        F.col("e.v").alias("value"),
    )


def _moment_names(spec: MomentSpec, combos: list[dict]) -> list[str]:
    """Render the distinct moment names from the collected (group, one-hot)
    combinations — Python mirror of the Spark name expressions (values are
    already Spark-cast strings; ``None`` mirrors concat-null semantics:
    ``concat_ws`` skips null group parts, ``concat`` nulls the whole name,
    and null names never join into the long table)."""

    def grouped(base: str, cd: dict) -> str:
        if not spec.group:
            return base
        grp = "/".join(
            s for s in (cd[c] for c in spec.group) if s is not None
        )
        return f"grp={grp}|{base}"

    static_bases = list(spec.numeric) + (["_count"] if spec.intercept else [])
    static_bases += [
        f"{a}:{b}"
        for a, b in spec.interactions
        if a not in spec.onehot and b not in spec.onehot
    ]
    if not combos:
        return sorted(static_bases) if not spec.group else []
    names: set[str] = set()
    for cd in combos:
        for b in static_bases:
            names.add(grouped(b, cd))
        for c in spec.onehot:
            if cd[c] is not None:
                names.add(grouped(f"{c}={cd[c]}", cd))
        for a, b in spec.interactions:
            a_cat, b_cat = a in spec.onehot, b in spec.onehot
            if a_cat and b_cat:
                if cd[a] is not None and cd[b] is not None:
                    names.add(grouped(f"{a}={cd[a]}:{b}={cd[b]}", cd))
            elif a_cat:
                if cd[a] is not None:
                    names.add(grouped(f"{a}={cd[a]}:{b}", cd))
            elif b_cat:
                if cd[b] is not None:
                    names.add(grouped(f"{a}:{b}={cd[b]}", cd))
    return sorted(names)


def _weighted_sums_from_combo_stats(
    spec: MomentSpec, crows: list[dict]
) -> dict[str, float]:
    """moment_name → Σ value·w0 from the builder's per-combo aggregate
    rows — the driver-side mirror of what ``targets_from_problem``'s
    relational path sums over the long table (null aggregates, i.e.
    all-null value columns within a combo, contribute nothing)."""

    def grouped(base: str, cd: dict) -> str:
        if not spec.group:
            return base
        grp = "/".join(
            s for s in (cd[c] for c in spec.group) if s is not None
        )
        return f"grp={grp}|{base}"

    sums: dict[str, float] = {}

    def add(name: str | None, v) -> None:
        if name is None or v is None:
            return
        sums[name] = sums.get(name, 0.0) + float(v)

    combo_cols = [*spec.group, *spec.onehot]
    for r in crows:
        cd = {c: r[c] for c in combo_cols}
        for j, c in enumerate(spec.numeric):
            add(grouped(c, cd), r[f"__s{j}"])
        if spec.intercept:
            add(grouped("_count", cd), r["__sw"])
        for c in spec.onehot:
            nm = grouped(f"{c}={cd[c]}", cd) if cd[c] is not None else None
            add(nm, r["__sw"])
        for j, (a, b) in enumerate(spec.interactions):
            a_cat, b_cat = a in spec.onehot, b in spec.onehot
            if a_cat and b_cat:
                nm = (
                    grouped(f"{a}={cd[a]}:{b}={cd[b]}", cd)
                    if cd[a] is not None and cd[b] is not None
                    else None
                )
            elif a_cat:
                nm = grouped(f"{a}={cd[a]}:{b}", cd) if cd[a] is not None else None
            elif b_cat:
                nm = grouped(f"{a}:{b}={cd[b]}", cd) if cd[b] is not None else None
            else:
                nm = grouped(f"{a}:{b}", cd)
            add(nm, r[f"__i{j}"])
    return sums


def build_problem_tables(df: DataFrame, spec: MomentSpec) -> ProblemTables:
    """Full data layer: input rows → (x_long, w0, moments) with integer ids.

    The prepared rows are materialized ONCE (``localCheckpoint``) before the
    moment-dictionary collect / x_long / w0 fan-out — without it the whole
    prep plan (scan, filters, window) re-executes per consumer, and
    nondeterministic ids (``monotonically_increasing_id`` after a shuffle)
    could silently pair weights with the wrong rows.  The moment dictionary
    is collected to the driver (K rows — driver-scale by §1.4) and broadcast
    back to key the long table.
    """
    rows = prepared_rows(df, spec)
    # A small local input (few parquet splits) would pin every downstream
    # narrow plan — including the zero-shuffle packed kernel — to that
    # partition count.  Spread once before materializing when the scan
    # under-utilizes the cluster; at real scale input splits >> cores and
    # this branch never fires.  Width is size-derived (see _spread_width).
    target = _spread_width(rows)
    if target is not None:
        rows = rows.repartition(target)
    # LAZY checkpoint: the counts aggregate right below is the first action
    # and materializes it — one source scan instead of two (separate
    # checkpoint pass + counts pass).  Ids are pinned at that first
    # materialization, before any other consumer exists, so the
    # determinism argument is unchanged (guide §1.2: remove passes).
    rows = rows.localCheckpoint(eager=False)

    # ONE aggregate job yields everything the dictionary build needs: n, Σw0,
    # the hashed-id uniqueness guard, AND the distinct (group, one-hot value)
    # combinations — collected as Spark-cast strings so the Python-side name
    # rendering below agrees exactly with the Spark expressions long_moments
    # uses (the cast happens executor-side either way).
    #
    # Without the uniqueness guard (the common path), the aggregate runs
    # GROUPED BY the combo columns and additionally carries every
    # per-combo weighted sum the moment set needs — the driver can then
    # derive target weighted means with ZERO further scans
    # (``targets_from_problem`` fast path; r13 optimization, guide §1.2).
    # The guard path keeps the single global aggregate because a global
    # countDistinct does not decompose over combo groups.
    combo_cols = [*spec.group, *spec.onehot]
    check_unique = bool(spec.row_key) and not spec.dedupe_row_key
    weighted_sums: dict[str, float] | None = None
    if check_unique:
        agg_exprs = [
            F.count(F.lit(1)).alias("n"),
            F.sum("w0").alias("s"),
            F.countDistinct("row_id").alias("nd"),
        ]
        if combo_cols:
            agg_exprs.append(
                F.collect_set(
                    F.struct(
                        *[F.col(c).cast("string").alias(c) for c in combo_cols]
                    )
                ).alias("combos")
            )
        counts = rows.agg(*agg_exprs).first()
        n = int(counts["n"])
        sum_w0 = float(counts["s"]) if counts["s"] is not None else None
        if n != int(counts["nd"]):
            raise ValueError(
                f"row_key {spec.row_key} is not unique ({n} rows, "
                f"{int(counts['nd'])} distinct ids) — pass dedupe_row_key="
                "True or supply a unique key"
            )
        combos = (
            [r.asDict() for r in counts["combos"]] if combo_cols else []
        )
    else:
        gexprs = [
            F.count(F.lit(1)).alias("__cnt"),
            F.sum("w0").alias("__sw"),
        ]
        for j, c in enumerate(spec.numeric):
            gexprs.append(F.sum(F.col(c) * F.col("w0")).alias(f"__s{j}"))
        for j, (a, b) in enumerate(spec.interactions):
            a_cat, b_cat = a in spec.onehot, b in spec.onehot
            if a_cat and b_cat:
                e = F.sum("w0")
            elif a_cat:
                e = F.sum(F.col(b).cast("double") * F.col("w0"))
            elif b_cat:
                e = F.sum(F.col(a).cast("double") * F.col("w0"))
            else:
                e = F.sum(
                    F.col(a).cast("double")
                    * F.col(b).cast("double")
                    * F.col("w0")
                )
            gexprs.append(e.alias(f"__i{j}"))
        keys = [F.col(c).cast("string").alias(c) for c in combo_cols]
        crows = [r.asDict() for r in rows.groupBy(*keys).agg(*gexprs).collect()]
        n = sum(int(r["__cnt"]) for r in crows)
        sw_vals = [r["__sw"] for r in crows if r["__sw"] is not None]
        sum_w0 = float(sum(sw_vals)) if sw_vals else None
        combos = (
            [{c: r[c] for c in combo_cols} for r in crows]
            if combo_cols
            else []
        )
        weighted_sums = _weighted_sums_from_combo_stats(spec, crows)

    long = long_moments(rows, spec)
    names = _moment_names(spec, combos)
    spark = df.sparkSession
    # single slice (see _packed_arrays): the dictionary is K driver rows,
    # consumed via broadcast joins — one task materializes it, not a
    # defaultParallelism wave of empty slices
    moments = spark.createDataFrame(
        spark.sparkContext.parallelize(list(enumerate(names)), 1),
        T.StructType(
            [
                T.StructField("moment_id", T.IntegerType(), False),
                T.StructField("moment_name", T.StringType(), False),
            ]
        ),
    )
    x_long_w0 = long.join(F.broadcast(moments), "moment_name").select(
        "row_id", "moment_id", "value", "w0"
    )
    x_long = x_long_w0.select("row_id", "moment_id", "value")
    w0 = rows.select("row_id", "w0")
    packed = _packed_arrays(rows, spec, names, combos)
    groups = [
        nm.split("|", 1)[0] if nm.startswith("grp=") else "" for nm in names
    ]
    return ProblemTables(
        x_long=x_long,
        w0=w0,
        moments=moments,
        moment_names=names,
        n=n,
        nnz_per_row=len(spec.numeric)
        + int(spec.intercept)
        + len(spec.onehot)
        + len(spec.interactions),
        moment_groups=groups,
        sum_w0=sum_w0,
        x_long_w0=x_long_w0,
        weighted_sums=weighted_sums,
        packed_arrays=packed,
    )


_PACK_COMBO_MAX = 200_000  # broadcast-size guard for the combo dim table


def _combo_entry_names(spec: MomentSpec, cd: dict) -> list[str | None]:
    """Moment names one row of combo ``cd`` emits, in packed-entry order
    (numeric..., intercept, onehot..., interactions...).  ``None`` marks an
    entry whose name is null for this combo (null category under
    dropna=False) — no packed encoding exists for it."""

    def grouped(base: str) -> str:
        if not spec.group:
            return base
        grp = "/".join(s for s in (cd[c] for c in spec.group) if s is not None)
        return f"grp={grp}|{base}"

    out: list[str | None] = [grouped(c) for c in spec.numeric]
    if spec.intercept:
        out.append(grouped("_count"))
    for c in spec.onehot:
        out.append(grouped(f"{c}={cd[c]}") if cd[c] is not None else None)
    for a, b in spec.interactions:
        a_cat, b_cat = a in spec.onehot, b in spec.onehot
        if a_cat and b_cat:
            ok = cd[a] is not None and cd[b] is not None
            out.append(grouped(f"{a}={cd[a]}:{b}={cd[b]}") if ok else None)
        elif a_cat:
            out.append(grouped(f"{a}={cd[a]}:{b}") if cd[a] is not None else None)
        elif b_cat:
            out.append(grouped(f"{a}:{b}={cd[b]}") if cd[b] is not None else None)
        else:
            out.append(grouped(f"{a}:{b}"))
    return out


def _packed_arrays(
    rows: DataFrame, spec: MomentSpec, names: list[str], combos: list[dict]
) -> DataFrame | None:
    """(row_id, w0, idx, val) by pure projection — the zero-shuffle packing.

    Every prepared row emits a FIXED set of entries (numeric + intercept +
    one indicator per one-hot column + one per interaction).  Ungrouped
    numeric-only specs take literal constant ids.  Grouped/one-hot specs
    join a tiny driver-built dim table — one row per observed (group,
    one-hot value) combination carrying that combination's precomputed
    ``idx`` array — through a broadcast hash join (JVM-side, O(1) per row;
    a K-sized ``create_map`` literal would be a linear scan per lookup).
    Gated only by the combo count (broadcast size), so the projection path
    holds into the 10⁵-moment group-specific regime.
    """
    combo_src = [*spec.group, *spec.onehot]
    if not combo_src:
        # static ids: every row emits the same moment set
        name_to_id = {nm: i for i, nm in enumerate(names)}
        id_exprs = [
            F.lit(name_to_id[nm]).cast("int")
            for nm in _combo_entry_names(spec, {})
        ]
        val_exprs = _packed_val_exprs(spec)
        return rows.select(
            "row_id",
            "w0",
            F.array(*id_exprs).alias("idx"),
            F.array(*val_exprs).alias("val"),
        )
    if len(combos) > _PACK_COMBO_MAX:
        return None
    name_to_id = {nm: i for i, nm in enumerate(names)}
    dim_rows = []
    for cd in combos:
        entry_names = _combo_entry_names(spec, cd)
        if any(nm is None for nm in entry_names):
            return None  # null category (dropna=False): no fixed-width packing
        dim_rows.append(
            tuple(cd[c] for c in combo_src)
            + ([name_to_id[nm] for nm in entry_names],)
        )
    spark = rows.sparkSession
    dim_schema = T.StructType(
        [T.StructField(f"__cmb_{c}", T.StringType(), True) for c in combo_src]
        + [T.StructField("idx", T.ArrayType(T.IntegerType(), False), False)]
    )
    # single slice: the dim table is driver-built and broadcast — default
    # parallelization would make its materialization a full-width task
    # wave of mostly-empty slices (r13 optimization, guide §5.1)
    dim = spark.createDataFrame(
        spark.sparkContext.parallelize(dim_rows, 1), dim_schema
    )
    cond = None
    for c in combo_src:
        eq = F.col(c).cast("string").eqNullSafe(F.col(f"__cmb_{c}"))
        cond = eq if cond is None else (cond & eq)
    val_exprs = _packed_val_exprs(spec)
    return (
        rows.join(F.broadcast(dim), cond)
        .select(
            "row_id",
            "w0",
            "idx",
            F.array(*val_exprs).alias("val"),
        )
    )


def _packed_val_exprs(spec: MomentSpec) -> list["F.Column"]:
    """Packed-entry value expressions, in the same order as
    :func:`_combo_entry_names`."""
    val_exprs = [F.col(c).cast("double") for c in spec.numeric]
    if spec.intercept:
        val_exprs.append(F.lit(1.0))
    for _c in spec.onehot:
        val_exprs.append(F.lit(1.0))
    for a, b in spec.interactions:
        _, val = _interaction_entry(spec, a, b)
        val_exprs.append(val)
    return val_exprs


def vector_to_problem_tables(
    df: DataFrame,
    *,
    features_col: str = "features",
    weight_col: str,
    row_key: tuple[str, ...],
    feature_names: list[str] | None = None,
) -> ProblemTables:
    """Wide/Vector encoding adapter (SURVEY §1.1 dual encodings): turn an
    MLlib ``VectorUDT`` features column — e.g. a ``VectorAssembler``
    output — into the canonical long problem tables.

    The sparse/dense ``Vector`` duality maps directly: ``vector_to_array``
    + ``posexplode`` emits only the entries present after a zero filter,
    so a ``SparseVector`` pipeline stays sparse in the long encoding.
    """
    from pyspark.ml.functions import vector_to_array

    first = df.select(features_col).first()
    if first is None:
        raise ValueError("empty input")
    k = len(first[0])
    names = feature_names or [f"f{j}" for j in range(k)]
    if len(names) != k:
        raise ValueError(f"{len(names)} feature names for {k} features")

    w = F.col(weight_col).cast("double")
    rows = (
        df.filter(w > 0)
        .withColumn("row_id", F.xxhash64(*row_key))
        .withColumn("__arr", vector_to_array(F.col(features_col)))
        .select("row_id", w.alias("w0"), "__arr")
    )
    target = _spread_width(rows)
    if target is not None:
        rows = rows.repartition(target)
    # lazy: the counts agg below materializes the checkpoint (one scan)
    rows = rows.localCheckpoint(eager=False)
    counts = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("row_id").alias("nd"),
        F.sum("w0").alias("s"),
    ).first()
    if counts["n"] != counts["nd"]:
        raise ValueError(f"row_key {row_key} is not unique")

    spark = df.sparkSession
    # single slice: K driver rows consumed via broadcast joins (see
    # build_problem_tables) — avoid a defaultParallelism wave of empty slices
    moments = spark.createDataFrame(
        spark.sparkContext.parallelize([(j, names[j]) for j in range(k)], 1),
        "moment_id int, moment_name string",
    )
    x_long_w0 = (
        rows.select("row_id", "w0", F.posexplode("__arr").alias("moment_id", "value"))
        .filter(F.col("value") != 0.0)
        .select("row_id", F.col("moment_id").cast("int"), "value", "w0")
    )
    packed = rows.select(
        "row_id",
        "w0",
        F.expr(
            "filter(transform(__arr, (v, i) -> IF(v != 0.0D, i, -1)), i -> i >= 0)"
        ).cast("array<int>").alias("idx"),
        F.expr("filter(__arr, v -> v != 0.0D)").alias("val"),
    )
    return ProblemTables(
        x_long=x_long_w0.select("row_id", "moment_id", "value"),
        w0=rows.select("row_id", "w0"),
        moments=moments,
        moment_names=list(names),
        n=int(counts["n"]),
        sum_w0=float(counts["s"]),
        moment_groups=["" for _ in names],
        x_long_w0=x_long_w0,
        packed_arrays=packed,
    )


def targets_from_weighted_means(
    df: DataFrame, spec: MomentSpec, *, perturb: float = 0.0
) -> DataFrame:
    """Compute target moments as the data's own weighted means (optionally
    perturbed) — the pattern the reference's tests use to generate feasible
    targets (ref: test_penalty.py:16 'mean of last 100 rows';
    pums_example.py:244-247).

    The denominator is the GLOBAL Σw0 over all prepared rows: target_j =
    Σ_i x_ij·w0_i / Σ_i w0_i, matching the solver's constraint
    ``X^T w = m·Σw0``.  (Dividing per moment group would make every one-hot
    indicator's target 1.0 — a category's *within-category* mean — instead
    of its population share.)

    Returns ``(moment_name, target)``; join with the moment dictionary for
    integer keys.
    """
    rows = prepared_rows(df, spec)
    long = long_moments(rows, spec)
    total = rows.agg(F.sum("w0").alias("__sum_w0"))
    t = (
        long.groupBy("moment_name")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("__wtotal"))
        .crossJoin(F.broadcast(total))
        .select(
            "moment_name",
            (F.col("__wtotal") / F.col("__sum_w0")).alias("target"),
        )
    )
    if perturb:
        t = t.withColumn("target", F.col("target") * (1.0 + F.lit(perturb)))
    return t


def targets_from_problem(
    pt: ProblemTables, *, perturb: float = 0.0
) -> DataFrame:
    """Same as :func:`targets_from_weighted_means` but over already-built
    problem tables — reuses the materialized x_long/w0 instead of re-running
    the prep plan.  Returns ``(moment_name, target)``.

    Fast path: when the builder recorded per-moment weighted sums from its
    combo-stats aggregate (``pt.weighted_sums``), the targets come from
    driver arithmetic and a local relation — ZERO cluster scans (r13
    optimization); the relational aggregate below is the fallback for
    tables built without them (row_key specs, hand-built ProblemTables)."""
    if pt.weighted_sums is not None and pt.sum_w0:
        spark = pt.moments.sparkSession
        factor = 1.0 + float(perturb)
        data = [
            (nm, pt.weighted_sums[nm] / pt.sum_w0 * factor)
            for nm in pt.moment_names
            if nm in pt.weighted_sums
        ]
        # single-slice local relation: the default createDataFrame
        # parallelizes K rows across defaultParallelism empty slices, so
        # every later action on the targets pays a full-width task wave
        # for driver-held data (r13 optimization, guide §5.1)
        return spark.createDataFrame(
            spark.sparkContext.parallelize(data, 1),
            "moment_name string, target double",
        )
    long_w = (
        pt.x_long_w0
        if pt.x_long_w0 is not None
        else pt.x_long.join(pt.w0, "row_id")
    )
    t = long_w.groupBy("moment_id").agg(
        F.sum(F.col("value") * F.col("w0")).alias("__wtotal")
    )
    if pt.sum_w0 is not None:
        t = t.withColumn("__sum_w0", F.lit(pt.sum_w0))
    else:
        t = t.crossJoin(
            F.broadcast(pt.w0.agg(F.sum("w0").alias("__sum_w0")))
        )
    t = t.join(F.broadcast(pt.moments), "moment_id").select(
        "moment_name",
        (F.col("__wtotal") / F.col("__sum_w0")).alias("target"),
    )
    if perturb:
        t = t.withColumn("target", F.col("target") * (1.0 + F.lit(perturb)))
    return t
