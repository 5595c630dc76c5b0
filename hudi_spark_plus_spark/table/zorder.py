"""Z-order (Morton) clustering command (SURVEY M5; reference kernel
BitUtil.java:122-157 interleave/deinterleave).

The reference vendors Hudi's bit-interleave primitives for multi-column
data layout. Spark-native equivalent: compute the Morton code of the
cluster columns as a JVM bit expression, then rewrite the table
range-partitioned + sorted by that code. Files then hold tight min/max
ranges on BOTH dimensions, so commit-log stats pruning (and parquet
row-group pruning) can skip files for predicates on either column — the
file-skipping payoff the reference gets from Hudi clustering.

Everything is a pure Column expression (``aggregate`` over bit indices):
no UDF, whole-stage codegen applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Magic-number bit spread: x's bit i moves to bit 2i in five constant
# shift-mask steps (the classic Morton dilation) — pure 64-bit integer
# arithmetic, whole-stage codegen, O(1) per row. The r1-r3 formulation
# (aggregate over sequence(0, bits-1)) ran an INTERPRETED lambda per
# row per bit and dominated the cluster command's wall-clock.
_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_expr(col_sql: str, bits: int) -> str:
    """SQL for dilating the low ``bits`` bits of a bigint (bit i -> 2i)."""
    x = f"(cast({col_sql} as bigint) & {(1 << bits) - 1})"
    for shift, mask in _SPREAD_STEPS:
        if shift >= bits:
            continue  # no bit of the input crosses this distance
        x = f"((({x}) | shiftleft(({x}), {shift})) & {mask})"
    return x


def interleave_bits(even: Column | str, odd: Column | str, bits: int = 32) -> Column:
    """Morton interleave: bit i of ``even`` -> bit 2i, bit i of ``odd`` ->
    bit 2i+1 (the reference's BitUtil.interleave semantics). Inputs are
    taken as non-negative ints of up to 32 significant bits. Constant
    shift-mask dilation — codegen arithmetic, no lambda."""
    e = F.col(even) if isinstance(even, str) else even
    o = F.col(odd) if isinstance(odd, str) else odd
    return F.expr(
        f"({_spread_expr(e._jc.toString(), bits)})"
        f" | shiftleft({_spread_expr(o._jc.toString(), bits)}, 1)"
    )


def interleave_bits_n(cols: list[Column], bits: int = 8) -> Column:
    """N-dimensional Morton interleave: bit i of column j lands at bit
    ``i*n + j`` (the 2-column kernel generalized the way Hudi's
    multi-column Z-order does). UNROLLED shift-mask arithmetic — n*bits
    compiled terms, no interpreted lambda (n*bits <= 63 to fit a
    bigint)."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"z-value needs {n * bits} bits; max 63")
    terms = []
    for j, c in enumerate(cols):
        sql = c._jc.toString()
        for i in range(bits):
            terms.append(
                f"shiftleft(cast(shiftright({sql}, {i}) & 1 as bigint),"
                f" {i * n + j})"
            )
    return F.expr("(" + " + ".join(terms) + ")")


def deinterleave_bits(z: Column | str, bits: int = 32) -> tuple[Column, Column]:
    """Inverse: (even, odd) halves of a Morton code."""
    zc = (F.col(z) if isinstance(z, str) else z)._jc.toString()
    even = F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) ->"
        f" acc + shiftleft(cast(shiftright({zc}, 2 * i) & 1 as bigint), i))"
    )
    odd = F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) ->"
        f" acc + shiftleft(cast(shiftright({zc}, 2 * i + 1) & 1 as bigint), i))"
    )
    return even, odd


# Bins per clustered dimension: 2^8 quantile bins give a 16-bit Morton
# code = 65,536 cells — orders of magnitude more than any realistic
# file count (the code only needs to ORDER files; within-file order
# beyond that granularity buys nothing). Fewer bins => a much smaller
# Greenwald-Khanna sketch: the quantile pass is the cluster command's
# fixed cost, and 1023 probes at 0.001 rel-err dominated it in r3.
BIN_BITS = 8
QUANTILE_REL_ERR = 0.005

_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)


def _surrogate_expr(dtype: str, col: str) -> Column:
    """Order-preserving numeric surrogate for a cluster column (quantile
    sketches need numerics). Strings use their first 6 bytes as a
    big-endian integer — lexicographic order preserved, and 48 bits stays
    exact in a double."""
    c = F.col(col)
    if dtype.startswith(_NUMERIC_PREFIXES) or dtype == "boolean":
        return c.cast("double")
    if dtype == "date":
        return c.cast("timestamp").cast("double")
    if dtype.startswith("timestamp"):
        return c.cast("double")
    if dtype in ("string", "binary"):
        # zero-PAD the 6-byte prefix before hex: without it a short
        # value's smaller hex magnitude breaks order ('b' = 0x62 would
        # sort below 'aa' = 0x6161); big-endian zero-padded bytes keep
        # lexicographic order exactly
        b_sql = f"encode(`{col}`, 'UTF-8')" if dtype == "string" else f"`{col}`"
        return F.expr(
            f"conv(hex(rpad(substring({b_sql}, 1, 6), 6, x'00')), 16, 10)"
        ).cast("double")
    raise ValueError(f"zorder: unsupported cluster column type {dtype}")


def _bucketize(
    df: DataFrame,
    col: str,
    out: str,
    edges: list[float],
    bits: int = None,
) -> DataFrame:
    """Quantile-bin ``col`` into [0, 2^BIN_BITS) via ``ml.Bucketizer`` —
    JVM binary search over the split array, O(log bins) per row (the r3
    ``filter(arr, e -> e <= v)`` scan was O(bins) INTERPRETED lambda
    evals per row and dominated wall-clock at ~1K bins). Never a
    shuffle, never a sort. The raw id is rescaled to the full range so
    a low-cardinality dimension (few distinct edges) still exercises
    its high Morton bits instead of being dominated by the other column
    (the rank-normalization contract)."""
    uniq = sorted({e for e in edges if e == e})  # drop NaN sketch output
    if not uniq:  # empty/all-null column: single bin
        return df.withColumn(out, F.lit(0).cast("bigint"))
    from pyspark.ml.feature import Bucketizer

    top = (1 << (bits if bits is not None else BIN_BITS)) - 1
    raw = out + "_raw"
    b = Bucketizer(
        splits=[float("-inf")] + uniq + [float("inf")],
        inputCol=col,
        outputCol=raw,
        handleInvalid="keep",  # nulls -> overflow bucket, clamped below
    )
    return (
        b.transform(df)
        .withColumn(
            out,
            F.least(
                F.floor(F.col(raw) * top / len(uniq)), F.lit(top)
            ).cast("bigint"),
        )
        .drop(raw)
    )


def with_zvalue(df: DataFrame, col_a: str, col_b: str, out: str = "_z") -> DataFrame:
    """Attach the Morton code of two quantile-binned columns.

    Rank normalization (standard Z-order practice — raw values with wild
    ranges would starve one dimension) uses ``approxQuantile`` bin edges:
    ONE distributed Greenwald-Khanna sketch pass computes both columns'
    edges, and the value->bin mapping is a pure Column expression. The
    round-1 implementation's no-partition ``percent_rank`` window moved
    the ENTIRE table through a single task per clustered column — exactly
    the wrong shape for the command whose purpose is 100x-scale layout
    (VERDICT r1 "What's wrong" #1)."""
    sa, sb = "__zq_a", "__zq_b"
    dtypes = dict(df.dtypes)
    d = df.withColumn(sa, _surrogate_expr(dtypes[col_a], col_a)).withColumn(
        sb, _surrogate_expr(dtypes[col_b], col_b)
    )
    n_bins = 1 << BIN_BITS
    probs = [i / n_bins for i in range(1, n_bins)]
    qa, qb = d.approxQuantile([sa, sb], probs, QUANTILE_REL_ERR)
    d = _bucketize(d, sa, "_ra", qa)
    d = _bucketize(d, sb, "_rb", qb)
    return d.withColumn(
        out, interleave_bits(F.col("_ra"), F.col("_rb"), bits=BIN_BITS)
    ).drop("_ra", "_rb", sa, sb)


def with_zvalue_n(
    df: DataFrame, cols: list[str], out: str = "_z"
) -> DataFrame:
    """N-column generalization of :func:`with_zvalue` (the surface
    Hudi's multi-column ``OPTIMIZE ... ZORDER BY (a, b, c)`` exposes):
    quantile-bin every cluster column with ONE shared approxQuantile
    sketch pass, then round-robin bit-interleave all of them. Bits per
    dimension shrink as dimensions grow (63-bit budget), which mirrors
    the real trade — each added dimension halves the locality the curve
    can give the others."""
    if len(cols) < 2:
        raise ValueError("z-ordering needs at least 2 columns")
    bits = min(BIN_BITS, 63 // len(cols))
    dtypes = dict(df.dtypes)
    surrogates = [f"__zq_{i}" for i in range(len(cols))]
    d = df
    for s, c in zip(surrogates, cols):
        d = d.withColumn(s, _surrogate_expr(dtypes[c], c))
    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    edges = d.approxQuantile(surrogates, probs, QUANTILE_REL_ERR)
    ranks = []
    for i, (s, e) in enumerate(zip(surrogates, edges)):
        r = f"__zr_{i}"
        d = _bucketize(d, s, r, e, bits=bits)
        ranks.append(r)
    return d.withColumn(
        out, interleave_bits_n([F.col(r) for r in ranks], bits=bits)
    ).drop(*ranks, *surrogates)


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    *more_cols: str,
) -> None:
    """Write ``df`` as parquet clustered by the Z-value of the cluster
    columns (2 on the fast magic-number path, N via ``with_zvalue_n``):
    range-partitioned so each file owns a contiguous Z range, sorted
    within files so parquet row-group stats are tight on every
    clustered column."""
    z = (
        with_zvalue(df, col_a, col_b)
        if not more_cols
        else with_zvalue_n(df, [col_a, col_b, *more_cols])
    )
    (
        z.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_cluster_table(
    lake,
    col_a: str,
    col_b: str,
    *more_cols: str,
    files_per_bucket: int = 4,
    partitions: list[str] | None = None,
) -> None:
    """OPTIMIZE ZORDER BY-equivalent for a LakeTable: rewrite the current
    snapshot with rows Z-ordered WITHIN each key bucket (same logical
    data, tombstones preserved). Keeping the bucket dirs preserves the
    merge path's selective copy-on-write; the Z sort within each bucket
    file tightens parquet row-group min/max on every cluster column, so
    predicate pushdown skips row groups server-side. Two columns take
    the magic-number interleave; 3+ go through ``with_zvalue_n``
    (Hudi's multi-column ZORDER BY surface).

    ``partitions`` scopes the rewrite to the named partitions (the
    OPTIMIZE ... WHERE surface): at 100 TB you cluster the hot days as
    they close, never the table — cost is O(named partitions), every
    other partition's files are carried by reference, untouched.
    Resolution safety: record identity on partitioned non-global tables
    is (partition, key), so a partition's rows resolve entirely within
    its own files; GLOBAL-index tables with live deltas refuse partition
    scoping (key-only identity resolves across partitions — a scoped
    rewrite could resurrect a row relocated away)."""
    if partitions is not None and not lake.partition_fields:
        raise ValueError("partitions= requires a partitioned table")

    def attempt() -> None:
        prev = lake.log.latest()
        if prev is None:
            return
        if partitions is None:
            carry = []
            snap = lake.snapshot(include_deleted=True)
            n_units = lake.buckets
        else:
            if lake.global_index and any(
                f.kind == "delta" for f in prev.files
            ):
                raise ValueError(
                    "partition-scoped clustering is unsafe on a GLOBAL-index "
                    "table with live deltas (key-only identity resolves "
                    "across partitions); compact() first"
                )
            pset = set(partitions)
            hit = [f for f in prev.files if f.partition in pset]
            carry = [f for f in prev.files if f.partition not in pset]
            if not hit:
                return
            snap = lake._read_resolved(hit, include_deleted=True)
            n_units = max(1, len({(f.partition, f.bucket) for f in hit}))
        z = lake._laid_out(
            with_zvalue(snap, col_a, col_b)
            if not more_cols
            else with_zvalue_n(snap, [col_a, col_b, *more_cols])
        )
        layout = lake._layout_cols()
        lake._write_commit(
            # range-partition on (layout, z): each output file owns ONE
            # (partition, bucket) unit's contiguous Z slice, so manifest
            # col_stats are tight on every cluster column and value-range
            # scans (scan_range) skip whole files — the col_stats payoff
            # z-order exists for
            z.repartitionByRange(
                n_units * files_per_bucket,
                *[F.col(c) for c in layout],
                F.col("_z"),
            )
            .sortWithinPartitions(*layout, "_z")
            .drop("_z"),
            "cluster", prev, carry, prev.schema_json,
        )

    # a lost publish race recomputes against the winner's timeline, and
    # the new files are re-indexed in-line like every other commit
    lake._with_commit_retries(attempt)
