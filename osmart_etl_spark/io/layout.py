"""Physical-layout helpers beyond partitioning/bucketing: z-order
(Morton-curve) clustering for multi-column data skipping.

Date-partitioning prunes one dimension; bucketing co-locates one join
key. When 100 TB scans filter on TWO independent columns (user AND
time, SKU AND store), neither helps the second column — min/max footer
stats of each file still span the whole domain. Interleaving the bits
of both columns into one sort key clusters files into hyper-rectangles,
so every file's min/max range is narrow in EVERY interleaved dimension
and parquet footer pruning works for all of them at once. This is the
same idea as Delta/Iceberg ``ZORDER BY``, built here from plain
DataFrame expressions (range-normalize → bit-interleave →
repartitionByRange + sortWithinPartitions).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _normalize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map ``col`` into [0, 2^bits) by linear range scaling (min/max from
    a broadcast 1-row aggregate). NULLs map to 0 — they cluster together
    at the curve origin, which is what a scan filter wants."""
    span = (hi.cast("double") - lo.cast("double"))
    frac = F.when(span > 0, (col.cast("double") - lo.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    scaled = F.least(
        F.floor(frac * (2**bits)).cast("long"), F.lit(2**bits - 1)
    )
    return F.coalesce(scaled, F.lit(0))


def zorder_key(norm_cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` of each already-normalized column into
    one Morton key (column i owns bit positions i, i+k, i+2k, ...). Pure
    shift/mask expressions — whole-stage codegen, no UDF.

    Every interleaved position must stay inside the positive range of a
    signed 64-bit long: with k columns the highest position is
    (bits-1)*k + (k-1), which must be < 63 — bit 63 would flip keys
    negative (splitting every hyper-rectangle around the curve origin)
    and positions >= 64 silently wrap (JVM shifts mask the count mod
    64). Raises instead of capping silently, because the NORMALIZATION
    must use the same width — capping only here would drop the scaled
    values' high bits and collide far-apart rows (round-12 review).
    ``write_zordered`` picks a safe width for both sides."""
    k = len(norm_cols)
    if bits * k > 63:
        raise ValueError(
            f"zorder_key: {k} columns x {bits} bits = positions up to "
            f"{(bits - 1) * k + (k - 1)}, past a long's 62 usable bits; "
            f"use bits <= {63 // k} (write_zordered does this for you)"
        )
    terms = []
    for i, c in enumerate(norm_cols):
        for b in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    return reduce(lambda a, t: a.bitwiseOR(t), terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the z-curve
    over ``cols``.

    One extra pass over the data: a broadcast min/max aggregate per
    column (1 row), then repartitionByRange on the Morton key (range
    exchange = sample + split, the same machinery as a global sort but
    only on the key) and an in-partition sort so row groups inside each
    file are clustered too. At 100 TB this is the compaction job's
    layout, not the ingest path's."""
    # one width for normalization AND interleave, capped to a long's
    # usable bits (see zorder_key): 2 cols keep 16, 4 get 15, 5 get 12
    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    norm = [
        _normalize(F.col(c), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), bits) for c in cols
    ]
    keyed = with_stats.withColumn("__z", zorder_key(norm, bits)).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


