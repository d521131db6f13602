"""Mergeable frequency sketches — count-min over arbitrary key streams.

Count-min sketch (Cormode & Muthukrishnan 2005, public): a depth×width
counter grid; every item increments one counter per row (column =
row-salted hash mod width); a point estimate is the MIN over the
item's depth cells.  Guarantees: the estimate never undercounts, and
overcounts by more than ``ε·N`` (``width = ⌈e/ε⌉``) with probability
at most ``δ`` (``depth = ⌈ln 1/δ⌉``).

Why this shape on Spark: the sketch IS a DataFrame aggregation —
explode each item into its ``depth`` (row, col) cells, then one
map-side-combined groupBy.  The shuffle carries at most
``depth × width`` distinct cells per map partition regardless of input
size, so a 100 TB key stream reduces to a ≤ depth×width-row table: the
sketch is the textbook example of a bounded-state streaming aggregate
(it drops into ``readStream`` unchanged).  Sketches over different
corpus shards union+re-aggregate to the merged sketch (counter-wise
addition — the CMS merge law).

Hashes route through ``functions.hashing``: ``portable=True`` makes
every cell index bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.functions.hashing import hash64


def _cell(key: Column, d: int, width: int, portable: bool) -> Column:
    """Column index of row ``d``: row-salted hash mod width (pmod —
    xxhash64 is signed)."""
    return F.pmod(
        hash64(F.concat(key.cast("string"), F.lit(f"#cms{d}")), portable),
        F.lit(width),
    )


def count_min_sketch(
    items: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    count_col: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """Build the sketch: ``(row, col, cnt)`` — at most depth×width rows.

    ``count_col`` weights each item (e.g. pre-aggregated term counts);
    default weight 1.  Merging shards = union of sketches + the same
    groupBy/sum.
    """
    if depth <= 0 or width <= 0:
        raise ValueError(f"count_min_sketch: depth/width must be positive, got {depth}x{width}")
    key = F.col(key_col)
    cells = [
        F.struct(
            F.lit(d).alias("row"), _cell(key, d, width, portable).alias("col")
        )
        for d in range(depth)
    ]
    cnt = (
        F.lit(1).cast("long")
        if count_col is None
        else F.col(count_col).cast("long")
    )
    return (
        items.select(F.explode(F.array(*cells)).alias("rc"), cnt.alias("c"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.sum("c").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    portable: bool = False,
) -> DataFrame:
    """Point estimates ``(key, est)`` for every row of ``keys``:
    min over the key's depth cells (missing cell → 0 — the key was
    never inserted there).  ``depth``/``width``/``portable`` must match
    the sketch's build parameters.

    Plan: keys × depth probe rows (a ``depth``-way explode), one
    broadcast-sized equi-join on (row, col) against the ≤ depth×width
    sketch, one min-groupBy back to key grain.
    """
    key = F.col(key_col)
    probes = keys.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        _cell(key, d, width, portable).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("key", "rc.row", "rc.col")
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy("key")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est")
        )
    )


def bloom_build(
    items: DataFrame,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Build a Bloom filter (Bloom 1970, public) as a SET-BITS table
    ``(bit,)`` — at most ``n_bits`` rows, usually far fewer: each key
    sets ``n_hashes`` salted-hash bits; the table is the sparse bitmap.

    Same scale logic as the count-min sketch: the explode+distinct
    reduces any input size to a bounded table; shard filters union+
    distinct to the merged filter.  Sizing: false-positive rate ≈
    ``(1 − e^{−kn/m})^k`` for n keys, m bits, k hashes.
    """
    if n_bits <= 0 or n_hashes <= 0:
        raise ValueError(
            f"bloom_build: n_bits/n_hashes must be positive, got {n_bits}/{n_hashes}"
        )
    key = F.col(key_col)
    bits = [
        F.pmod(
            hash64(F.concat(key.cast("string"), F.lit(f"#bf{i}")), portable),
            F.lit(n_bits),
        )
        for i in range(n_hashes)
    ]
    return (
        items.select(F.explode(F.array(*bits)).alias("bit")).distinct()
    )


def bloom_contains(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Membership probes ``(key, maybe_present)`` — true iff ALL of the
    key's bits are set.  No false negatives (every inserted key reports
    true); false positives at the sized rate.  Parameters must match
    the build.

    Plan: keys × n_hashes probe explode, one broadcast join against the
    bounded set-bits table, one all-bits-present groupBy.
    """
    key = F.col(key_col)
    probes = keys.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.pmod(
                        hash64(
                            F.concat(key.cast("string"), F.lit(f"#bf{i}")),
                            portable,
                        ),
                        F.lit(n_bits),
                    )
                    for i in range(n_hashes)
                ]
            )
        ).alias("bit"),
    )
    marked = bloom.select("bit", F.lit(1).alias("present"))
    return (
        probes.join(F.broadcast(marked), "bit", "left")
        .groupBy("key")
        .agg(
            (F.min(F.coalesce(F.col("present"), F.lit(0))) == 1).alias(
                "maybe_present"
            )
        )
    )


def hll_register_table(
    items: DataFrame,
    key_col: str,
    p: int = 6,
    portable: bool = False,
) -> DataFrame:
    """The HyperLogLog register table ``(reg, mx)`` — ≤ 2^p rows: the
    same hash → (register, rho) derivation the HyperBall operator
    iterates (operators/hyperball.py), aggregated once over a static
    key stream.  This table IS the mergeable sketch state: shard tables
    union + re-max to the merged sketch, and the aggregation is
    streaming-legal as-is (bounded state).
    """
    m = 1 << p
    bits = 60 if portable else 64
    h = hash64(F.col(key_col).cast("string"), portable)
    w = F.shiftrightunsigned(h, p)
    rho = F.when(w == 0, F.lit(bits - p + 1)).otherwise(
        (F.lit(bits - p) - F.floor(F.log2(w.cast("double")))).cast("int")
    )
    return (
        items.select(
            F.pmod(h, F.lit(m)).cast("int").alias("reg"), rho.alias("rho")
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
    )


def hll_estimate_from_registers(registers: DataFrame, p: int = 6) -> DataFrame:
    """Cardinality estimate from a ``(reg, mx)`` register table: alpha
    bias correction + the small-range linear-counting switch (Flajolet
    et al. 2007).  One row: ``(m, n_zero_registers, raw_estimate,
    estimate)``."""
    from smatchpp_spark.operators.hyperball import _alpha

    m = 1 << p
    agg = registers.agg(
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("mx").cast("double"))), F.lit(0.0)
        ).alias("s"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    zeros = F.lit(m) - F.col("nonzero")
    z = F.col("s") + zeros.cast("double")
    raw = F.lit(_alpha(m) * m * m) / z
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), lin).otherwise(raw)
    return agg.select(
        F.lit(m).alias("m"),
        zeros.cast("long").alias("n_zero_registers"),
        F.round(raw, 6).alias("raw_estimate"),
        F.round(est, 6).alias("estimate"),
    )


def hll_distinct(
    items: DataFrame,
    key_col: str,
    p: int = 6,
    portable: bool = False,
) -> DataFrame:
    """Approximate COUNT DISTINCT via a single HyperLogLog
    (Flajolet et al. 2007, public): ``hll_register_table`` →
    ``hll_estimate_from_registers``.  Standard error ≈ ``1.04/√m``.

    Scale shape: the (register, rho) derivation is a scan projection;
    the register groupBy is map-side combined and bounded by
    ``m = 2^p`` rows per partition — like the CMS, a bounded-state
    aggregate that also works as a streaming sink.
    """
    return hll_estimate_from_registers(
        hll_register_table(items, key_col, p, portable), p
    )
