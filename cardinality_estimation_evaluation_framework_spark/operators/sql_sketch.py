"""Pure-Catalyst (zero-Python) sketch builds — the scan-speed path.

The Arrow JVM->Python transfer is the throughput ceiling of the pandas
kernels (~6.5M rows/s machine-wide in this sandbox regardless of cores).
These builders express the ENTIRE sketch update in Spark SQL built-ins
(xxhash64 + bit ops + groupBy with map-side partial aggregation), so the
hot path stays inside whole-stage codegen and scales with the scan:

- HLL++: bucket = top-p bits of xxhash64, rho = leading zeros of the low
  window + 1; ``groupBy(bucket).max(rho)`` — partial max per partition,
  shuffle carries at most m rows per partition.
- count-min: depth seeded hashes -> ``groupBy(r, bucket).count()`` (counts
  are exact aggregates, so the SQL build is exactly a count-min table).
- exponential ADBF: the register distribution is a truncated geometric in
  disguise (probs_i ∝ q^(i+1) with q = exp(-a/(m+1))), so the inverse CDF
  has the closed form i = ceil(log1p(-u*(1-q^m)) / ln q) - 1 — one float
  expression instead of a searchsorted kernel.

Each builder returns a register-level DataFrame AND a ``*_state`` twin that
collects it into the matching kernel State, so estimates reuse the tested
estimator formulas. Seeding: ``xxhash64(lit(seed), col)`` gives an
independent hash family per seed (xxhash64 is Spark's native 64-bit hash;
estimator accuracy bounds are distribution-level, so the Python kernels'
splitmix64 and this path are interchangeable statistically — pinned by
tests against exact counts and against each other's estimates).

Semantics note (rho): Java ``log2`` on doubles is exact for w < 2^53, i.e.
window <= 53 bits (p >= 11). For smaller p the bit length falls back to
``length(bin(w))`` (exact at any width, slightly slower).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from cardinality_estimation_evaluation_framework_spark.sketches.base import State
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
    CountMinKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
    THRESHOLD,
    _alpha,
)


def _seeded_hash(col, seed: int):
    """Independent 64-bit hash family: xxhash64(seed, x)."""
    return F.xxhash64(F.lit(seed), col)


def _bit_length(col, max_bits: int):
    """Exact bit length of a non-negative long column.

    ``length(bin(w))`` (Long.toBinaryString) is exact at any width. A
    float ``floor(log2(w)) + 1`` path is NOT: log2 rounds UP for w just
    below 2^k once k >= 48 (verified numerically: floor(log2(2^48-1)) = 48),
    which would emit rho = 0 for ~1e-14 of hashes — invisible in tests,
    plausible at 10^11 tokens. Exactness beats the ~string-alloc cost."""
    _ = max_bits
    return F.length(F.bin(col))


def _hll_bucket_rho(h, p: int):
    """(bucket, rho) column pair from a 64-bit hash column — the single
    definition all HLL SQL builders share."""
    window = 64 - p
    bucket = F.shiftrightunsigned(h, window).cast("int")
    w = h.bitwiseAND(F.lit((1 << window) - 1))
    rho = (
        F.when(w == 0, F.lit(window + 1))
        .otherwise(F.lit(window) - _bit_length(w, window) + 1)
        .cast("int")
    )
    return bucket, rho


def _adbf_bucket(h, m: int, decay_rate: float):
    """Exp-ADBF register index column from a 64-bit hash column (closed-form
    truncated-geometric inverse CDF) — single shared definition."""
    a = decay_rate
    q = math.exp(-a / (m + 1))
    u = (h.cast("double") / F.lit(float(2**64))) + F.when(
        h < 0, F.lit(1.0)
    ).otherwise(F.lit(0.0))
    idx = F.ceil(F.log1p(-u * F.lit(1.0 - q**m)) / F.lit(math.log(q))) - 1
    return F.greatest(F.lit(0), F.least(F.lit(m - 1), idx)).cast("int")


def hll_registers_sql(items: DataFrame, p: int = 14, seed: int = 0,
                      col: str = "item") -> DataFrame:
    """(bucket int, rho int) HLL++ register table, built entirely JVM-side.

    Plan shape: scan -> codegen project (hash/shift/mask) -> partial max ->
    exchange of <= m rows/partition -> final max. No Python anywhere.
    """
    return hll_registers_by_key_sql(items, [], p, seed, col)


def hll_estimate_sql(items: DataFrame, p: int = 14, seed: int = 0,
                     col: str = "item") -> float:
    """Distinct-count estimate from the SQL register build (HLL++ formula
    with linear-counting fallback, same as HllKernel.estimate)."""
    m = 1 << p
    regs = np.zeros(m, dtype=np.int8)
    for r in hll_registers_sql(items, p, seed, col).collect():
        regs[r["bucket"]] = r["rho"]
    raw = _alpha(m) * m**2 / float(np.sum(np.exp2(-regs.astype(np.float64))))
    v = int(np.count_nonzero(regs == 0))
    if v != 0:
        lc = m * math.log(m / v)
        if lc <= THRESHOLD[p]:
            return float(lc)
    return float(raw)


def countmin_table_sql(items: DataFrame, width: int = 2048, depth: int = 5,
                       seed: int = 0, col: str = "item") -> DataFrame:
    """(r int, bucket int, cnt long) count-min table, JVM-side.

    One explode of depth hash rows per item, then a counted groupBy —
    map-side combine keeps the shuffle at <= depth*width rows/partition.
    """
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(_seeded_hash(F.col(col), seed * 31 + r), F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for r in range(depth)
        ])
    )
    return (
        items.select(rows.alias("rb"))
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def countmin_state_sql(items: DataFrame, width: int = 2048, depth: int = 5,
                       seed: int = 0, col: str = "item") -> State:
    """Collect the SQL table into a CountMinKernel-shaped State.

    n is recovered from row 0's column sums (every item increments exactly
    one bucket per row), so no extra scan is paid. IMPORTANT: this table is
    built with Spark's xxhash64 family, which the numpy kernel cannot
    reproduce — point queries must go through :func:`countmin_query_sql`
    (same SQL hash), NEVER through CountMinKernel.query (splitmix64 —
    would read unrelated buckets and break the est >= true guarantee)."""
    kernel = CountMinKernel(width=width, depth=depth, seed=seed)
    state = kernel.empty()
    for r in countmin_table_sql(items, width, depth, seed, col).collect():
        state["table"][r["r"], r["bucket"]] = r["cnt"]
    state["n"][0] = int(state["table"][0].sum())
    return state


def countmin_query_sql(spark, state: State, values, width: int = 2048,
                       depth: int = 5, seed: int = 0) -> np.ndarray:
    """Point queries against a countmin_state_sql table: bucket indices for
    the queried values are computed with the SAME xxhash64 SQL expressions
    that built the table, then the usual min-over-rows upper bound."""
    vals_df = spark.createDataFrame(
        [(int(v),) for v in values], "item long")
    bucket_cols = [
        F.pmod(_seeded_hash(F.col("item"), seed * 31 + r), F.lit(width))
        .cast("int").alias(f"b{r}")
        for r in range(depth)
    ]
    rows = vals_df.select("item", *bucket_cols).collect()
    by_item = {r["item"]: [r[f"b{i}"] for i in range(depth)] for r in rows}
    out = np.empty(len(values), dtype=np.int64)
    for i, v in enumerate(values):
        buckets = by_item[int(v)]
        out[i] = min(int(state["table"][r, b]) for r, b in enumerate(buckets))
    return out


def exp_adbf_registers_sql(items: DataFrame, m: int = 65536,
                           decay_rate: float = 10.0, seed: int = 0,
                           col: str = "item") -> DataFrame:
    """(bucket int) active-register set of an exponential ADBF, JVM-side.

    probs_i ∝ exp(-a(i+1)/(m+1)) = q^(i+1), q = exp(-a/(m+1)) — a truncated
    geometric, so bounds_i = (1-q^(i+1))/(1-q^m) and the searchsorted
    becomes the closed form i = ceil(ln(1-u(1-q^m)) / ln q) - 1 with
    u = hash/2^64 in [0,1). Register-identical to the numpy inverse-CDF up
    to float boundary ulps (distribution-level identical; estimator bounds
    unaffected), pinned statistically in tests.
    """
    h = _seeded_hash(F.col(col), seed)
    bucket = _adbf_bucket(h, m, decay_rate)
    return items.select(bucket.alias("bucket")).distinct()


def exp_adbf_estimate_sql(items: DataFrame, m: int = 65536,
                          decay_rate: float = 10.0, seed: int = 0,
                          col: str = "item") -> float:
    """First-moment 'exp' estimate from the SQL register build (reuses the
    tested expi-based inversion from sketches.bloom)."""
    from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
        BloomKernel,
        first_moment_estimate,
    )

    kernel = BloomKernel(dist_kind="exponential", m=m, seed=seed,
                         decay_rate=decay_rate)
    active = [r["bucket"] for r in
              exp_adbf_registers_sql(items, m, decay_rate, seed, col).collect()]
    state = kernel.empty()
    state["registers"][np.asarray(active, dtype=np.int64)] = 1.0
    return first_moment_estimate(kernel, state, method="exp")


def hll_registers_by_key_sql(items: DataFrame, keys: list[str], p: int = 14,
                             seed: int = 0, col: str = "item") -> DataFrame:
    """Per-key HLL register tables, entirely JVM-side:
    ``groupBy(*keys, bucket).max(rho)`` — the grouped twin of
    hll_registers_sql. Map-side combine bounds the shuffle at
    (#keys-per-partition x m) rows regardless of row count, so a partition
    with 10^9 rows of one hot key still emits <= m rows for it (the same
    skew-immunity argument as the Arrow grouped_sketch, at scan speed)."""
    h = _seeded_hash(F.col(col), seed)
    bucket, rho = _hll_bucket_rho(h, p)
    return (
        items.select(*keys, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimates_by_key_sql(items: DataFrame, keys: list[str], p: int = 14,
                             seed: int = 0, col: str = "item") -> DataFrame:
    """(keys..., estimate double): per-key distinct-count estimates computed
    FROM the register tables WITHOUT collecting them — the HLL++ formula
    (raw + linear-counting fallback) is itself a groupBy aggregate:

        raw = alpha*m^2 / (sum(2^-rho over present buckets) + (m - #present))
        v   = m - #present buckets
        lc  = m * ln(m / v)                      (when v > 0)
        est = lc if v>0 and lc <= threshold else raw

    so a BILLION keys never touch the driver."""
    m = 1 << p
    regs = hll_registers_by_key_sql(items, keys, p, seed, col)
    alpha = _alpha(m)
    present = F.count("*")
    sum_pow = F.sum(F.pow(F.lit(2.0), -F.col("rho").cast("double")))
    v = (F.lit(m) - present).cast("double")
    raw = F.lit(alpha * m * m) / (sum_pow + v)  # absent buckets contribute 2^0
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    est = F.when(
        (v > 0) & (lc <= F.lit(float(THRESHOLD[p]))), lc
    ).otherwise(raw)
    return regs.groupBy(*keys).agg(est.alias("estimate"))


def countmin_table_by_key_sql(items: DataFrame, keys: list[str],
                              width: int = 2048, depth: int = 5,
                              seed: int = 0, col: str = "item") -> DataFrame:
    """(keys..., r, bucket, cnt) — per-key count-min tables, JVM-side; the
    grouped twin of countmin_table_sql (map-side combine bounds the shuffle
    at keys x depth x width rows per partition)."""
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(_seeded_hash(F.col(col), seed * 31 + r), F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for r in range(depth)
        ])
    )
    return (
        items.select(*keys, rows.alias("rb"))
        .select(*keys, "rb.r", "rb.bucket")
        .groupBy(*keys, "r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def exp_adbf_registers_by_key_sql(items: DataFrame, keys: list[str],
                                  m: int = 65536, decay_rate: float = 10.0,
                                  seed: int = 0, col: str = "item") -> DataFrame:
    """(keys..., bucket) — per-key exp-ADBF active-register sets, JVM-side;
    grouped twin of exp_adbf_registers_sql."""
    h = _seeded_hash(F.col(col), seed)
    bucket = _adbf_bucket(h, m, decay_rate)
    return items.select(*keys, bucket.alias("bucket")).distinct()
