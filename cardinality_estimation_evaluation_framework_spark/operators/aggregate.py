"""Partial + tree-merge sketch aggregation (the treeAggregate-style core).

The reference builds one sketch per set by streaming ids through ``add``
(ref: simulator.py:167-171) in a single process. At 10^12 tokens the Spark
equivalent is a two-phase aggregation that Catalyst cannot derive for Python
UDAFs, so it is built explicitly (SURVEY §4):

  stage 1 (map side)   : ``mapInPandas`` folds each input partition's Arrow
                         batches into ONE partial state (or one per group
                         key — a map-side combine), emitting O(m) bytes per
                         partition instead of O(rows).
  stage 2 (reduce side): iterative executor-side tree merge with fanout F —
                         ``groupBy(gid % width).applyInPandas(merge)`` —
                         until few enough partials remain to collect;
                         the driver folds the rest. Depth = ceil(log_F P),
                         driver traffic O(F * m), never O(P * m).

Because every kernel's merge is associative + commutative, any partitioning
and any tree shape produce bit-identical registers (tested in
tests/test_property_merge.py), mirroring the reference's merge contracts
(ref: any_sketch.py:36-105, hyper_log_log.py:217-246).

Scale notes (100 TB posture):
- Raw rows are never shuffled for a global sketch: the only shuffle moves
  packed states (KB each). For grouped sketches the shuffle moves
  (#partitions x #groups) states, the minimum possible for a hash agg.
- Value skew is neutralized by the map-side combine (a partition with 10^9
  repeats of one key still emits one state). Input-placement skew is
  handled by an optional pre-repartition (``input_partitions``); Spark AQE
  handles the rest.
- Strings are hashed to int64 by JVM-side xxhash64 *before* entering
  Python, so Arrow transfers 8 bytes/row and kernels stay numeric.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)

_PARTIAL_SCHEMA = StructType(
    [StructField("gid", LongType()), StructField("sketch", BinaryType())]
)


def items_column(df: DataFrame, col: str, input_dtype: str = "int64") -> DataFrame:
    """Project ``col`` to a single ``item`` column of the kernel's input
    dtype. Id sketches get int64 (strings hashed JVM-side via xxhash64 so
    Python never sees raw strings); value sketches (quantiles) get float64."""
    dtype = dict(df.dtypes)[col]
    c = F.col(col)
    if dtype.startswith("array"):
        raise ValueError("explode arrays before sketching (use explode_tokens)")
    if input_dtype == "float64":
        # drop nulls BEFORE the kernel: na_value=0 in the Arrow transfer
        # would silently inject 0.0 into quantile sketches and skew low
        # quantiles — a quantile over the raw column never sees nulls
        return df.where(c.isNotNull()).select(c.cast("double").alias("item"))
    if dtype in ("string", "binary"):
        c = F.xxhash64(c)
    return df.select(c.cast("long").alias("item"))


def explode_tokens(df: DataFrame, tokens_col: str = "tokens", spread: bool = True) -> DataFrame:
    """tokens array<int32> → one int64 ``item`` per token (Catalyst explode,
    whole-stage codegen; no Python involved).

    ``spread``: when the input arrives under-partitioned (single local file),
    repartition the DOC rows before exploding — moving ~100x fewer bytes
    than a post-explode shuffle of raw tokens would. On a real multi-split
    scan this is a no-op."""
    if spread:
        sc = df.sparkSession.sparkContext
        if df.rdd.getNumPartitions() < sc.defaultParallelism:
            df = df.repartition(sc.defaultParallelism)
    return df.select(F.explode(F.col(tokens_col)).alias("_t")).select(
        F.col("_t").cast("long").alias("item")
    )


def salted_repartition(df: DataFrame, key_col: str, salt_buckets: int = 16,
                       partitions: int | None = None) -> DataFrame:
    """Explicit skew-salting: repartition on hash(key, salt) so one hot key's
    rows spread over ``salt_buckets`` tasks (north-rule requirement).

    For SKETCH aggregation this is rarely needed — the map-side combine in
    grouped_sketch_partials already collapses any per-partition key skew to
    one state — but exact aggregations (counts, joins) over a hot key need
    it, and it also spreads a pathological input placement before stage 1.
    The salt uses a deterministic hash of a per-row sequence, not rand(),
    so replays are stable.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    return (
        df.withColumn("_salt", salt)
        .repartition(n, F.col(key_col), F.col("_salt"))
        .drop("_salt")
    )


def salted_exact_counts(df: DataFrame, key_col: str, salt_buckets: int = 16) -> DataFrame:
    """Two-phase exact count for skewed keys: partial count per (key, salt)
    then final sum per key — the salted twin of ``groupBy(key).count()``.
    (Spark's hash agg already partial-aggregates; the explicit form also
    protects sort-based fallbacks and demonstrates the pattern.)"""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key_col, "_salt")
        .agg(F.count("*").alias("_c"))
    )
    return partial.groupBy(key_col).agg(F.sum("_c").cast("long").alias("count"))


def sketch_array_partials(
    df: DataFrame,
    kernel: SketchKernel,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Stage 1 over an ARRAY column: one Arrow row per document, token
    arrays flattened inside numpy.

    vs exploding first: the JVM never materializes per-token rows and Arrow
    transfers one list cell per doc instead of ~n_tok rows — measured ~15%
    faster on 100-token docs (token payload dominates; row overhead is the
    smaller term). Values are flattened per batch with np.concatenate and
    fed to the kernel in one call.
    """
    proj = df.select(F.col(tokens_col).alias("tokens"))
    sc = proj.sparkSession.sparkContext
    nparts = proj.rdd.getNumPartitions()
    if nparts < sc.defaultParallelism:
        nparts = sc.defaultParallelism
        proj = proj.repartition(nparts)
    np_dtype = np.float64 if getattr(kernel, "input_dtype", "int64") == "float64" else np.int64

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = kernel.empty()
        saw = False
        for pdf in batches:
            cells = [
                np.asarray(c) for c in pdf["tokens"].to_numpy() if c is not None and len(c)
            ]
            saw = saw or len(pdf) > 0
            if not cells:
                continue
            vals = np.concatenate(cells)
            kernel.update(state, vals.astype(np_dtype, copy=False))
        if saw:
            ctx = TaskContext.get()
            gid = ctx.partitionId() if ctx is not None else 0
            yield pd.DataFrame({"gid": [gid], "sketch": [kernel.pack(state)]})

    out = proj.mapInPandas(build, schema=_PARTIAL_SCHEMA)
    # the partial count is the stage-1 partition count, already known here;
    # recording it saves tree_merge a driver-side RDD conversion of the
    # mapInPandas plan (measured ~0.5 s of pure planning per sketch call)
    out._ceef_nparts = nparts  # type: ignore[attr-defined]
    return out


def sketch_tokens(
    df: DataFrame,
    kernel: SketchKernel,
    tokens_col: str = "tokens",
    fanout: int = 32,
) -> State:
    """Full pipeline over the canonical pre-tokenized table: token arrays →
    merged sketch state, no explode."""
    return tree_merge(sketch_array_partials(df, kernel, tokens_col), kernel, fanout)


def sketch_partials(
    df: DataFrame,
    kernel: SketchKernel,
    col: str = "item",
    input_partitions: int | None = None,
) -> DataFrame:
    """Stage 1: one packed partial state per input partition."""
    items = items_column(df, col, getattr(kernel, "input_dtype", "int64"))
    nparts = items.rdd.getNumPartitions()
    if input_partitions:
        items = items.repartition(input_partitions)
        nparts = input_partitions
    elif nparts < (default_par := items.sparkSession.sparkContext.defaultParallelism):
        # a 100 TB scan arrives with thousands of splits; a local single-file
        # read arrives with one — spread it so stage 1 uses every core
        items = items.repartition(default_par)
        nparts = default_par

    np_dtype = np.float64 if getattr(kernel, "input_dtype", "int64") == "float64" else np.int64

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = kernel.empty()
        saw = False
        for pdf in batches:
            vals = pdf["item"].to_numpy(dtype=np_dtype, na_value=0)
            kernel.update(state, vals)
            saw = True
        if saw:
            ctx = TaskContext.get()
            gid = ctx.partitionId() if ctx is not None else 0
            yield pd.DataFrame({"gid": [gid], "sketch": [kernel.pack(state)]})

    out = items.mapInPandas(build, schema=_PARTIAL_SCHEMA)
    # known stage-1 partition count — saves tree_merge an RDD conversion
    out._ceef_nparts = nparts  # type: ignore[attr-defined]
    return out


def _merge_fn(kernel: SketchKernel):
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = kernel.merge_packed(list(pdf["sketch"]))
        return pd.DataFrame({"gid": [int(pdf["gid"].iloc[0])], "sketch": [merged]})

    return merge


def tree_merge(
    partials: DataFrame,
    kernel: SketchKernel,
    fanout: int = 32,
    collect_threshold: int = 64,
) -> State:
    """Stage 2: executor-side tree reduction, then a short driver fold.

    The number of partials is bounded by the stage-1 partition count, which
    is known WITHOUT an action — so the whole tree is planned lazily and the
    input is scanned exactly once (a ``count()`` here would recompute the
    expensive stage 1 per level).
    """
    cur = partials
    n = getattr(partials, "_ceef_nparts", None)
    if n is None:
        n = partials.rdd.getNumPartitions()
    while n > collect_threshold:
        width = max(1, math.ceil(n / fanout))
        cur = (
            cur.withColumn("gid", F.pmod(F.col("gid"), F.lit(width)))
            .groupBy("gid")
            .applyInPandas(_merge_fn(kernel), schema=_PARTIAL_SCHEMA)
        )
        n = width
    # Arrow transfer for the final fetch: packed states are binary blobs
    # (KB-MB each) and the py4j row path moves them an order of magnitude
    # slower than Arrow batches (guide §6 "Arrow for driver transfers").
    raws = cur.select("sketch").toPandas()["sketch"].tolist()
    if not raws:
        return kernel.empty()
    spec_checked = kernel.merge_packed(raws)
    return kernel.unpack(spec_checked)


def sketch(
    df: DataFrame,
    kernel: SketchKernel,
    col: str = "item",
    input_partitions: int | None = None,
    fanout: int = 32,
) -> State:
    """Full pipeline: df[col] → merged sketch state on the driver."""
    return tree_merge(
        sketch_partials(df, kernel, col, input_partitions), kernel, fanout
    )


# --------------------------------------------------------------------------
# Grouped sketches: one sketch per key (e.g. per source / per campaign).
# --------------------------------------------------------------------------

def grouped_sketch_partials(
    df: DataFrame, kernel: SketchKernel, key_cols: list[str], col: str
) -> DataFrame:
    """Map-side combine: per (input partition, key) partial states."""
    dtype = dict(df.dtypes)[col]
    item = F.col(col)
    # mirror items_column's dtype contract exactly: float64 kernels
    # (KLL/t-digest) take the raw values cast to double (a long cast would
    # truncate; hashing strings would sketch hash values); id kernels hash
    # strings JVM-side then go int64
    in_dtype = getattr(kernel, "input_dtype", "int64")
    if in_dtype == "float64":
        # null items are dropped, not zero-filled (see items_column) — the
        # keys of all-null groups then simply emit no partial, matching
        # what a per-key quantile over the raw column would produce
        proj = df.where(item.isNotNull()).select(
            *key_cols, item.cast("double").alias("item")
        )
    else:
        if dtype in ("string", "binary"):
            item = F.xxhash64(item)
        proj = df.select(*key_cols, item.cast("long").alias("item"))
    default_par = proj.sparkSession.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < default_par:
        proj = proj.repartition(default_par)
    out_schema = StructType(
        [proj.schema[k] for k in key_cols]
        + [StructField("sketch", BinaryType()), StructField("rows", LongType())]
    )

    np_dtype = np.float64 if in_dtype == "float64" else np.int64

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, State] = {}
        counts: dict[tuple, int] = {}
        for pdf in batches:
            vals = pdf["item"].to_numpy(dtype=np_dtype, na_value=0)
            # vectorized per-key split: sort by key codes, slice runs
            # (single-key fast path skips the MultiIndex build;
            # use_na_sentinel=False keeps NULL keys as a real group — the
            # bare factorize would code them -1, silently folding null-key
            # rows into uniq[-1], i.e. the wrong key's sketch)
            if len(key_cols) == 1:
                codes, uniq = pd.factorize(
                    pdf[key_cols[0]], sort=False, use_na_sentinel=False
                )
            else:
                codes, uniq = pd.factorize(
                    pd.MultiIndex.from_frame(pdf[key_cols]), sort=False
                )
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            sorted_vals = vals[order]
            bounds = np.flatnonzero(np.diff(sorted_codes)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(sorted_codes)]))
            for s, e in zip(starts, ends):
                if s == e:
                    continue
                key = uniq[sorted_codes[s]]
                key = key if isinstance(key, tuple) else (key,)
                st = states.get(key)
                if st is None:
                    st = states[key] = kernel.empty()
                    counts[key] = 0
                kernel.update(st, sorted_vals[s:e])
                counts[key] += e - s
        if states:
            rows = {k: [key[i] for key in states] for i, k in enumerate(key_cols)}
            rows["sketch"] = [kernel.pack(st) for st in states.values()]
            rows["rows"] = [counts[key] for key in states]
            yield pd.DataFrame(rows)

    return proj.mapInPandas(build, schema=out_schema)


def grouped_sketch(
    df: DataFrame, kernel: SketchKernel, key_cols: list[str], col: str = "item"
) -> DataFrame:
    """DataFrame of (key_cols..., sketch binary), one merged state per key."""
    partials = grouped_sketch_partials(df, kernel, key_cols, col)
    schema = partials.schema

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = kernel.merge_packed(list(pdf["sketch"]))
        out = pdf.iloc[[0]][key_cols].copy()
        out["sketch"] = [merged]
        out["rows"] = [int(pdf["rows"].sum())]
        return out

    return partials.groupBy(*key_cols).applyInPandas(merge, schema=schema)


def grouped_estimate(
    sketches_df: DataFrame,
    kernel: SketchKernel,
    key_cols: list[str],
    value_name: str = "estimate",
) -> DataFrame:
    """Apply kernel.estimate per key (first histogram level if list)."""
    fields = [sketches_df.schema[k] for k in key_cols]
    schema = StructType(fields + [StructField(value_name, DoubleType())])

    def est(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [
                float(kernel.estimate(kernel.unpack(bytes(raw)))[0])
                for raw in pdf["sketch"]
            ]
            out = pdf[key_cols].copy()
            out[value_name] = vals
            yield out

    return sketches_df.mapInPandas(est, schema=schema)


def grouped_quantiles(
    sketches_df: DataFrame,
    kernel: SketchKernel,
    key_cols: list[str],
    qs: list[float],
    value_name: str = "value",
) -> DataFrame:
    """Per-key quantile answers from grouped KLL/t-digest states: one row
    per (key, q). The estimate step stays distributed (mapInPandas over
    the per-key sketch rows) — the training-pipeline 'per-source length
    distribution' query at any key cardinality."""
    fields = [sketches_df.schema[k] for k in key_cols]
    schema = StructType(
        fields
        + [StructField("q", DoubleType()), StructField(value_name, DoubleType())]
    )
    qs_arr = np.asarray([float(q) for q in qs], dtype=np.float64)

    def est(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for i, raw in enumerate(pdf["sketch"]):
                vals = kernel.quantile(kernel.unpack(bytes(raw)), qs_arr)
                out = pdf.iloc[[i] * len(qs_arr)][key_cols].copy()
                out["q"] = qs_arr
                out[value_name] = np.asarray(vals, dtype=np.float64)
                outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return sketches_df.mapInPandas(est, schema=schema)
