"""Partial + tree-merge sketch aggregation (the treeAggregate-style core).

The reference builds one sketch per set by streaming ids through ``add``
(ref: simulator.py:167-171) in a single process. At 10^12 tokens the Spark
equivalent is a two-phase aggregation that Catalyst cannot derive for Python
UDAFs, so it is built explicitly (SURVEY §4):

  stage 1 (map side)   : ``sketch_partials``, the one stage-1 build: a
                         ``mapInPandas`` map-side combine over (optional
                         group keys, scalar or array column) that emits one
                         partial per (partition, key) — O(m) bytes, not
                         O(rows). With no keys it is the global sketch.
  stage 2 (reduce side): executor-side tree merge with fanout F —
                         ``groupBy(gid % width).applyInPandas(merge)`` —
                         until few partials remain; the driver folds the
                         rest. Depth = ceil(log_F P), driver traffic
                         O(F * m). Grouped: one ``groupBy(keys)`` merge.

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
from collections.abc import Iterator, Sequence

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


def _project(df: DataFrame, kernel: SketchKernel, col: str, key_cols: list[str]) -> DataFrame:
    """Project ``(keys..., item)``: the one place that owns the dtype
    contract. Arrays pass through as one cell per row. Value sketches
    (quantiles) get float64 with nulls dropped; id sketches get int64, with
    strings hashed JVM-side via xxhash64 so Python never sees raw strings."""
    dtype = dict(df.dtypes)[col]
    c = F.col(col)
    if dtype.startswith("array"):
        return df.select(*key_cols, c.alias("item"))
    if getattr(kernel, "input_dtype", "int64") == "float64":
        # drop nulls BEFORE the kernel: na_value=0 in the Arrow transfer
        # would silently inject 0.0 into quantile sketches and skew low
        # quantiles — a quantile over the raw column never sees nulls
        return df.where(c.isNotNull()).select(*key_cols, c.cast("double").alias("item"))
    if dtype in ("string", "binary"):
        c = F.xxhash64(c)
    return df.select(*key_cols, c.cast("long").alias("item"))


def _spread(df: DataFrame, input_partitions: int | None = None) -> tuple[DataFrame, int]:
    """(df, partition count) for stage 1. A 100 TB scan arrives with
    thousands of splits; a local single-file read arrives with one — spread
    it to the default parallelism so stage 1 uses every core, or to
    ``input_partitions`` when given. The count is known here, without an
    action, and ``tree_merge`` plans its levels from it."""
    if input_partitions:
        return df.repartition(input_partitions), input_partitions
    nparts = df.rdd.getNumPartitions()
    default_par = df.sparkSession.sparkContext.defaultParallelism
    if nparts < default_par:
        return df.repartition(default_par), default_par
    return df, nparts


def explode_tokens(df: DataFrame, tokens_col: str = "tokens", spread: bool = True) -> DataFrame:
    """tokens array<int32> → one int64 ``item`` per token (Catalyst explode,
    whole-stage codegen; no Python involved).

    ``spread``: when the input arrives under-partitioned (single local file),
    repartition the DOC rows before exploding — moving ~100x fewer bytes
    than a post-explode shuffle of raw tokens would. On a real multi-split
    scan this is a no-op."""
    if spread:
        df, _ = _spread(df)
    return df.select(F.explode(F.col(tokens_col)).alias("_t")).select(
        F.col("_t").cast("long").alias("item")
    )


def salted_repartition(df: DataFrame, key_col: str, salt_buckets: int = 16,
                       partitions: int | None = None) -> DataFrame:
    """Explicit skew-salting: repartition on hash(key, salt) so one hot key's
    rows spread over ``salt_buckets`` tasks (north-rule requirement).

    For SKETCH aggregation this is rarely needed — the map-side combine in
    sketch_partials already collapses any per-partition key skew to
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


def sketch_partials(
    df: DataFrame,
    kernel: SketchKernel,
    col: str = "item",
    key_cols: Sequence[str] = (),
    input_partitions: int | None = None,
) -> DataFrame:
    """Stage 1, the map-side combine: one packed partial state per (input
    partition, group key), or exactly one per input partition when
    ``key_cols`` is empty (the global sketch). Output columns are
    ``(keys..., gid, sketch, rows)``: gid is the stage-1 partition id and
    rows counts the items folded into the state.

    ``col`` may be an array column: Arrow then transfers one list cell per
    row instead of one row per item, and the cells are flattened inside
    numpy — vs exploding first, the JVM never materializes per-item rows
    (measured ~15% faster on 100-token docs).
    """
    key_cols = list(key_cols)
    proj, nparts = _spread(_project(df, kernel, col, key_cols), input_partitions)
    is_array = dict(proj.dtypes)["item"].startswith("array")
    np_dtype = np.float64 if getattr(kernel, "input_dtype", "int64") == "float64" else np.int64
    schema = (
        StructType([proj.schema[k] for k in key_cols])
        .add("gid", LongType()).add("sketch", BinaryType()).add("rows", LongType())
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, State] = {}
        counts: dict[tuple, int] = {}

        def fold(key: tuple, vals: np.ndarray) -> None:
            st = states.get(key)
            if st is None:
                st = states[key] = kernel.empty()
                counts[key] = 0
            if len(vals):
                kernel.update(st, vals)
            counts[key] += len(vals)

        for pdf in batches:
            if not len(pdf):
                continue
            if is_array:
                cells = pdf["item"].to_numpy()
                full = [c for c in cells if c is not None and len(c)]
                vals = np.concatenate(full) if full else np.zeros(0, np_dtype)
                vals = vals.astype(np_dtype, copy=False)
            else:
                vals = pdf["item"].to_numpy(dtype=np_dtype, na_value=0)
            if not key_cols:
                # the global sketch: the whole batch into one state, no split
                fold((), vals)
                continue
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
            if is_array:
                # one code per flattened item: repeat each row's code by
                # its cell length (NULL and empty cells contribute none)
                codes = np.repeat(codes, [0 if c is None else len(c) for c in cells])
            order = np.argsort(codes, kind="stable")
            sorted_codes, sorted_vals = codes[order], vals[order]
            bounds = np.flatnonzero(np.diff(sorted_codes)) + 1
            for s, e in zip(np.r_[0, bounds], np.r_[bounds, len(order)]):
                if s < e:
                    key = uniq[sorted_codes[s]]
                    fold(key if isinstance(key, tuple) else (key,), sorted_vals[s:e])
        if states:
            ctx = TaskContext.get()
            gid = ctx.partitionId() if ctx is not None else 0
            out = {k: [key[i] for key in states] for i, k in enumerate(key_cols)}
            out["gid"] = [gid] * len(states)
            out["sketch"] = [kernel.pack(st) for st in states.values()]
            out["rows"] = [counts[key] for key in states]
            yield pd.DataFrame(out)

    out = proj.mapInPandas(build, schema=schema)
    # a global build's partial count is the stage-1 partition count, known
    # here; recording it saves tree_merge a driver-side RDD conversion of
    # the mapInPandas plan (measured ~0.5 s of pure planning per call)
    out._ceef_nparts = nparts  # type: ignore[attr-defined]
    return out


def sketch_array_partials(
    df: DataFrame, kernel: SketchKernel, tokens_col: str = "tokens"
) -> DataFrame:
    """``sketch_partials`` of a token-array column."""
    return sketch_partials(df, kernel, tokens_col)


def _merge_fn(kernel: SketchKernel, cols: list[str]):
    """Merge one group of partials: the first row's ``cols``, the merged
    state and the summed ``rows``."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[[0]][cols].copy()
        out["sketch"] = [kernel.merge_packed(list(pdf["sketch"]))]
        out["rows"] = [int(pdf["rows"].sum())]
        return out

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
            .applyInPandas(_merge_fn(kernel, ["gid"]), schema=partials.schema)
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
    """Full pipeline: df[col] (scalar or array) → merged state on the driver."""
    return tree_merge(
        sketch_partials(df, kernel, col, input_partitions=input_partitions), kernel, fanout
    )


def sketch_tokens(
    df: DataFrame, kernel: SketchKernel, tokens_col: str = "tokens", fanout: int = 32
) -> State:
    """``sketch`` of a token-array column."""
    return sketch(df, kernel, tokens_col, fanout=fanout)


# --------------------------------------------------------------------------
# Grouped sketches: one sketch per key (e.g. per source / per campaign).
# --------------------------------------------------------------------------

def grouped_sketch(
    df: DataFrame, kernel: SketchKernel, key_cols: list[str], col: str = "item"
) -> DataFrame:
    """DataFrame of (key_cols..., sketch binary, rows long), one state per key."""
    partials = sketch_partials(df, kernel, col, key_cols).drop("gid")
    return partials.groupBy(*key_cols).applyInPandas(
        _merge_fn(kernel, key_cols), schema=partials.schema
    )


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
