"""Exact multiset + Lossless/LessOne estimators — the truth oracle.

Two forms:
- DataFrame form (the scalable one): frequency histograms via groupBy —
  ``freq = count per id``, ``h[k] = #ids with freq >= k`` (reversed cumsum),
  matching LosslessEstimator output (ref: exact_set.py:69-98).
- Kernel form (driver/simulator scale): id->count dict as parallel arrays,
  mergeable; used by the Simulator as the per-run truth exactly like the
  reference keeps a running ExactMultiSet (ref: simulator.py:182-196).
"""

from __future__ import annotations

from functools import reduce
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, functions as F

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)


def _collapse(ids: np.ndarray, counts: np.ndarray, kind: str = "quicksort") -> State:
    """Sum the counts of equal ids: one sort, then a segmented sum. A stable
    sort (timsort) is linear on the two sorted runs a merge concatenates."""
    if len(ids) == 0:
        return {"ids": ids, "counts": counts}
    order = np.argsort(ids, kind=kind)
    ids, counts = ids[order], counts[order]
    starts = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))
    return {"ids": ids[starts], "counts": np.add.reduceat(counts, starts)}


class ExactMultiSetKernel(SketchKernel):
    """id -> frequency map as sorted parallel arrays (ref: exact_set.py:44-58)."""

    def __init__(self, seed: int = 0):
        self.seed = seed  # unused; kept for uniform factory signature

    def spec(self) -> dict[str, Any]:
        return {"type": "exact_multiset"}

    def empty(self) -> State:
        return {
            "ids": np.zeros(0, dtype=np.int64),
            "counts": np.zeros(0, dtype=np.int64),
        }

    def update(self, state: State, values: np.ndarray) -> State:
        if len(values) == 0:
            return state
        values = values.astype(np.int64)
        return _collapse(np.concatenate((state["ids"], values)),
                         np.concatenate((state["counts"], np.ones(len(values), np.int64))))

    def merge(self, a: State, b: State) -> State:
        return _collapse(np.concatenate((a["ids"], b["ids"])),
                         np.concatenate((a["counts"], b["counts"])), kind="stable")

    def frequency_histogram(self, state: State, max_freq: int | None = None) -> np.ndarray:
        """h[k-1] = #ids with freq >= k (cumulative, ref: exact_set.py:69-98).

        With max_freq, frequencies cap at max_freq (k+ bucket)."""
        counts = state["counts"]
        if len(counts) == 0:
            return np.zeros(0, dtype=np.int64)
        c = np.minimum(counts, max_freq) if max_freq else counts
        hist = np.bincount(c)[1:]  # index k-1 = #ids with freq exactly k
        return np.cumsum(hist[::-1])[::-1]

    def estimate(self, state: State) -> list[float]:
        return [float(len(state["ids"]))]


def lossless_estimate(states: list[State], max_freq: int | None = None) -> list[float]:
    """Union ExactMultiSets then cumulative histogram (ref: exact_set.py:69-98)."""
    k = ExactMultiSetKernel()
    return [float(x) for x in k.frequency_histogram(reduce(k.merge, states), max_freq)]


def less_one_estimate(states: list[State], max_freq: int | None = None) -> list[float]:
    """Lossless minus one per level — harness error-detection fixture
    (ref: exact_set.py:101-113)."""
    return [x - 1 for x in lossless_estimate(states, max_freq)]


# --------------------------------------------------------------------------
# DataFrame (distributed) form
# --------------------------------------------------------------------------

def frequency_table(df: DataFrame, id_col: str = "item") -> DataFrame:
    """(id, freq) — one shuffle, map-side partial counts via hash agg."""
    return df.groupBy(id_col).agg(F.count("*").alias("freq"))


def frequency_histogram_df(
    df: DataFrame, id_col: str = "item", max_freq: int | None = None
) -> DataFrame:
    """(freq, n_ids) histogram; tiny output (<= max observed freq rows)."""
    ft = frequency_table(df, id_col)
    freq = F.least(F.col("freq"), F.lit(max_freq)) if max_freq else F.col("freq")
    return ft.select(freq.alias("freq")).groupBy("freq").agg(
        F.count("*").alias("n_ids")
    )


def kplus_reach_df(
    df: DataFrame, id_col: str = "item", max_freq: int = 10
) -> DataFrame:
    """(k, kplus_reach) for k = 1..max_freq — LosslessEstimator's cumulative
    output as a DataFrame: reversed cumsum over the tiny histogram via a
    window (cheap: runs on <= max_freq rows)."""
    hist = frequency_histogram_df(df, id_col, max_freq)
    ks = df.sparkSession.range(1, max_freq + 1).select(F.col("id").alias("k"))
    return (
        hist.join(ks, hist.freq >= ks.k)
        .groupBy("k")
        .agg(F.sum("n_ids").cast("long").alias("kplus_reach"))
    )
