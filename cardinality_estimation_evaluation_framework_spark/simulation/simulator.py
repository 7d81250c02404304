"""Simulator: num_runs x (generate -> sketch -> noise -> prefix-union
estimate -> compare to exact truth) — semantics of ref: simulator.py:32-209.

Column contract matches the reference exactly (num_sets,
estimated_cardinality_i, true_cardinality_i, relative_error_i, run_index,
shuffle_distance) so the analyzer metrics are comparable number-for-number.

Row i of a run estimates the union of the first i sets. An estimator with
``prefixes(kernel, states)`` gives all k rows from one left fold; any other is
called on each slice ``states[:i]``. The rows are bit-identical either way
(same merge order, merges never mutate; see estimators.py).

Two build modes:
- driver (default): kernels run in-process on the generated numpy sets.
  Scenario sizes in the reference's grids are <= 1e7 ids — the simulation
  itself was never the distributed workload.
- spark: per-source sketches built by the distributed grouped harness
  (one job per run) — used by tests to pin that the distributed build
  produces the same registers the driver build does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.datagen.set_generators import (
    sets_to_items_df,
)
from cardinality_estimation_evaluation_framework_spark.simulation.configs import (
    SketchEstimatorConfig,
)
from cardinality_estimation_evaluation_framework_spark.sketches.exact import (
    ExactMultiSetKernel,
)

RUN_INDEX = "run_index"
EST = "estimated_cardinality_"
TRUE = "true_cardinality_"
RELERR = "relative_error_"
NUM_SETS = "num_sets"
SHUFFLE_DISTANCE = "shuffle_distance"


def relative_error(estimate, truth):
    """(est - truth) / truth (ref: common/analysis.py:18-30)."""
    return (np.asarray(estimate) - np.asarray(truth)) / np.asarray(truth)


def extend_histogram(hist: list[float], max_freq: int) -> list[float]:
    """Pad/truncate to max_freq levels (ref: simulator.py:114-119)."""
    hist = list(hist)
    if len(hist) <= max_freq:
        return hist + [0] * (max_freq - len(hist))
    return hist[:max_freq]


def shuffle_distance(h1: list[float], h2: list[float]) -> float:
    """0.5 * L1 of normalized per-level distributions from cumulative hists
    (ref: simulator.py:121-150)."""
    assert h1 and h2, "empty histogram"
    c1 = [h1[i] - h1[i + 1] for i in range(len(h1) - 1)] + [h1[-1]]
    c2 = [h2[i] - h2[i + 1] for i in range(len(h2) - 1)] + [h2[-1]]
    mf = max(len(c1), len(c2))
    f1 = np.array(extend_histogram(c1, mf)) / np.sum(c1)
    f2 = np.array(extend_histogram(c2, mf)) / np.sum(c2)
    return float(0.5 * np.sum(np.abs(f1 - f2)))


class Simulator:
    def __init__(
        self,
        num_runs: int,
        set_generator_factory,
        sketch_estimator_config: SketchEstimatorConfig,
        sketch_random_state: np.random.RandomState | None = None,
        set_random_state: np.random.RandomState | None = None,
        spark=None,
    ):
        self.num_runs = num_runs
        self.set_generator_factory = set_generator_factory
        self.config = sketch_estimator_config
        self.sketch_random_state = sketch_random_state or np.random.RandomState()
        self.set_random_state = set_random_state or np.random.RandomState()
        self.spark = spark  # None => driver mode

    def __call__(self):
        return self.run_all_and_aggregate()

    # -- one run --------------------------------------------------------------
    def _build_states(self, sets: list[np.ndarray], seed: int):
        from cardinality_estimation_evaluation_framework_spark.sketches.stratified import (
            StratifiedDriverKernel,
            build_stratified_grouped,
        )

        kernel = self.config.kernel_factory(seed)
        if self.spark is None:
            states = [kernel.update(kernel.empty(), np.asarray(s, dtype=np.int64)) for s in sets]
        elif isinstance(kernel, StratifiedDriverKernel):
            # distributed stratified: ONE grouped job builds every set's
            # per-level sketches (multiset duplicates encode frequency)
            df = sets_to_items_df(self.spark, sets)
            by_source = build_stratified_grouped(
                df, kernel.base, kernel.max_freq, "source", "item")
            states = [by_source[f"set_{i:04d}"] for i in range(len(sets))]
        else:
            df = sets_to_items_df(self.spark, sets)
            rows = agg.grouped_sketch(df, kernel, ["source"], "item").collect()
            by_source = {r["source"]: kernel.unpack(bytes(r["sketch"])) for r in rows}
            states = [by_source[f"set_{i:04d}"] for i in range(len(sets))]
        return kernel, states

    def run_one(self) -> pd.DataFrame:
        """ref: simulator.py:152-209."""
        set_generator = self.set_generator_factory(self.set_random_state)
        seed = int(self.sketch_random_state.randint(2**31 - 1))
        sets = [np.asarray(s, dtype=np.int64) for s in set_generator]
        kernel, states = self._build_states(sets, seed)
        if self.config.sketch_noiser:
            rng = np.random.RandomState(seed ^ 0x5EED)
            states = [self.config.sketch_noiser(kernel, st, rng) for st in states]
        estimate_noiser = (
            self.config.estimate_noiser(np.random.RandomState(seed ^ 0xD00F))
            if self.config.estimate_noiser
            else None
        )
        estimator = self.config.estimator
        if hasattr(estimator, "prefixes"):
            estimates = estimator.prefixes(kernel, states)
        else:
            estimates = [estimator(kernel, states[: i + 1]) for i in range(len(states))]
        exact = ExactMultiSetKernel()
        truth_state = exact.empty()
        max_freq = self.config.max_frequency
        metrics = []
        for i, est in enumerate(estimates):
            est = extend_histogram(est, max_freq)
            if estimate_noiser:
                est = [estimate_noiser(float(e)) for e in est]
            truth_state = exact.update(truth_state, sets[i])
            true_hist = extend_histogram(
                [float(x) for x in exact.frequency_histogram(truth_state)], max_freq
            )
            sd = shuffle_distance(est, true_hist)
            metrics.append([i + 1] + est + true_hist + [sd])
        cols = (
            [NUM_SETS]
            + [EST + str(i + 1) for i in range(max_freq)]
            + [TRUE + str(i + 1) for i in range(max_freq)]
            + [SHUFFLE_DISTANCE]
        )
        return pd.DataFrame(metrics, columns=cols)

    # -- all runs ---------------------------------------------------------------
    def run_all_and_aggregate(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        """ref: simulator.py:85-112."""
        dfs = []
        for t in range(self.num_runs):
            df = self.run_one()
            df[RUN_INDEX] = t
            dfs.append(df)
        df = pd.concat(dfs, ignore_index=True)
        for i in range(self.config.max_frequency):
            df[RELERR + str(i + 1)] = relative_error(
                df[EST + str(i + 1)], df[TRUE + str(i + 1)]
            )
        agg_groups = {}
        for i in range(self.config.max_frequency):
            for base in (EST, TRUE, RELERR):
                agg_groups[base + str(i + 1)] = ["mean", "std"]
        df_agg = df.groupby(NUM_SETS).agg(agg_groups)
        return df, df_agg
