"""Named sketch-estimator configs — the reference's estimator registry
(ref: src/evaluations/data/evaluation_configs.py:955-1762) re-expressed over
kernels. Name grammar follows the reference convention
``sketch-config-estimator-localdp-globaldp`` (ref: evaluation_configs.py:893-952).

Estimator contract: ``estimator(kernel, states) -> list[float]`` estimates
the union of the states. A :class:`UnionEstimator` (fold, then finalize) also
has ``prefixes(kernel, states)``: the estimates of every prefix
``states[:i]`` from ONE left fold, k - 1 merges instead of k(k - 1)/2. The
fold merges in the same order as the per-prefix fold and no kernel merge
mutates its inputs, so each prefix union, Bloom expectation-unions in
floating point included, is bit-identical. Estimators that are not a fold of
the raw states (sequential VoC, MetaVoc, denoised ADBF, stratified) stay
plain callables, called once per prefix.
"""

from __future__ import annotations

import itertools
import math
from functools import partial, reduce

import numpy as np

from cardinality_estimation_evaluation_framework_spark.noise.noisers import (
    BlipNoiser,
    GeometricEstimateNoiser,
    SurrealDenoiser,
)
from cardinality_estimation_evaluation_framework_spark.simulation.configs import (
    SketchEstimatorConfig,
)
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
    BloomKernel,
    first_moment_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.cascading_legions import (
    CascadingLegionsKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.exact import (
    ExactMultiSetKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.fll import FllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.liquid_legions import (
    LiquidLegionsKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.meta_estimators import (
    MetaVocEstimator,
)
from cardinality_estimation_evaluation_framework_spark.sketches.same_key_aggregator import (
    SameKeyAggregatorKernel,
    standardized_histogram_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    VocKernel,
    sequential_estimate,
)


class UnionEstimator:
    """Fold-then-finalize estimator: ``finalize(kernel, union)`` of the
    left-folded union of the states (see the module docstring)."""

    def __init__(self, finalize):
        self.finalize = finalize

    def __call__(self, kernel, states):
        return self.finalize(kernel, reduce(kernel.merge, states))

    def prefixes(self, kernel, states):
        return [self.finalize(kernel, union)
                for union in itertools.accumulate(states, kernel.merge)]


#: the kernel's own estimate of the union (HLL, FLL, legions)
KERNEL_ESTIMATE = UnionEstimator(lambda kernel, union: kernel.estimate(union))


def lossless_estimator(max_frequency: int, offset: int = 0) -> UnionEstimator:
    """Exact k+ histogram of the union (``offset=1``: LessOne)."""
    return UnionEstimator(lambda kernel, union: [
        float(x) - offset for x in kernel.frequency_histogram(union, max_frequency)])


def first_moment_estimator(method, denoiser=None):
    """ADBF first moment of the union. With a denoiser it is a plain
    callable: the union of denoised states is no fold of the raw states."""
    est = UnionEstimator(
        lambda kernel, union: [first_moment_estimate(kernel, union, method=method)])
    return est if denoiser is None else (lambda kernel, states: est(kernel, denoiser(states)))


def exact_set_lossless(max_frequency: int = 1) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name="exact_set-infty-lossless-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: ExactMultiSetKernel(),
        estimator=lossless_estimator(max_frequency),
        max_frequency=max_frequency,
    )


def exact_set_less_one(max_frequency: int = 1) -> SketchEstimatorConfig:
    """Harness error-detection fixture (ref: exact_set.py:101-113)."""
    return SketchEstimatorConfig(
        name="exact_set-infty-less_one-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: ExactMultiSetKernel(),
        estimator=lossless_estimator(max_frequency, offset=1),
        max_frequency=max_frequency,
    )


def hll_plus_plus(p: int = 14) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"hyper_log_log-{2**p}-hll_cardinality-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: HllKernel(p=p, seed=seed),
        estimator=KERNEL_ESTIMATE,
    )


def fll_plus_plus(p: int = 14, max_frequency: int = 15) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"freq_log_log-{2**p}-fll_cardinality-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: FllKernel(p=p, seed=seed, max_freq=max_frequency),
        estimator=KERNEL_ESTIMATE,
        max_frequency=max_frequency,
    )


def exp_adbf_first_moment(m: int = 100_000, decay_rate: float = 10.0,
                          epsilon: float | None = None) -> SketchEstimatorConfig:
    """exp ADBF + first_moment_exp, optional BLIP localDP + Surreal denoise
    (the smoke_test headline config, BASELINE.md row 1)."""
    local_dp = "no_local_dp" if epsilon is None else f"local_dp_{epsilon:.3f}"
    noiser = None
    denoiser = None
    if epsilon is not None:
        noiser = lambda kernel, state, rng: BlipNoiser(epsilon, rng)(state)
        denoiser = lambda states: SurrealDenoiser(epsilon=epsilon)(states)
    return SketchEstimatorConfig(
        name=f"exp_bloom_filter-{m}_{decay_rate:g}-first_moment_exp-{local_dp}-no_global_dp",
        kernel_factory=lambda seed: BloomKernel(
            dist_kind="exponential", m=m, seed=seed, decay_rate=decay_rate
        ),
        estimator=first_moment_estimator("exp", denoiser),
        sketch_noiser=noiser,
    )


def log_adbf_first_moment(m: int = 100_000) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"log_bloom_filter-{m}-first_moment_log-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: BloomKernel(dist_kind="log", m=m, seed=seed),
        estimator=first_moment_estimator("log"),
    )


def geo_adbf_first_moment(m: int = 100_000, probability: float | None = None) -> SketchEstimatorConfig:
    # the reference couples probability to length: p = 2 / m
    # (ref: evaluation_configs.py:126 GEO_LENGTH_PROB_PRODUCT, :1089)
    if probability is None:
        probability = 2.0 / m
    return SketchEstimatorConfig(
        name=f"geo_bloom_filter-{m}_{probability:g}-first_moment_geo-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: BloomKernel(
            dist_kind="geometric", m=m, seed=seed, probability=probability
        ),
        estimator=first_moment_estimator("geo"),
    )


def uniform_adbf_first_moment(m: int = 100_000) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"uniform_bloom_filter-{m}-first_moment_uniform-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: BloomKernel(dist_kind="uniform", m=m, seed=seed),
        estimator=first_moment_estimator("uniform"),
    )


def vector_of_counts(num_buckets: int = 4096, clip: bool = False) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"vector_of_counts-{num_buckets}-sequential-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: VocKernel(num_buckets=num_buckets, seed=seed),
        estimator=lambda kernel, states: [sequential_estimate(states, clip=clip)],
    )


def liquid_legions(a: float = 10.0, m: int = 100_000) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"liquid_legions-{a:g}_{m}-sketch_count-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: LiquidLegionsKernel(a=a, m=m, seed=seed),
        estimator=KERNEL_ESTIMATE,
    )


def cascading_legions(l: int = 16, m: int = 10_000) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"cascading_legions-{l}_{m}-sketch_count-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: CascadingLegionsKernel(l=l, m=m, seed=seed),
        estimator=KERNEL_ESTIMATE,
    )


def same_key_aggregator(m: int = 100_000, decay_rate: float = 10.0,
                        max_frequency: int = 10) -> SketchEstimatorConfig:
    return SketchEstimatorConfig(
        name=f"exp_same_key_aggregator-{m}_{decay_rate:g}-standardized_histogram-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: SameKeyAggregatorKernel(m=m, decay_rate=decay_rate, seed=seed),
        estimator=UnionEstimator(lambda kernel, union: standardized_histogram_estimate(
            kernel, union, max_freq=max_frequency)),
        max_frequency=max_frequency,
    )


def meta_voc(m: int = 100_000, decay_rate: float = 10.0, num_buckets: int = 4096) -> SketchEstimatorConfig:
    def estimator(kernel, states):
        return MetaVocEstimator(kernel, num_buckets=num_buckets)(states)

    return SketchEstimatorConfig(
        name=f"meta_voc-{num_buckets}_over_exp_adbf-{m}_{decay_rate:g}-no_local_dp-no_global_dp",
        kernel_factory=lambda seed: BloomKernel(
            dist_kind="exponential", m=m, seed=seed, decay_rate=decay_rate
        ),
        estimator=estimator,
    )


def exp_adbf_global_dp(m: int = 100_000, decay_rate: float = 10.0,
                       epsilon: float = math.log(3)) -> SketchEstimatorConfig:
    """Global-DP variant: geometric noise on the estimate
    (ref: evaluation_configs.py global-DP configs)."""
    return SketchEstimatorConfig(
        name=f"exp_bloom_filter-{m}_{decay_rate:g}-first_moment_exp-no_local_dp-global_dp_{epsilon:.3f}",
        kernel_factory=lambda seed: BloomKernel(
            dist_kind="exponential", m=m, seed=seed, decay_rate=decay_rate
        ),
        estimator=first_moment_estimator("exp"),
        estimate_noiser=lambda rng: GeometricEstimateNoiser(epsilon, rng),
    )


ESTIMATOR_CONFIGS = {
    "exact": exact_set_lossless,
    "less_one": exact_set_less_one,
    "hll": hll_plus_plus,
    "fll": fll_plus_plus,
    "exp_adbf": exp_adbf_first_moment,
    "exp_adbf_blip": partial(exp_adbf_first_moment, epsilon=math.log(3)),
    "exp_adbf_global_dp": exp_adbf_global_dp,
    "log_adbf": log_adbf_first_moment,
    "geo_adbf": geo_adbf_first_moment,
    "uniform_adbf": uniform_adbf_first_moment,
    "voc": vector_of_counts,
    "liquid_legions": liquid_legions,
    "cascading_legions": cascading_legions,
    "ska": same_key_aggregator,
    "meta_voc": meta_voc,
}


def get_estimator_configs(names: list[str], **overrides) -> list[SketchEstimatorConfig]:
    """Lookup by short name, with optional per-name kwargs overrides
    (ref analogue: evaluation_configs.py:1730-1762)."""
    missing = [n for n in names if n not in ESTIMATOR_CONFIGS]
    if missing:
        raise ValueError(
            f"unknown estimator configs: {missing}; have {sorted(ESTIMATOR_CONFIGS)}"
        )
    return [ESTIMATOR_CONFIGS[n](**overrides.get(n, {})) for n in names]
