"""The reference's FULL config grids: scenario generators, name grammar,
named evaluation configs, and the cardinality/frequency estimator-config
registries.

ref: src/evaluations/data/evaluation_configs.py
 - name grammar / privacy-parameter formatting: :816-952
 - scenario grids 1/2, 3, 4a, 4b, 5: :241-511
 - frequency scenario grids 1-3: :514-633
 - named evaluation configs (complete_test_with_selected_parameters,
   complete_frequency_test_with_selected_parameters,
   frequency_end_to_end_test, global_dp_stress_test): :634-782
 - cardinality estimator grid: :955-1437
 - frequency estimator grid (stratified / exact / SKA): :1440-1727
 - registry lookup with duplicate detection: :784-813, :1730-1762

Everything is re-expressed over this engine's kernel/State machinery; the
generated NAMES follow the reference grammar exactly so reports and
analyzer output are comparable line-by-line.
"""

from __future__ import annotations

import itertools
import math

import numpy as np

from cardinality_estimation_evaluation_framework_spark.datagen import set_generators as sg
from cardinality_estimation_evaluation_framework_spark.noise.noisers import (
    BlipNoiser,
    GaussianEstimateNoiser,
    GeometricEstimateNoiser,
    LaplaceEstimateNoiser,
    SurrealDenoiser,
    VocLaplaceNoiser,
)
from cardinality_estimation_evaluation_framework_spark.simulation.configs import (
    EvaluationConfig,
    ScenarioConfig,
    SketchEstimatorConfig,
)
from cardinality_estimation_evaluation_framework_spark.operators.set_ops import (
    BayesianAdbfOperator,
    ExpectationAdbfOperator,
    VocSetOperator,
)
from cardinality_estimation_evaluation_framework_spark.simulation.estimators import (
    KERNEL_ESTIMATE,
    UnionEstimator,
    first_moment_estimator,
    lossless_estimator,
)
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
    BloomKernel,
    first_moment_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.exact import (
    ExactMultiSetKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.liquid_legions import (
    LiquidLegionsKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.meta_estimators import (
    IndependentSetEstimator,
    MetaVocEstimator,
)
from cardinality_estimation_evaluation_framework_spark.sketches.same_key_aggregator import (
    SameKeyAggregatorKernel,
    standardized_histogram_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.stratified import (
    StratifiedDriverKernel,
    StratifiedPairwiseEstimator,
    denoise_stratified,
    noise_stratified,
    stratified_sequential_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    VocKernel,
    sequential_estimate,
)

# ---------------------------------------------------------------------------
# Published grid constants (ref: evaluation_configs.py:38-135)
# ---------------------------------------------------------------------------

NUM_RUNS_VALUE = 100
SMOKE_TEST_UNIVERSE_SIZE = 200_000
UNIVERSE_SIZE_VALUE = 1_000_000
NUM_SETS_VALUE = 20

SMALL_REACH_RATE_VALUE = 0.01
LARGE_REACH_RATE_VALUE = 0.2
REMARKETING_RATE_VALUE = 0.2
SHARED_PROP_LIST_VALUE = (0.25, 0.5, 0.75)

NUM_SETS_VALUE_FREQ = 10
SET_SIZE_FOR_FREQ = 20_000
FREQ_UNIVERSE_SIZE = 200_000
REACH_RATE_FREQ_END_TO_END_TEST = 0.1

US_INTERNET_POPULATION = 2_000_000_000
REACH_STRESS_TEST = [1_000, 10_000, 100_000, 1_000_000, 10_000_000]

NO_GLOBAL_DP_STR = "no_global_dp"
GLOBAL_DP_STR = "global_dp"
NO_LOCAL_DP_STR = "no_local_dp"
LOCAL_DP_STR = "local_dp"
GEOMETRIC_NOISE = "geometric_noise"
GAUSSIAN_NOISE = "gaussian_noise"

SKETCH_EPSILON_VALUES = (math.log(3), math.log(3) / 4, math.log(3) / 10, None)
ESTIMATE_EPSILON_VALUES = (math.log(3), None)
GLOBAL_DP_LIMIT_TEST_EPSILON_VALUES = [
    math.log(3) / x
    for x in [1, 2, 4, 10, 100, 200, 300, 400, 500, 600, 700, 800, 900, 1000,
              2000, 3000, 4000, 5000, 6000, 7000, 8000, 9000, 10000]
]
ESTIMATE_EPSILON_DELTA_VALUES = [
    (math.log(3), 1e-5), (math.log(3), 1e-6), (math.log(3), 1e-7), (None, None)
]
NUM_ESTIMATE_QUERIES_VALUES = [
    1, 2, 4, 10, 100, 200, 300, 400, 500, 600, 700, 800, 900, 1_000, 2_000,
    3_000, 4_000, 5_000, 6_000, 7_000, 8_000, 9_000, 10_000, 50_000, 100_000,
    500_000, 1_000_000
]

EPSILON_DECIMALS = 4
EPSILON_DECIMALS_LIMIT_TEST = 8
DELTA_DECIMALS = 7

ADBF_LENGTH_LIST = [100_000, 250_000]
EXP_ADBF_DECAY_RATE = 10
STRATIFIED_EXP_ADBF_EPSILON_SPLIT = 0.5
SKETCH_OPERATOR_EXPECTATION = "expectation"
SKETCH_OPERATOR_BAYESIAN = "bayesian"
SKETCH_OPERATOR_LIST = [SKETCH_OPERATOR_EXPECTATION, SKETCH_OPERATOR_BAYESIAN]
GEO_LENGTH_PROB_PRODUCT = 2
BLOOM_FILTERS_LENGTH_LIST = [5_000_000]
VOC_LENGTH_LIST = [1024, 4096]

HLL_PLUS_LENGTH = 2**14


# ---------------------------------------------------------------------------
# Name grammar (ref: evaluation_configs.py:816-952)
# ---------------------------------------------------------------------------

def format_epsilon(dp_type: str, epsilon: float | None = None,
                   decimals: int = EPSILON_DECIMALS) -> str:
    """ref: evaluation_configs.py:816-841."""
    if epsilon is None:
        if dp_type == GLOBAL_DP_STR:
            return NO_GLOBAL_DP_STR
        if dp_type == LOCAL_DP_STR:
            return NO_LOCAL_DP_STR
        raise ValueError(
            f'dp_type should be one of "{GLOBAL_DP_STR}" and "{LOCAL_DP_STR}".')
    return f"{dp_type}_{float(epsilon):0.{decimals}f}"


def format_privacy_parameters(dp_type: str, epsilon: float | None = None,
                              delta: float | None = None, num_queries: int = 1,
                              noise_type: str | None = None,
                              epsilon_decimals: int = EPSILON_DECIMALS,
                              delta_decimals: int = DELTA_DECIMALS) -> str:
    """ref: evaluation_configs.py:844-891."""
    if epsilon is None:
        if delta is not None:
            raise ValueError(f"Delta cannot be set with epsilon unset: {delta}.")
        return format_epsilon(dp_type)
    epsilon_str = f"{epsilon:.{epsilon_decimals}f}"
    delta_str = f"{delta if delta is not None else 0:.{delta_decimals}f}"
    split_str = f"-budget_split-{num_queries}" if num_queries else ""
    noise_type_str = f"-{noise_type}" if noise_type else ""
    return f"{dp_type}_{epsilon_str},{delta_str}{noise_type_str}{split_str}"


def construct_sketch_estimator_config_name(
    sketch_name: str, sketch_config: str, estimator_name: str,
    sketch_epsilon: float | None = None, estimate_epsilon: float | None = None,
    estimate_delta: float | None = None, num_estimate_queries: int | None = None,
    noise_type: str | None = None, max_frequency: int | str | None = None,
    epsilon_decimals: int = EPSILON_DECIMALS,
    delta_decimals: int = DELTA_DECIMALS,
) -> str:
    """ref: evaluation_configs.py:893-952 (same assertion, same format)."""
    for s in [sketch_name, sketch_config, estimator_name]:
        assert "-" not in s, f'Input should not contain "-", given {s}.'
    sketch_eps_str = format_epsilon(LOCAL_DP_STR, sketch_epsilon, epsilon_decimals)
    if num_estimate_queries is None:
        est_str = format_epsilon(GLOBAL_DP_STR, estimate_epsilon, epsilon_decimals)
    else:
        est_str = format_privacy_parameters(
            GLOBAL_DP_STR, epsilon=estimate_epsilon, delta=estimate_delta,
            num_queries=num_estimate_queries, noise_type=noise_type,
            epsilon_decimals=epsilon_decimals, delta_decimals=delta_decimals)
    name = "-".join([sketch_name, sketch_config, estimator_name,
                     sketch_eps_str, est_str])
    if max_frequency is not None:
        name = f"{name}-{max_frequency}"
    return name


# ---------------------------------------------------------------------------
# Scenario grids (ref: evaluation_configs.py:241-633)
# ---------------------------------------------------------------------------

def _default_set_size_choices(small: int, large: int, num_sets: int) -> dict[str, list[int]]:
    """ref: evaluation_configs.py:241-259."""
    return {
        "all_small": [small] * num_sets,
        "all_large": [large] * num_sets,
        "1st_small_then_large": [small] + [large] * (num_sets - 1),
        "1st_half_small_2nd_half_large": (
            [small] * (num_sets // 2) + [large] * (num_sets - num_sets // 2)),
        "small_then_last_large": [small] * (num_sets - 1) + [large],
        "gradually_smaller": [int(large / np.sqrt(i + 1)) for i in range(num_sets)],
    }


def generate_configs_scenario_1_2(universe_size: int, num_sets: int, small: int,
                                  large: int, remarketing_rate: float | None = None
                                  ) -> list[ScenarioConfig]:
    """Scenario 1 (independent) / 2 (remarketing)
    (ref: evaluation_configs.py:262-310)."""
    if remarketing_rate is None:
        key_words = ["independent"]
        size = universe_size
    else:
        size = int(universe_size * remarketing_rate)
        key_words = ["remarketing", f"remarketing_size:{size}"]
    out = []
    for set_type, sizes in _default_set_size_choices(small, large, num_sets).items():
        out.append(ScenarioConfig(
            name="-".join(key_words + [
                f"universe_size:{universe_size}", f"small_set:{small}",
                f"large_set:{large}", f"set_type:{set_type}"]),
            set_generator_factory=(
                lambda rs, _sz=size, _s=list(sizes): sg.IndependentSetGenerator(
                    _sz, _s, rs)),
        ))
    return out


def generate_configs_scenario_3(universe_size: int, num_sets: int, small: int,
                                large: int, user_activity_association: str
                                ) -> list[ScenarioConfig]:
    """Scenario 3 a/b (exponential bow) (ref: evaluation_configs.py:313-358)."""
    out = []
    for set_type, sizes in _default_set_size_choices(small, large, num_sets).items():
        out.append(ScenarioConfig(
            name="-".join([
                "exponential_bow",
                f"user_activity_association:{user_activity_association}",
                f"universe_size:{universe_size}", f"small_set:{small}",
                f"large_set:{large}", f"set_type:{set_type}"]),
            set_generator_factory=(
                lambda rs, _a=user_activity_association, _s=list(sizes):
                sg.ExponentialBowSetGenerator(_a, universe_size, _s, rs)),
        ))
    return out


def generate_configs_scenario_4a(universe_size: int, num_sets: int, small: int,
                                 large: int) -> list[ScenarioConfig]:
    """Scenario 4a (fully overlapped) (ref: evaluation_configs.py:361-395)."""
    return [
        ScenarioConfig(
            name="-".join([
                "fully_overlapped", f"universe_size:{universe_size}",
                f"num_sets:{num_sets}", f"set_sizes:{size}"]),
            set_generator_factory=sg.FullyOverlapSetGenerator.factory_with_num_and_size(
                universe_size, num_sets, size),
        )
        for size in [small, large]
    ]


def generate_configs_scenario_4b(universe_size: int, num_sets: int, small: int,
                                 large: int, order: str) -> list[ScenarioConfig]:
    """Scenario 4b (subset campaigns) (ref: evaluation_configs.py:398-443)."""
    out = []
    for num_large in [1, num_sets // 2, num_sets - 1]:
        out.append(ScenarioConfig(
            name="-".join([
                "subset", f"universe_size:{universe_size}", f"order:{order}",
                f"num_large_sets:{num_large}",
                f"num_small_sets:{num_sets - num_large}",
                f"large_set_size:{large}", f"small_set_size:{small}"]),
            set_generator_factory=sg.SubSetGenerator.factory_with_num_and_size(
                order, universe_size, num_large, num_sets - num_large, large, small),
        ))
    return out


def generate_configs_scenario_5(num_sets: int, small: int, large: int, order: str,
                                shared_prop_list) -> list[ScenarioConfig]:
    """Scenario 5 (sequentially correlated) (ref: evaluation_configs.py:446-511)."""
    choices = {
        **_default_set_size_choices(small, large, num_sets),
        "large_then_last_small": [large] * (num_sets - 1) + [small],
        "all_large_except_middle_small": (
            [large] * (num_sets // 2) + [small]
            + [large] * (num_sets - 1 - num_sets // 2)),
        "1st_large_then_small": [large] + [small] * (num_sets - 1),
        "all_small_except_middle_large": (
            [small] * (num_sets // 2) + [large]
            + [small] * (num_sets - 1 - num_sets // 2)),
        "1st_half_large_2nd_half_small": (
            [large] * (num_sets // 2) + [small] * (num_sets - num_sets // 2)),
        "repeated_small_large": (
            [small, large] * (num_sets // 2)
            + ([] if num_sets % 2 == 0 else [small])),
    }
    out = []
    for correlated_sets in (sg.CORRELATED_ONE, sg.CORRELATED_ALL):
        for shared_prop in shared_prop_list:
            for set_type, sizes in choices.items():
                out.append(ScenarioConfig(
                    name="-".join([
                        "sequentially_correlated", f"order:{order}",
                        f"correlated_sets:{correlated_sets}",
                        f"shared_prop:{shared_prop}", f"set_type:{set_type}",
                        f"large_set_size:{large}", f"small_set_size:{small}"]),
                    set_generator_factory=(
                        lambda rs, _c=correlated_sets, _p=shared_prop, _s=list(sizes):
                        sg.SequentiallyCorrelatedSetGenerator(order, _c, _p, _s, rs)),
                ))
    return out


def generate_freq_configs_scenario_1(universe_size: int, num_sets: int,
                                     set_size: int) -> list[ScenarioConfig]:
    """Frequency scenario 1 (homogeneous) (ref: evaluation_configs.py:514-552)."""
    out = []
    for freq_rate, freq_cap in itertools.product([0.5, 1, 1.5, 2], [3, 5, 10]):
        out.append(ScenarioConfig(
            name="-".join([
                "homogeneous", f"universe_size:{universe_size}",
                f"num_sets:{num_sets}", f"freq_rate:{freq_rate}",
                f"freq_cap:{freq_cap}"]),
            set_generator_factory=(
                lambda rs, _r=freq_rate, _c=freq_cap: sg.HomogeneousMultiSetGenerator(
                    universe_size, [set_size] * num_sets, [_r] * num_sets, rs,
                    freq_cap=_c)),
        ))
    return out


def generate_freq_configs_scenario_2(universe_size: int, num_sets: int,
                                     set_size: int) -> list[ScenarioConfig]:
    """Frequency scenario 2 (heterogeneous gamma) (ref: evaluation_configs.py:555-593)."""
    out = []
    for rate, freq_cap in itertools.product([0.5, 1, 1.5, 2], [3, 5, 10]):
        out.append(ScenarioConfig(
            name="-".join([
                "heterogeneous", f"universe_size:{universe_size}",
                f"num_sets:{num_sets}", f"distribution_rate:{rate}",
                f"freq_cap:{freq_cap}"]),
            set_generator_factory=(
                lambda rs, _r=rate, _c=freq_cap: sg.HeterogeneousMultiSetGenerator(
                    universe_size, [set_size] * num_sets, [(1, _r)] * num_sets, rs,
                    freq_cap=_c)),
        ))
    return out


def generate_freq_configs_scenario_3(universe_size: int, num_sets: int,
                                     set_size: int) -> list[ScenarioConfig]:
    """Frequency scenario 3 (publisher-constant) (ref: evaluation_configs.py:596-633)."""
    return [
        ScenarioConfig(
            name="-".join([
                "publisher_constant_frequency", f"universe_size:{universe_size}",
                f"num_sets:{num_sets}", f"frequency:{frequency}"]),
            set_generator_factory=sg.PublisherConstantFrequencySetGenerator
            .factory_with_num_and_size(universe_size, num_sets, set_size, frequency),
        )
        for frequency in [2, 3, 5, 10]
    ]


# ---------------------------------------------------------------------------
# Named evaluation configs (ref: evaluation_configs.py:634-782)
# ---------------------------------------------------------------------------

def complete_test_with_selected_parameters(
    num_runs: int = NUM_RUNS_VALUE,
    universe_size: int = UNIVERSE_SIZE_VALUE,
    num_sets: int = NUM_SETS_VALUE,
    order: str = sg.ORDER_RANDOM,
    small_set_size_rate: float = SMALL_REACH_RATE_VALUE,
    large_set_size_rate: float = LARGE_REACH_RATE_VALUE,
    remarketing_rate: float = REMARKETING_RATE_VALUE,
    shared_prop_list=SHARED_PROP_LIST_VALUE,
) -> EvaluationConfig:
    """The reference's full reach evaluation grid
    (ref: evaluation_configs.py:634-737)."""
    small = int(small_set_size_rate * universe_size)
    large = int(large_set_size_rate * universe_size)
    scenarios = []
    scenarios += generate_configs_scenario_1_2(universe_size, num_sets, small, large)
    scenarios += generate_configs_scenario_1_2(
        universe_size, num_sets, small, large, remarketing_rate)
    scenarios += generate_configs_scenario_3(
        universe_size, num_sets, small, large, sg.USER_ACTIVITY_INDEPENDENT)
    scenarios += generate_configs_scenario_3(
        universe_size, num_sets, small, large, sg.USER_ACTIVITY_IDENTICAL)
    scenarios += generate_configs_scenario_4a(universe_size, num_sets, small, large)
    scenarios += generate_configs_scenario_4b(universe_size, num_sets, small, large, order)
    scenarios += generate_configs_scenario_5(num_sets, small, large, order, shared_prop_list)
    return EvaluationConfig(
        name="complete_test_with_selected_parameters",
        num_runs=num_runs,
        scenario_config_list=scenarios,
    )


def complete_frequency_test_with_selected_parameters(
    num_runs: int = NUM_RUNS_VALUE,
    universe_size: int = FREQ_UNIVERSE_SIZE,
    num_sets: int = NUM_SETS_VALUE_FREQ,
    set_size: int = SET_SIZE_FOR_FREQ,
) -> EvaluationConfig:
    """ref: evaluation_configs.py:636-669."""
    scenarios = []
    scenarios += generate_freq_configs_scenario_1(universe_size, num_sets, set_size)
    scenarios += generate_freq_configs_scenario_2(universe_size, num_sets, set_size)
    scenarios += generate_freq_configs_scenario_3(universe_size, num_sets, set_size)
    return EvaluationConfig(
        name="complete_frequency_test_with_selected_parameters",
        num_runs=num_runs,
        scenario_config_list=scenarios,
    )


def frequency_end_to_end_test(num_runs: int = NUM_RUNS_VALUE,
                              universe_size: int = 10_000) -> EvaluationConfig:
    """ref: evaluation_configs.py:758-782."""
    num_sets = 3
    set_size = int(universe_size * REACH_RATE_FREQ_END_TO_END_TEST)
    return EvaluationConfig(
        name="frequency_end_to_end_test",
        num_runs=num_runs,
        scenario_config_list=[ScenarioConfig(
            name="-".join(["subset", f"universe_size:{universe_size}",
                           f"num_sets:{num_sets}"]),
            set_generator_factory=(
                lambda rs: sg.HomogeneousMultiSetGenerator(
                    universe_size, [set_size] * num_sets, [1, 2, 3], rs, freq_cap=5)),
        )],
    )


def stress_test_cardinality_global_dp(num_runs: int = NUM_RUNS_VALUE,
                                      universe_size: int | None = None
                                      ) -> EvaluationConfig:
    """Disjoint single sets of growing reach (ref: evaluation_configs.py:739-756).
    Canonical implementation lives in configs.global_dp_stress_test."""
    from cardinality_estimation_evaluation_framework_spark.simulation.configs import (
        global_dp_stress_test,
    )

    return global_dp_stress_test(num_runs=num_runs, universe_size=universe_size)


# ---------------------------------------------------------------------------
# Cardinality estimator grid (ref: evaluation_configs.py:955-1437)
# ---------------------------------------------------------------------------

def _blip_noiser(epsilon):
    return lambda kernel, state, rng: BlipNoiser(epsilon, rng)(state)


def _adbf_config(sketch_name: str, dist_kind: str, method: str, length: int,
                 sketch_config: str, sketch_epsilon=None, estimate_epsilon=None,
                 estimate_delta=None, num_estimate_queries=None,
                 noise_type=None, epsilon_decimals=EPSILON_DECIMALS,
                 **dist_params) -> SketchEstimatorConfig:
    """Shared body of the log/exp/geo/uniform ADBF constructors
    (ref: evaluation_configs.py:1023-1225)."""
    estimate_noiser = None
    if estimate_epsilon is not None:
        if noise_type == GAUSSIAN_NOISE:
            estimate_noiser = (
                lambda rng, _e=estimate_epsilon, _d=estimate_delta,
                _q=num_estimate_queries or 1: GaussianEstimateNoiser(
                    _e, _d if _d is not None else 1e-5, num_queries=_q,
                    random_state=rng))
        else:
            eps_per_query = estimate_epsilon / (num_estimate_queries or 1)
            estimate_noiser = (
                lambda rng, _e=eps_per_query: GeometricEstimateNoiser(_e, rng))
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name=sketch_name, sketch_config=sketch_config,
            estimator_name=f"first_moment_{method}",
            sketch_epsilon=sketch_epsilon, estimate_epsilon=estimate_epsilon,
            estimate_delta=estimate_delta,
            num_estimate_queries=num_estimate_queries, noise_type=noise_type,
            epsilon_decimals=epsilon_decimals),
        kernel_factory=(
            lambda seed, _k=dist_kind, _m=length, _p=dict(dist_params):
            BloomKernel(dist_kind=_k, m=_m, seed=seed, **_p)),
        estimator=first_moment_estimator(
            method, SurrealDenoiser(epsilon=sketch_epsilon) if sketch_epsilon else None),
        sketch_noiser=_blip_noiser(sketch_epsilon) if sketch_epsilon else None,
        estimate_noiser=estimate_noiser,
    )


def log_bloom_filter_first_moment_log(length, sketch_epsilon=None,
                                      estimate_epsilon=None) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1023-1070."""
    return _adbf_config("log_bloom_filter", "log", "log", length, str(length),
                        sketch_epsilon, estimate_epsilon)


def geo_bloom_filter_first_moment_geo(length, sketch_epsilon=None,
                                      estimate_epsilon=None) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1073-1105 (probability = 2/length)."""
    probability = GEO_LENGTH_PROB_PRODUCT / length
    return _adbf_config("geo_bloom_filter", "geometric", "geo", length,
                        f"{length}_{probability:.6f}", sketch_epsilon,
                        estimate_epsilon, probability=probability)


def bloom_filter_first_moment_uniform(length, sketch_epsilon=None,
                                      estimate_epsilon=None) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1107-1149 (1 hash)."""
    cfg = _adbf_config("bloom_filter", "uniform", "uniform", length,
                       f"{length}_hash1", sketch_epsilon, estimate_epsilon)
    # the reference names this estimator 'union_estimator'
    cfg.name = cfg.name.replace("first_moment_uniform", "union_estimator")
    return cfg


def exp_bloom_filter_first_moment_exp(length, sketch_epsilon=None,
                                      estimate_epsilon=None, estimate_delta=None,
                                      num_estimate_queries=None,
                                      noise_type=GEOMETRIC_NOISE,
                                      epsilon_decimals=EPSILON_DECIMALS
                                      ) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1152-1225 (decay rate 10; budget-split
    geometric/gaussian global noise)."""
    if estimate_epsilon is not None and noise_type not in (GEOMETRIC_NOISE, GAUSSIAN_NOISE):
        raise ValueError(
            f'noise_type should be one of "{GEOMETRIC_NOISE}" and "{GAUSSIAN_NOISE}".')
    return _adbf_config(
        "exp_bloom_filter", "exponential", "exp", length, f"{length}_10",
        sketch_epsilon, estimate_epsilon, estimate_delta, num_estimate_queries,
        noise_type if estimate_epsilon is not None else None,
        epsilon_decimals, decay_rate=EXP_ADBF_DECAY_RATE)


def hll_plus() -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1000-1020."""
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="hyper_log_log_plus",
            sketch_config=str(HLL_PLUS_LENGTH),
            estimator_name="hll_cardinality"),
        kernel_factory=lambda seed: HllKernel(p=14, seed=seed),
        estimator=KERNEL_ESTIMATE,
    )


def _voc_laplace_noisers(sketch_epsilon, estimate_epsilon) -> dict:
    """Laplace noise on the VoC counts (local DP) and on the estimate (global)."""
    return dict(
        sketch_noiser=(
            (lambda kernel, state, rng: VocLaplaceNoiser(sketch_epsilon, rng)(state))
            if sketch_epsilon else None),
        estimate_noiser=(
            (lambda rng: LaplaceEstimateNoiser(estimate_epsilon, rng))
            if estimate_epsilon else None))


def vector_of_counts_4096_sequential(sketch_epsilon=None, estimate_epsilon=None
                                     ) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1242-1288."""
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="vector_of_counts", sketch_config="4096",
            estimator_name="sequential", sketch_epsilon=sketch_epsilon,
            estimate_epsilon=estimate_epsilon),
        kernel_factory=lambda seed: VocKernel(num_buckets=4096, seed=seed),
        estimator=lambda kernel, states: [sequential_estimate(states)],
        **_voc_laplace_noisers(sketch_epsilon, estimate_epsilon),
    )


def independent_set_estimator_config(sketch_epsilon=None, estimate_epsilon=None
                                     ) -> SketchEstimatorConfig:
    """VoC(1 bucket) + independence assumption over the universe
    (ref: evaluation_configs.py:957-997)."""
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="reach_using_voc", sketch_config="1",
            estimator_name=f"independent_estimator_universe{UNIVERSE_SIZE_VALUE}",
            sketch_epsilon=sketch_epsilon, estimate_epsilon=estimate_epsilon),
        kernel_factory=lambda seed: VocKernel(num_buckets=1, seed=seed),
        estimator=lambda kernel, states: IndependentSetEstimator(
            lambda sts: [sequential_estimate(sts)], UNIVERSE_SIZE_VALUE)(states),
        **_voc_laplace_noisers(sketch_epsilon, estimate_epsilon),
    )


def liquid_legions_sequential(flip_probability: float | None = None
                              ) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1227-1239 (a=10, m=1e5; ln3 blip or clean)."""
    noise_tag = "ln3" if flip_probability else "infty"
    noiser = None
    if flip_probability:
        noiser = (lambda kernel, state, rng, _p=flip_probability:
                  kernel.add_dp_noise(state, _p, rng))
    return SketchEstimatorConfig(
        name=f"liquid_legions-1e5_10-{noise_tag}-sequential",
        kernel_factory=lambda seed: LiquidLegionsKernel(a=10, m=10**5, seed=seed),
        estimator=KERNEL_ESTIMATE,
        sketch_noiser=noiser,
    )


def _meta_voc_estimator(voc_length, sketch_epsilon):
    def estimator(kernel, states):
        noiser = (VocLaplaceNoiser(sketch_epsilon, np.random.RandomState())
                  if sketch_epsilon else None)
        return MetaVocEstimator(kernel, num_buckets=int(voc_length),
                                meta_sketch_noiser=noiser)(states)

    return estimator


def meta_voc_for_exp_adbf(adbf_length, adbf_decay_rate, voc_length,
                          sketch_epsilon=None) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1290-1329."""
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="exp_bloom_filter",
            sketch_config=f"{adbf_length}_{adbf_decay_rate}",
            estimator_name=f"meta_voc_{voc_length}",
            sketch_epsilon=sketch_epsilon),
        kernel_factory=(
            lambda seed, _m=int(adbf_length), _d=adbf_decay_rate: BloomKernel(
                dist_kind="exponential", m=_m, seed=seed, decay_rate=_d)),
        estimator=_meta_voc_estimator(voc_length, sketch_epsilon),
    )


def meta_voc_for_bf(bf_length, voc_length, sketch_epsilon=None) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1332-1364."""
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="bloom_filter", sketch_config=f"{bf_length}",
            estimator_name=f"meta_voc_{voc_length}",
            sketch_epsilon=sketch_epsilon),
        kernel_factory=(
            lambda seed, _m=int(bf_length): BloomKernel(
                dist_kind="uniform", m=_m, seed=seed)),
        estimator=_meta_voc_estimator(voc_length, sketch_epsilon),
    )


def generate_cardinality_estimator_configs() -> tuple[SketchEstimatorConfig, ...]:
    """The reference's full cardinality registry
    (ref: evaluation_configs.py:1367-1437) — same loops, same order."""
    configs: list[SketchEstimatorConfig] = []
    for constructor in (log_bloom_filter_first_moment_log,
                        exp_bloom_filter_first_moment_exp,
                        geo_bloom_filter_first_moment_geo):
        for length in ADBF_LENGTH_LIST:
            for sketch_epsilon in SKETCH_EPSILON_VALUES:
                for estimate_epsilon in ESTIMATE_EPSILON_VALUES:
                    configs.append(constructor(length, sketch_epsilon, estimate_epsilon))

    for length in ADBF_LENGTH_LIST:
        for estimate_epsilon, estimate_delta in ESTIMATE_EPSILON_DELTA_VALUES:
            for num_estimate_queries in NUM_ESTIMATE_QUERIES_VALUES:
                for noise_type in [GAUSSIAN_NOISE, GEOMETRIC_NOISE]:
                    configs.append(exp_bloom_filter_first_moment_exp(
                        length, estimate_epsilon=estimate_epsilon,
                        estimate_delta=estimate_delta,
                        num_estimate_queries=num_estimate_queries,
                        noise_type=noise_type))

    for length in ADBF_LENGTH_LIST:
        for estimate_epsilon in GLOBAL_DP_LIMIT_TEST_EPSILON_VALUES:
            configs.append(exp_bloom_filter_first_moment_exp(
                length, sketch_epsilon=None, estimate_epsilon=estimate_epsilon,
                epsilon_decimals=EPSILON_DECIMALS_LIMIT_TEST))

    for sketch_epsilon in SKETCH_EPSILON_VALUES:
        for estimate_epsilon in ESTIMATE_EPSILON_VALUES:
            configs.append(vector_of_counts_4096_sequential(
                sketch_epsilon, estimate_epsilon))

    for sketch_epsilon in SKETCH_EPSILON_VALUES:
        for estimate_epsilon in ESTIMATE_EPSILON_VALUES:
            configs.append(independent_set_estimator_config(
                sketch_epsilon, estimate_epsilon))

    configs.append(hll_plus())

    for voc_length in VOC_LENGTH_LIST:
        for adbf_length in ADBF_LENGTH_LIST:
            for local_epsilon in SKETCH_EPSILON_VALUES:
                configs.append(meta_voc_for_exp_adbf(
                    adbf_length=adbf_length, adbf_decay_rate=EXP_ADBF_DECAY_RATE,
                    voc_length=voc_length, sketch_epsilon=local_epsilon))

    for voc_length in VOC_LENGTH_LIST:
        for bf_length in BLOOM_FILTERS_LENGTH_LIST:
            for local_epsilon in SKETCH_EPSILON_VALUES:
                configs.append(meta_voc_for_bf(
                    bf_length=bf_length, voc_length=voc_length,
                    sketch_epsilon=local_epsilon))

    return tuple(configs)


# ---------------------------------------------------------------------------
# Frequency estimator grid (ref: evaluation_configs.py:1440-1727)
# ---------------------------------------------------------------------------

def _stratified_estimator(op_factory, estimate_one, sketch_epsilon=None,
                          epsilon_split: float = 0.0):
    """Pairwise-convolution sequential estimate; blipped inputs are
    Surreal-denoised per level before merging (denoise-before-merge — the
    operators assume clean register probabilities)."""

    def estimator(kernel, states):
        if sketch_epsilon:
            states = [
                denoise_stratified(
                    s, lambda e: SurrealDenoiser(epsilon=e), sketch_epsilon,
                    epsilon_split)
                for s in states
            ]
        pe = StratifiedPairwiseEstimator(op_factory(), estimate_one)
        return stratified_sequential_estimate(states, pe)

    return estimator


def stratified_sketch_vector_of_counts(max_frequency, clip, length,
                                       sketch_epsilon=None) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1440-1496."""
    eps_float = sketch_epsilon if sketch_epsilon is not None else float("inf")
    op_factory = lambda: VocSetOperator(clip=clip, epsilon=eps_float)
    clip_str = "clip" if clip else "no_clip"
    noiser = None
    if sketch_epsilon is not None:
        def noiser(kernel, ss, rng, _e=sketch_epsilon):
            return noise_stratified(
                ss, lambda e, r: VocLaplaceNoiser(e, r), _e, rng, epsilon_split=0.0)
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="stratified_sketch_vector_of_counts",
            sketch_config=str(length),
            estimator_name=f"sequential_{clip_str}",
            sketch_epsilon=sketch_epsilon,
            max_frequency=str(max_frequency)),
        kernel_factory=(
            lambda seed, _n=int(length), _mf=max_frequency: StratifiedDriverKernel(
                VocKernel(num_buckets=_n, seed=seed), _mf)),
        # VoC states are linear in the noise, so no denoise step; the clip
        # operator handles noisy negatives (ref: vector_of_counts_sketch_operator)
        estimator=_stratified_estimator(
            op_factory, lambda st: sequential_estimate([st], clip=clip,
                                                       epsilon=eps_float)),
        sketch_noiser=noiser,
        max_frequency=max_frequency,
    )


def _stratified_adbf(sketch_name: str, dist_kind: str, method: str,
                     sketch_config: str, length: int, max_frequency: int,
                     sketch_epsilon, global_epsilon, operator_factory,
                     estimator_name: str,
                     epsilon_split: float = STRATIFIED_EXP_ADBF_EPSILON_SPLIT,
                     **dist_params) -> SketchEstimatorConfig:
    """Shared body of the stratified geo/exp ADBF constructors
    (ref: evaluation_configs.py:1453-1639)."""
    noiser = None
    if sketch_epsilon is not None:
        def noiser(kernel, ss, rng, _e=sketch_epsilon, _s=epsilon_split):
            return noise_stratified(
                ss, lambda e, r: BlipNoiser(e, r), _e, rng, epsilon_split=_s)

    estimate_noiser = (
        (lambda rng: GeometricEstimateNoiser(global_epsilon, rng))
        if global_epsilon is not None else None)

    def estimate_one(st, _method=method):
        # base kernel captured at estimator call-time via closure over config
        return first_moment_estimate(estimate_one.kernel, st, method=_method)

    def estimator(kernel, states):
        estimate_one.kernel = kernel.base
        inner = _stratified_estimator(
            operator_factory(kernel), estimate_one,
            sketch_epsilon=sketch_epsilon,
            epsilon_split=epsilon_split if sketch_epsilon else 0.0)
        return inner(kernel, states)

    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name=sketch_name, sketch_config=sketch_config,
            estimator_name=estimator_name, sketch_epsilon=sketch_epsilon,
            estimate_epsilon=global_epsilon, max_frequency=str(max_frequency)),
        kernel_factory=(
            lambda seed, _k=dist_kind, _m=int(length), _mf=max_frequency,
            _p=dict(dist_params): StratifiedDriverKernel(
                BloomKernel(dist_kind=_k, m=_m, seed=seed, **_p), _mf)),
        estimator=estimator,
        sketch_noiser=noiser,
        estimate_noiser=estimate_noiser,
        max_frequency=max_frequency,
    )


def stratified_sketch_geo_adbf(max_frequency, length, sketch_epsilon,
                               global_epsilon,
                               epsilon_split=STRATIFIED_EXP_ADBF_EPSILON_SPLIT
                               ) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1453-1551."""
    probability = GEO_LENGTH_PROB_PRODUCT / length
    return _stratified_adbf(
        "stratified_sketch_geo_adbf", "geometric", "geo",
        f"{length}_{probability:.6f}", length, max_frequency, sketch_epsilon,
        global_epsilon,
        operator_factory=lambda kernel: (
            lambda: ExpectationAdbfOperator(kernel.base, method="geo")),
        estimator_name="first_moment_estimator_geo_expectation",
        epsilon_split=epsilon_split, probability=probability)


def stratified_sketch_exp_adbf(max_frequency, length, sketch_epsilon,
                               global_epsilon, sketch_operator_type,
                               epsilon_split=STRATIFIED_EXP_ADBF_EPSILON_SPLIT
                               ) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1554-1639."""
    if sketch_operator_type == SKETCH_OPERATOR_EXPECTATION:
        op_cls = ExpectationAdbfOperator
    elif sketch_operator_type == SKETCH_OPERATOR_BAYESIAN:
        op_cls = BayesianAdbfOperator
    else:
        raise ValueError(
            f'sketch operator should be one of "{SKETCH_OPERATOR_BAYESIAN}" '
            f'and "{SKETCH_OPERATOR_EXPECTATION}".')
    return _stratified_adbf(
        "stratified_sketch_exp_adbf", "exponential", "exp",
        f"{length}_{EXP_ADBF_DECAY_RATE}", length, max_frequency,
        sketch_epsilon, global_epsilon,
        operator_factory=lambda kernel, _c=op_cls: (
            lambda: _c(kernel.base, method="exp")),
        estimator_name=f"first_moment_estimator_exp_{sketch_operator_type}",
        epsilon_split=epsilon_split, decay_rate=EXP_ADBF_DECAY_RATE)


def exact_multi_set_config(max_frequency) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1642-1652."""
    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="exact_multi_set", sketch_config="10000",
            estimator_name="lossless", max_frequency=str(int(max_frequency))),
        kernel_factory=lambda seed: ExactMultiSetKernel(),
        estimator=lossless_estimator(max_frequency),
        max_frequency=max_frequency,
    )


def exp_same_key_aggregator_config(max_frequency, global_epsilon, length
                                   ) -> SketchEstimatorConfig:
    """ref: evaluation_configs.py:1655-1686."""
    noiser_class = GeometricEstimateNoiser if global_epsilon is not None else None

    def finalize(kernel, acc):
        # split the budget between the 1+ reach and the histogram
        # (ref: same_key_aggregator.py StandardizedHistogramEstimator noisers)
        reach_noiser = hist_noiser = None
        if noiser_class:
            reach_noiser = noiser_class(global_epsilon / 2, np.random.RandomState())
            hist_noiser = noiser_class(global_epsilon / 2, np.random.RandomState())
        return standardized_histogram_estimate(
            kernel, acc, max_freq=max_frequency,
            reach_noiser=reach_noiser, histogram_noiser=hist_noiser)

    return SketchEstimatorConfig(
        name=construct_sketch_estimator_config_name(
            sketch_name="exp_same_key_aggregator",
            sketch_config=f"{int(length)}_10",
            estimator_name="standardized_histogram",
            estimate_epsilon=global_epsilon,
            max_frequency=str(max_frequency)),
        kernel_factory=(
            lambda seed, _m=int(length): SameKeyAggregatorKernel(
                m=_m, decay_rate=EXP_ADBF_DECAY_RATE, seed=seed)),
        estimator=UnionEstimator(finalize),
        max_frequency=max_frequency,
    )


def generate_frequency_estimator_configs(max_frequency: int
                                         ) -> tuple[SketchEstimatorConfig, ...]:
    """ref: evaluation_configs.py:1689-1727 — same loops, same order."""
    configs: list[SketchEstimatorConfig] = []
    for epsilon, clip, length in itertools.product(
            SKETCH_EPSILON_VALUES, [False, True], VOC_LENGTH_LIST):
        configs.append(stratified_sketch_vector_of_counts(
            max_frequency, clip, length, epsilon))

    for sketch_epsilon, global_epsilon, length, op_type in itertools.product(
            SKETCH_EPSILON_VALUES, ESTIMATE_EPSILON_VALUES, ADBF_LENGTH_LIST,
            SKETCH_OPERATOR_LIST):
        configs.append(stratified_sketch_exp_adbf(
            max_frequency, length, sketch_epsilon, global_epsilon, op_type))

    for sketch_epsilon, global_epsilon, length in itertools.product(
            SKETCH_EPSILON_VALUES, ESTIMATE_EPSILON_VALUES, ADBF_LENGTH_LIST):
        configs.append(stratified_sketch_geo_adbf(
            max_frequency, length, sketch_epsilon, global_epsilon))

    configs.append(exact_multi_set_config(max_frequency))

    for global_epsilon, length in itertools.product(
            ESTIMATE_EPSILON_VALUES, ADBF_LENGTH_LIST):
        configs.append(exp_same_key_aggregator_config(
            max_frequency, global_epsilon, length))

    return tuple(configs)


# ---------------------------------------------------------------------------
# Registry lookup (ref: evaluation_configs.py:784-813, 1730-1762)
# ---------------------------------------------------------------------------

def get_estimator_configs_by_name(estimator_names: list[str], max_frequency: int
                                  ) -> list[SketchEstimatorConfig]:
    """Full-registry name lookup (ref: evaluation_configs.py:1730-1762).
    Duplicate names (the reference grid generates some) collapse dict-style,
    exactly like the reference's ``{conf.name: conf}``."""
    if not estimator_names:
        raise ValueError("No estimators were specified.")
    all_estimators = {
        conf.name: conf
        for conf in (generate_cardinality_estimator_configs()
                     + generate_frequency_estimator_configs(max_frequency))
    }
    found = [all_estimators[c] for c in estimator_names if c in all_estimators]
    if len(found) == len(estimator_names):
        return found
    invalid = [c for c in estimator_names if c not in all_estimators]
    raise ValueError(
        "Invalid estimator(s): {}\nSupported estimators: {}".format(
            ",".join(invalid), ",\n".join(all_estimators.keys())))
